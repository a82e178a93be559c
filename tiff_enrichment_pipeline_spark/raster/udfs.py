"""Arrow-batched raster UDFs + the per-capture grouped-map processor.

Three UDF shapes only (SURVEY.md §2.10, input_hint: no per-row Python):

1. scalar iterator pandas UDFs — per-image decode→stat reductions;
2. grouped-map ``applyInPandas`` — per-capture band alignment + calibration
   + 8 vegetation indices (the reference's process_single_set,
   src/pipeline/micasense/core/processor.py:177-298, re-expressed as a
   5-rows-in → 1-row-out grouped transform);
3. (grouped-agg UDFs live with their queries.)

The pandas UDFs are built on each call, never at import: a UDF object
caches its JVM function, and with it the Python accumulator of the
SparkContext it was first used in — after a session restart its workers
would report to that context's closed socket ("Failed to update
accumulator … Broken pipe").

Scale notes: groupBy(capture_id) is one of the engine's two real shuffles
(SURVEY.md §3.1). capture_id is high-cardinality and uniformly hashed, so
geographic hot-cell skew does NOT skew this shuffle. Payload bytes ride the
shuffle once; Arrow batch size bounds executor memory like the reference's
1024² windowing (utils/rasterio_utils.py:208-233).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType

from tiff_enrichment_pipeline_spark.functions.geo import (
    EARTH_RADIUS_M,
    FOCAL_MM,
    SENSOR_H_MM,
    SENSOR_H_PX,
    SENSOR_W_MM,
    SENSOR_W_PX,
)
from tiff_enrichment_pipeline_spark.raster import codec, kernels

CAPTURE_RESULT_SCHEMA = (
    "capture_id string, n_bands int, w int, h int, "
    "lat double, lon double, alt double, "
    "crs string, transform_a double, transform_e double, "
    "ndvi_mean double, ndre_mean double, gndvi_mean double, savi_mean double, "
    "msavi_mean double, evi_mean double, osavi_mean double, ndwi_mean double, "
    "veg_pct double, dense_veg_pct double, "
    "ndvi_packed binary, psnr_min_db double, status string"
)


def _transform_from_gps(
    lat: float, lon: float, alt: float, w: int, h: int
) -> tuple[float, float, float, float, float, float]:
    """GPS → affine transform, numpy twin of functions.geo (reference math:
    core/processor.py:98-133 — GSD, m/deg, px size, from_origin)."""
    gsd_x = SENSOR_W_MM * alt / (FOCAL_MM * SENSOR_W_PX)
    gsd_y = SENSOR_H_MM * alt / (FOCAL_MM * SENSOR_H_PX)
    m_lat = 2.0 * np.pi * EARTH_RADIUS_M / 360.0
    m_lon = m_lat * np.cos(np.radians(lat))
    px = gsd_x / m_lon
    py = gsd_y / m_lat
    west = lon - w / 2.0 * px
    north = lat + h / 2.0 * py
    return (px, 0.0, west, 0.0, -py, north)


def process_capture_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """One MicaSense capture (≤5 band rows) → one enriched result row.

    Mirrors the reference lifecycle (processor.py:177-298): georeference →
    align bands onto the band-3 grid (processor.py:300-359) → calibrate
    (:361-399) → 8 indices (:401-477) → QC scalars. Incomplete sets (<5
    bands) are routed to status='incomplete_set' like main.py:90-99.
    """
    cap = pdf["capture_id"].iloc[0]
    out = {
        "capture_id": cap, "n_bands": int(len(pdf)),
        "w": None, "h": None, "lat": None, "lon": None, "alt": None,
        "crs": None, "transform_a": None, "transform_e": None,
        **{f"{k}_mean": None for k in kernels.ALL_INDICES},
        "veg_pct": None, "dense_veg_pct": None,
        "ndvi_packed": None, "psnr_min_db": None, "status": "failed",
    }
    try:
        bands_present = set(pdf["band"].tolist())
        if bands_present != {1, 2, 3, 4, 5}:
            out["status"] = "incomplete_set"
            return pd.DataFrame([out])

        pdf = pdf.sort_values("band")  # sorted band order, processor.py:325
        ref_row = pdf[pdf["band"] == 3].iloc[0]
        w, h = int(ref_row["w"]), int(ref_row["h"])
        lat, lon, alt = ref_row["lat"], ref_row["lon"], ref_row["alt"]

        georeferenced = lat is not None and not pd.isna(lat)
        if georeferenced:
            dst_t = _transform_from_gps(float(lat), float(lon), float(alt), w, h)
        else:
            dst_t = (1.0, 0.0, 0.0, 0.0, -1.0, 0.0)  # unit transform fallback

        aligned: dict[str, np.ndarray] = {}
        psnrs: list[float] = []
        for _, row in pdf.iterrows():
            raw = codec.decode(row["bytes"], int(row["w"]), int(row["h"]), row["fmt"])
            if not codec.is_lossless(row["fmt"]):
                # lossy invariant bookkeeping vs the 12-bit quantization
                psnrs.append(codec.psnr_db((raw >> 4) << 4, raw))
            name = kernels.BAND_NAMES[int(row["band"])]
            if int(row["band"]) == 3 or not georeferenced:
                arr = raw  # band-3 grid is the reference grid
            else:
                src_t = _transform_from_gps(
                    float(lat), float(lon), float(alt), int(row["w"]), int(row["h"])
                )
                arr = kernels.align_band(raw, src_t, dst_t, (h, w))
            aligned[name] = kernels.calibrate(arr, 1.0)  # dn already reflectance-scaled

        idx_vals: dict[str, np.ndarray] = {
            k: fn(aligned) for k, fn in kernels.ALL_INDICES.items()
        }
        veg, dense = kernels.veg_coverage(idx_vals["ndvi"])
        out.update(
            {
                "w": w, "h": h,
                "lat": None if pd.isna(lat) else float(lat),
                "lon": None if pd.isna(lon) else float(lon),
                "alt": None if pd.isna(alt) else float(alt),
                "crs": "EPSG:4326" if georeferenced else None,
                "transform_a": dst_t[0], "transform_e": dst_t[4],
                **{f"{k}_mean": float(v.mean()) for k, v in idx_vals.items()},
                "veg_pct": veg, "dense_veg_pct": dense,
                "ndvi_packed": kernels.pack_index_u16(idx_vals["ndvi"]).tobytes(),
                "psnr_min_db": min(psnrs) if psnrs else None,
                "status": "completed",
            }
        )
    except Exception as e:  # per-capture failure routing (main.py:232-265)
        out["status"] = f"failed:{type(e).__name__}"
    return pd.DataFrame([out])


def process_captures(images: DataFrame) -> DataFrame:
    """groupBy(capture_id).applyInPandas over band rows → capture results."""
    cols = [
        "capture_id", "band", "bytes", "w", "h", "fmt", "lat", "lon", "alt",
    ]
    return (
        images.select(*cols)
        .groupBy("capture_id")
        .applyInPandas(process_capture_group, schema=CAPTURE_RESULT_SCHEMA)
    )


CAPTURE_NDVI_REL_SCHEMA = (
    "capture_id string, status string, n_px long, veg_cnt long, "
    "dense_cnt long, ndvi_packed_sum long, ndvi_packed_min int, "
    "ndvi_packed_max int"
)


def capture_ndvi_rel_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """NDVI slice of the capture lifecycle as INTEGER-exact aggregates —
    the SQL-oracle-expressible projection of ``process_capture_group``
    (VERDICT r5 #2). Decodes the red(3)/nir(4) band payloads through the
    real codec dispatch (raw/lossy/png/tiff — all four fixture formats;
    png and tiff are lossless, so a SQL oracle reconstructs the same
    pixel VALUES without reproducing the encodings), calibrates with the
    pipeline's identity scale, computes kernels.ndvi (guarded float32)
    and emits the vegetation-threshold counts behind veg_pct/dense_veg_pct
    (processing/indices.py:106-117) plus sum/min/max of the u16-packed
    index (processor.py:419 packing). All outputs are integers, so the
    DuckDB twin matches hash-exactly; the float percentages are derived
    in Catalyst by the caller with the same IEEE op sequence numpy uses
    (cnt/n in float64, one multiply). Alignment is skipped: every band of
    a capture shares one grid+geotag, so the pipeline's resample is an
    identity — pinned against the FULL process_capture_group output by
    tests/test_capture_pipeline.py::test_capture_rel_slice_matches_full.
    """
    cap = pdf["capture_id"].iloc[0]
    out = {
        "capture_id": cap, "status": "failed", "n_px": None,
        "veg_cnt": None, "dense_cnt": None, "ndvi_packed_sum": None,
        "ndvi_packed_min": None, "ndvi_packed_max": None,
    }
    try:
        by_band = {int(r["band"]): r for _, r in pdf.iterrows()}
        if not {3, 4} <= by_band.keys():
            out["status"] = "incomplete_set"
            return pd.DataFrame([out])
        planes = {}
        for b, name in ((3, "red"), (4, "nir")):
            row = by_band[b]
            raw = codec.decode(
                row["bytes"], int(row["w"]), int(row["h"]), row["fmt"]
            )
            planes[name] = kernels.calibrate(raw, 1.0)
        nd = kernels.ndvi(planes["nir"], planes["red"])
        veg_mask = (nd > 0.2) & (nd <= 1.0)
        dense_mask = (nd > 0.5) & (nd <= 1.0)
        packed = kernels.pack_index_u16(nd)
        out.update(
            {
                "status": "completed",
                "n_px": int(nd.size),
                "veg_cnt": int(veg_mask.sum()),
                "dense_cnt": int(dense_mask.sum()),
                "ndvi_packed_sum": int(packed.sum(dtype=np.int64)),
                "ndvi_packed_min": int(packed.min()),
                "ndvi_packed_max": int(packed.max()),
            }
        )
    except Exception as e:  # same failure routing as the full pipeline
        out["status"] = f"failed:{type(e).__name__}"
    return pd.DataFrame([out])


def capture_ndvi_rel(images: DataFrame) -> DataFrame:
    """NDVI-slice aggregates per capture. Band-prunes to red/nir BEFORE
    the capture_id shuffle — 2/5 of the payload bytes ride the exchange
    (the scan itself already prunes the other columns)."""
    cols = ["capture_id", "band", "bytes", "w", "h", "fmt"]
    return (
        images.filter(F.col("band").isin(3, 4))
        .select(*cols)
        .groupBy("capture_id")
        .applyInPandas(capture_ndvi_rel_group, schema=CAPTURE_NDVI_REL_SCHEMA)
    )


def psnr_vs_q12(payload, w, h, fmt) -> Column:
    """Per-image PSNR of payload vs its 12-bit-quantized self — the lossy
    invariant column (input_hint: PSNR ≥ 40 dB for lossy fmt)."""
    return F.pandas_udf(DoubleType())(_psnr_vs_q12)(payload, w, h, fmt)


def _psnr_vs_q12(
    it: Iterator[tuple[pd.Series, pd.Series, pd.Series, pd.Series]],
) -> Iterator[pd.Series]:
    for payload, w, h, fmt in it:
        vals = np.full(len(payload), np.nan)
        for i in range(len(payload)):
            b = payload.iloc[i]
            if b is None:
                continue
            arr = codec.decode(b, int(w.iloc[i]), int(h.iloc[i]), fmt.iloc[i])
            vals[i] = codec.psnr_db((arr >> 4) << 4, arr)
        yield pd.Series(vals)


def decode_status(payload, w, h, fmt) -> Column:
    """'ok' | 'corrupt' | 'unsupported' | 'missing' — the quarantine gate.

    At 100 TB corrupt objects are a certainty (truncated uploads, bit
    rot); a decode raising inside a transform UDF fails the whole task ×
    maxFailures and then the job. This probe catches ANY decode error and
    turns it into a routable status column so bad rows quarantine to a
    side table while the pipeline proceeds (the reference's integrity
    check + error-JSONB pattern, utils/rasterio_utils.py:118-155,
    create-tables.sql error columns).

    'unsupported' (NotImplementedError: a VALID payload whose codec/
    variant is gated in this environment — e.g. JPEG-in-TIFF without
    Pillow) is deliberately distinct from 'corrupt': the former is intact
    data that decodes elsewhere, the latter is damaged data — conflating
    them would make quarantine routing depend on the environment instead
    of data integrity."""
    return F.pandas_udf(StringType())(_decode_status)(payload, w, h, fmt)


def _decode_status(
    it: Iterator[tuple[pd.Series, pd.Series, pd.Series, pd.Series]],
) -> Iterator[pd.Series]:
    for payload, w, h, fmt in it:
        out = []
        for i in range(len(payload)):
            b = payload.iloc[i]
            if b is None:
                out.append("missing")
                continue
            try:
                codec.decode(b, int(w.iloc[i]), int(h.iloc[i]), fmt.iloc[i])
                out.append("ok")
            except NotImplementedError:
                out.append("unsupported")
            except Exception:
                out.append("corrupt")
        yield pd.Series(out)
