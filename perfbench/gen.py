"""Seeded input generators, one per workload.

Every generator takes a ``numpy.random.Generator`` built from ``--seed`` and
a directory to write into, writes parquet files there, and returns
``(paths, props)``: where the inputs are and the input properties recorded
in the run output (row counts, geometry shares, station and polygon counts,
the format mix, the corrupt count, the embedding shape).

Nothing here calls into the engine package except the codec encoders (the
payload writers are the package's own, so every decode branch receives a
payload its encoder really emits) and the geometry constants.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tiff_enrichment_pipeline_spark import geotables as gt

# the enrichment box the DEM and the land-cover tiling cover
NL_BOX = (gt.NL_LON0, gt.NL_LAT0, gt.NL_LON0 + gt.NL_LON_SPAN,
          gt.NL_LAT0 + gt.NL_LAT_SPAN)
# geotables.images_geo multiplies keys by 2654435761; staying below this
# keeps the product inside int64 (ANSI mode throws on long overflow)
MAX_ORDER_KEY = 3_400_000_000
EPOCH = np.datetime64("1970-01-01")

# observation history of the generated weather dimensions
OBS_LO = np.datetime64("1998-01-01")
OBS_DAYS = 730


def obs_values(sid: np.ndarray, day: np.ndarray) -> dict[str, np.ndarray]:
    """Weather payload of (station, day-since-OBS_LO): the integer
    arithmetic of geotables.weather_observations, so the checks can
    recompute any value exactly."""
    return {
        "obs_temp_c": ((sid * 131 + day * 17) % 600) / 10.0 - 20.0,
        "obs_wind_ms": ((sid * 37 + day * 11) % 250) / 10.0,
        "obs_precip_mm": ((sid * 53 + day * 7) % 80) / 10.0,
    }


def _points(rng, n: int, shares: dict[str, float]):
    """lon/lat with the given shares of NL box, hot cluster, world-wide and
    NULL GPS (NaN here, NULL in parquet)."""
    kinds = np.array(list(shares))
    kind = rng.choice(len(kinds), size=n, p=np.array(list(shares.values())))
    lon = np.empty(n)
    lat = np.empty(n)
    for i, k in enumerate(kinds):
        m = kind == i
        c = int(m.sum())
        if k == "nl":
            lon[m] = rng.uniform(NL_BOX[0], NL_BOX[2], c)
            lat[m] = rng.uniform(NL_BOX[1], NL_BOX[3], c)
        elif k == "hot":
            lon[m] = gt.HOT_LON + rng.uniform(-0.5, 0.5, c) * gt.HOT_SPAN
            lat[m] = gt.HOT_LAT + rng.uniform(-0.5, 0.5, c) * gt.HOT_SPAN
        elif k == "world":
            lon[m] = rng.uniform(-180.0, 180.0, c)
            lat[m] = np.degrees(np.arcsin(rng.uniform(-1.0, 1.0, c)))
        else:  # "null"
            lon[m] = np.nan
            lat[m] = np.nan
    counts = {str(k): int((kind == i).sum()) for i, k in enumerate(kinds)}
    return lon, lat, counts


def _nullable(a: np.ndarray) -> pa.Array:
    return pa.array(a, mask=np.isnan(a))


def _stations(rng, n: int, pad: float = 0.3) -> pa.Table:
    """Stations scattered over the NL box plus a margin; station_id ascends
    with gaps (ids are not positions)."""
    ids = np.sort(rng.choice(10 * n, size=n, replace=False)).astype(np.int64) + 1
    lon = rng.uniform(NL_BOX[0] - pad, NL_BOX[2] + pad, n)
    lat = rng.uniform(NL_BOX[1] - pad, NL_BOX[3] + pad, n)
    return pa.table({
        "station_id": ids,
        "st_lon": lon,
        "st_lat": lat,
        "temp_c": np.round(rng.uniform(-5.0, 30.0, n), 2),
        "wind_ms": np.round(rng.uniform(0.0, 20.0, n), 1),
        "precip_mm": np.round(rng.uniform(0.0, 5.0, n), 1),
    })


def _timestamps(rng, n: int, lo: str, hi: str) -> np.ndarray:
    a = np.datetime64(lo, "s").astype(np.int64)
    b = np.datetime64(hi, "s").astype(np.int64)
    return rng.integers(a, b, n).astype("datetime64[s]")


def _packed_obs(station_ids: np.ndarray) -> pa.Table:
    """The packed (one row per station, struct-of-arrays) observation
    dimension over [OBS_LO, OBS_LO + OBS_DAYS): the layout
    operators.knn_join.pack_observations_columnar builds, kept as its own
    table the way a production pipeline persists it."""
    day = np.arange(OBS_DAYS, dtype=np.int64)
    n = len(station_ids)
    lo = int((OBS_LO - EPOCH).astype(np.int64))
    cols = {
        "station_id": pa.array(station_ids),
        "_obs_lo": pa.array(np.full(n, lo, np.int32), pa.date32()),
        "_obs_hi": pa.array(np.full(n, lo + OBS_DAYS - 1, np.int32), pa.date32()),
        "_obs_dense": pa.array(np.ones(n, bool)),
        "_obs_days": pa.nulls(n, pa.list_(pa.int32())),
    }
    vals = obs_values(station_ids[:, None], day[None, :])
    offsets = pa.array(np.arange(0, (n + 1) * OBS_DAYS, OBS_DAYS, dtype=np.int32))
    for name, v in vals.items():
        cols[f"_obsv_{name}"] = pa.ListArray.from_arrays(
            offsets, pa.array(v.ravel())
        )
    return pa.table(cols)


def _row_obs(station_ids: np.ndarray) -> pa.Table:
    """Row-level (station_id, obs_date) observation dimension."""
    day = np.arange(OBS_DAYS, dtype=np.int64)
    sid = np.repeat(station_ids, OBS_DAYS)
    d = np.tile(day, len(station_ids))
    lo = int((OBS_LO - EPOCH).astype(np.int64))
    return pa.table({
        "station_id": sid,
        "obs_date": pa.array((d + lo).astype(np.int32), pa.date32()),
        **obs_values(sid, d),
    })


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

def cli_batch(rng, out: str, n_orders: int = 400, n_suppliers: int = 40):
    """orders.parquet + supplier.parquet in the TPC-H shape of the testdata: the
    CLI derives images, stations and the observation history from them."""
    keys = np.sort(rng.choice(MAX_ORDER_KEY, size=n_orders, replace=False))
    keys = keys.astype(np.int64) + 1
    # 1993-07..2002-06: ~1/4 of the orders fall outside the 1995-2001
    # observation history, so their weather resolves to NULL
    lo = np.datetime64("1993-07-01")
    days = rng.integers(0, 9 * 365, n_orders)
    dates = (lo + days).astype("datetime64[D]")
    pq.write_table(
        pa.table({"o_orderkey": keys, "o_orderdate": pa.array(dates)}),
        os.path.join(out, "orders.parquet"),
    )
    pq.write_table(
        pa.table({"s_suppkey": np.arange(1, n_suppliers + 1, dtype=np.int64)}),
        os.path.join(out, "supplier.parquet"),
    )
    sel = keys % 10
    in_hist = (dates >= np.datetime64(gt.OBS_START)) & (
        dates <= np.datetime64(gt.OBS_END)
    )
    props = {
        "orders": n_orders,
        "suppliers": n_suppliers,
        "share_hot": round(float((sel < 2).mean()), 4),
        "share_nl": round(float(((sel >= 2) & (sel < 8)).mean()), 4),
        "share_world": round(float((sel >= 8).mean()), 4),
        "share_outside_obs_history": round(float(1.0 - in_hist.mean()), 4),
    }
    return {"sf_dir": out}, props


ENRICH_SHARES = {"nl": 0.55, "hot": 0.2, "world": 0.2, "null": 0.05}


def enrich_noop(rng, out: str, n_images: int = 30_000, n_stations: int = 2000):
    lon, lat, counts = _points(rng, n_images, ENRICH_SHARES)
    ts = _timestamps(rng, n_images, "1997-07-01", "2000-07-01")
    images = pa.table({
        "image_id": np.arange(1, n_images + 1, dtype=np.int64),
        "lon": _nullable(lon),
        "lat": _nullable(lat),
        "alt": rng.uniform(20.0, 120.0, n_images),
        "captured_at": pa.array(ts, pa.timestamp("us")),
    })
    st = _stations(rng, n_stations)
    paths = {k: os.path.join(out, f"{k}.parquet")
             for k in ("images", "stations", "packed_obs")}
    # several row groups so the scan splits across cores
    pq.write_table(images, paths["images"], row_group_size=n_images // 8 + 1)
    pq.write_table(st, paths["stations"])
    pq.write_table(_packed_obs(st["station_id"].to_numpy()), paths["packed_obs"])
    d = ts.astype("datetime64[D]")
    props = {
        "images": n_images,
        "stations": n_stations,
        **{f"share_{k}": round(v / n_images, 4) for k, v in counts.items()},
        "obs_days": OBS_DAYS,
        "share_outside_obs_history": round(
            float(((d < OBS_LO) | (d >= OBS_LO + OBS_DAYS)).mean()), 4
        ),
    }
    return paths, props


def _star_polygon(rng, cx, cy):
    """Concave star ring: alternating outer/inner radii around a centre."""
    m = int(rng.integers(5, 9))
    r_out = rng.uniform(0.06, 0.3)
    ang = np.sort(rng.uniform(0.0, 2 * np.pi, 2 * m))
    r = np.where(np.arange(2 * m) % 2 == 0, r_out, r_out * rng.uniform(0.3, 0.6))
    return cx + r * np.cos(ang), cy + r * np.sin(ang) * 0.7


def spatial_ops(rng, out: str, n_probes: int = 6_000, n_polygons: int = 80,
                n_stations: int = 300):
    lon, lat, counts = _points(
        rng, n_probes, {"nl": 0.7, "hot": 0.15, "world": 0.1, "null": 0.05}
    )
    ts = _timestamps(rng, n_probes, "1997-10-01", "2000-03-01")
    probes = pa.table({
        "image_id": np.arange(1, n_probes + 1, dtype=np.int64),
        "lon": _nullable(lon),
        "lat": _nullable(lat),
        "captured_at": pa.array(ts, pa.timestamp("us")),
    })
    cls = gt.LC_CLASSES
    polys = {k: [] for k in ("polygon_id", "land_cover_class", "confidence",
                             "xmin", "ymin", "xmax", "ymax", "vertices",
                             "is_rect")}
    for i in range(n_polygons):
        xs, ys = _star_polygon(
            rng, rng.uniform(NL_BOX[0], NL_BOX[2]), rng.uniform(NL_BOX[1], NL_BOX[3])
        )
        polys["polygon_id"].append(f"P_{i:04d}")
        polys["land_cover_class"].append(cls[int(rng.integers(len(cls)))])
        # two decimals: confidence ties happen and exercise the id tie-break
        polys["confidence"].append(round(float(rng.uniform(0.5, 1.0)), 2))
        polys["xmin"].append(float(xs.min()))
        polys["ymin"].append(float(ys.min()))
        polys["xmax"].append(float(xs.max()))
        polys["ymax"].append(float(ys.max()))
        polys["vertices"].append([{"x": float(x), "y": float(y)}
                                  for x, y in zip(xs, ys)])
        polys["is_rect"].append(False)
    st = _stations(rng, n_stations, pad=0.1)
    paths = {k: os.path.join(out, f"{k}.parquet")
             for k in ("probes", "polygons", "stations", "observations")}
    pq.write_table(probes, paths["probes"], row_group_size=n_probes // 4 + 1)
    pq.write_table(pa.table(polys), paths["polygons"])
    pq.write_table(st, paths["stations"])
    pq.write_table(_row_obs(st["station_id"].to_numpy()), paths["observations"])
    props = {
        "probes": n_probes,
        **{f"share_{k}": round(v / n_probes, 4) for k, v in counts.items()},
        "polygons": n_polygons,
        "polygon_vertices_mean": round(
            float(np.mean([len(v) for v in polys["vertices"]])), 2
        ),
        "stations": n_stations,
        "observation_rows": n_stations * OBS_DAYS,
        "radius_m": 25_000.0,
    }
    return paths, props


# ---------------------------------------------------------------------------
# curate_payloads
# ---------------------------------------------------------------------------

BAND = 64
FORMATS = ("raw-u16", "lossy-q12", "png", "tiff-deflate", "tiff-lzw",
           "tiff-packbits", "tiff-tiled", "bigtiff", "tiff-rgb", "jpeg")


def _band(rng) -> np.ndarray:
    """Smooth gradient + noise, so every codec sees compressible data."""
    y, x = np.mgrid[0:BAND, 0:BAND]
    base = rng.uniform(2000, 40000)
    g = base + rng.uniform(-200, 200) * x + rng.uniform(-200, 200) * y
    g = g + rng.normal(0.0, 300.0, (BAND, BAND))
    return np.clip(np.rint(g), 0, 65535).astype(np.uint16)


def encode(kind: str, band: np.ndarray) -> tuple[bytes, str]:
    """(payload, engine fmt) for one generator format name."""
    from tiff_enrichment_pipeline_spark.raster import codec, jpeg

    if kind == "raw-u16":
        return codec.encode_raw_u16(band), "raw-u16"
    if kind == "lossy-q12":
        return codec.encode_lossy_q12(band), "lossy-q12"
    if kind == "png":
        return codec.encode_png_u16(band), "png"
    if kind == "tiff-deflate":
        return codec.encode_tiff_u16(band, compression="deflate"), "tiff"
    if kind == "tiff-lzw":
        return codec.encode_tiff_u16(band, compression="lzw"), "tiff"
    if kind == "tiff-packbits":
        return codec.encode_tiff_u16(band, compression="packbits",
                                     predictor=1), "tiff"
    if kind == "tiff-tiled":
        return codec.encode_tiff_u16(band, compression="deflate", tile=32), "tiff"
    if kind == "bigtiff":
        return codec.encode_tiff_u16(band, compression="deflate",
                                     bigtiff=True), "tiff"
    if kind == "tiff-rgb":
        rgb = np.repeat(band[:, :, None], 3, axis=2)
        return codec.encode_tiff_rgb(rgb), "tiff-rgb"
    if kind == "jpeg":
        return jpeg.encode_jpeg_gray(band), "jpeg"
    raise ValueError(kind)


def known_pixels(kind: str, band: np.ndarray) -> np.ndarray | None:
    """Pixels the decoder must return, known from the generator alone;
    None for jpeg, whose DCT loss has no closed form here."""
    if kind == "lossy-q12":
        return (band >> 4) << 4
    if kind == "jpeg":
        return None
    return band


def _embeddings(ids: np.ndarray, m: np.ndarray) -> pa.Table:
    return pa.table({"vec_id": ids,
                     "embedding": pa.array(list(m), pa.list_(pa.float64()))})


def curate_payloads(rng, out: str, n_payloads: int = 200, corrupt_frac: float = 0.01,
                    n_corpus: int = 2000, n_queries: int = 200, dim: int = 32):
    kinds = [FORMATS[i % len(FORMATS)] for i in range(n_payloads)]
    rng.shuffle(kinds)
    n_bad = max(1, int(round(corrupt_frac * n_payloads)))
    bad = set(rng.choice(n_payloads, size=n_bad, replace=False).tolist())
    ids, payloads, fmts, truth = [], [], [], {}
    for i, kind in enumerate(kinds):
        band = _band(rng)
        b, fmt = encode(kind, band)
        if i in bad:
            # truncation: the tail of every container carries pixel data
            # (or, for TIFF, the IFD), so no decoder can complete
            b = b[: len(b) // 3]
        ids.append(i + 1)
        payloads.append(b)
        fmts.append(fmt)
        truth[i + 1] = (kind, None if i in bad else band)
    payload_tbl = pa.table({
        "image_id": np.array(ids, np.int64),
        "bytes": pa.array(payloads, pa.binary()),
        "w": np.full(n_payloads, BAND, np.int32),
        "h": np.full(n_payloads, BAND, np.int32),
        "fmt": fmts,
        "kind": kinds,
    })
    # clustered embeddings: queries are noisy corpus members, so top-k has
    # real near neighbours and the ranking is not a coin toss
    cent = rng.normal(size=(16, dim))
    corpus = cent[rng.integers(0, 16, n_corpus)] + 0.3 * rng.normal(size=(n_corpus, dim))
    qsrc = rng.choice(n_corpus, n_queries, replace=False)
    queries = corpus[qsrc] + 0.05 * rng.normal(size=(n_queries, dim))
    corpus_ids = np.arange(1, n_corpus + 1, dtype=np.int64)
    query_ids = np.arange(1_000_001, 1_000_001 + n_queries, dtype=np.int64)
    paths = {k: os.path.join(out, f"{k}.parquet")
             for k in ("payloads", "corpus", "queries")}
    pq.write_table(payload_tbl, paths["payloads"], row_group_size=n_payloads // 4 + 1)
    pq.write_table(_embeddings(corpus_ids, corpus), paths["corpus"])
    pq.write_table(_embeddings(query_ids, queries), paths["queries"])
    mix = {k: kinds.count(k) for k in FORMATS}
    props = {
        "payloads": n_payloads,
        "band": f"{BAND}x{BAND} u16",
        "format_mix": mix,
        "corrupt": n_bad,
        "payload_mb": round(sum(len(b) for b in payloads) / 1e6, 3),
        "embedding_shape": {"corpus": [n_corpus, dim], "queries": [n_queries, dim]},
        "k": 5,
    }
    return paths, props, truth, {"corpus": corpus, "corpus_ids": corpus_ids,
                                 "queries": queries, "query_ids": query_ids}
