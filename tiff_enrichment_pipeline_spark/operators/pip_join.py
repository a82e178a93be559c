"""Broadcast point-in-polygon land-cover join — the engine's flagship operator.

Re-creates the reference's declared land-cover enrichment (PostGIS POINT +
GIST index + esa_worldcover source; reference: scripts/create-tables.sql:74-79,
135-139,257; scripts/init-db.sql:59-65; README.md:403-404) as the canonical
Spark two-phase spatial join (SURVEY.md J5):

1. **Cover**: each polygon's bbox is covered into res-K cells *JVM-side*
   (sequence + explode — no Python). Bbox cover ⊇ exact cover, which is safe
   because phase 3 refines.
2. **Cell equi-join**: probe images on ``cell_rK == cover.cell`` with the
   cover table broadcast (a few k cells × small dim → far under the 64 MB
   broadcast threshold). No shuffle of the big side.
3. **Refine**: exact geometry test. Axis-aligned rectangles (the common case
   for gridded land-cover products) use a *half-open* bbox column predicate
   [xmin,xmax)×[ymin,ymax) — pure Catalyst, codegen'd. General polygons fall
   back to an Arrow-vectorized even-odd (ray-casting) pandas UDF.

Multiple matches (overlapping polygons) resolve deterministically: highest
confidence, then polygon_id — mirroring enrichment_data's single
land_cover_class per image (create-tables.sql:135-139).

Scale notes (100 TB): the probe side never shuffles — cell encode is a map
stage and the join is broadcast-hash. Hot-cell skew is irrelevant here for
the same reason (no shuffle key). The refine predicate runs inside the same
whole-stage-codegen pipeline as the join.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from tiff_enrichment_pipeline_spark import grid


def polygon_cell_cover(polygons: DataFrame, res: int = grid.RES8) -> DataFrame:
    """Explode each polygon bbox into covering cells at ``res`` (JVM-side).

    Input columns: polygon_id, xmin, ymin, xmax, ymax (+ carried columns).
    Output: one row per (cell, polygon).
    """
    nx, ny = 2**res, 2 ** (res - 1)
    w = grid.cell_width_deg(res)
    ix0 = F.greatest(F.floor((F.col("xmin") + 180.0) / w), F.lit(0))
    ix1 = F.least(F.floor((F.col("xmax") + 180.0) / w - 1e-12), F.lit(nx - 1))
    iy0 = F.greatest(F.floor((F.col("ymin") + 90.0) / w), F.lit(0))
    iy1 = F.least(F.floor((F.col("ymax") + 90.0) / w - 1e-12), F.lit(ny - 1))
    return (
        polygons.withColumn("_ix", F.explode(F.sequence(ix0, ix1)))
        .withColumn("_iy", F.explode(F.sequence(iy0, iy1)))
        .withColumn(
            "cell",
            (
                F.lit(res) * F.lit(2**56) + F.col("_ix") * F.lit(2**28) + F.col("_iy")
            ).cast("long"),
        )
        .drop("_ix", "_iy")
    )


def _pip_even_odd(
    it: Iterator[tuple[pd.Series, pd.Series, pd.Series]],
) -> Iterator[pd.Series]:
    """Even-odd (ray-casting) point-in-polygon, Arrow-batched AND
    numpy-vectorized across the whole batch: ragged vertex rings are packed
    into a zero-padded (batch, max_verts) matrix and every edge test runs
    as one broadcast expression — no per-row/per-vertex Python loop.

    The half-open edge convention ([ymin,ymax) in y, strict x) keeps
    shared-edge points in exactly one polygon of a tiling.
    """
    for lon, lat, verts in it:
        B = len(lon)
        x = lon.to_numpy(np.float64)
        y = lat.to_numpy(np.float64)
        polys = list(verts)
        n_v = np.array(
            [0 if vs is None else len(vs) for vs in polys], dtype=np.int64
        )
        vmax = int(n_v.max()) if B else 0
        if vmax == 0:
            yield pd.Series(np.zeros(B, dtype=bool))
            continue
        # pack ragged rings: one flat gather, one fancy-index scatter
        # (`vs` may be a numpy object array — test identity/length, never
        # truthiness)
        flat_x = np.fromiter(
            (v["x"] for vs in polys if vs is not None for v in vs), np.float64
        )
        flat_y = np.fromiter(
            (v["y"] for vs in polys if vs is not None for v in vs), np.float64
        )
        rows = np.repeat(np.arange(B), n_v)
        cols = np.arange(n_v.sum()) - np.repeat(np.cumsum(n_v) - n_v, n_v)
        X = np.zeros((B, vmax))
        Y = np.zeros((B, vmax))
        X[rows, cols] = flat_x
        Y[rows, cols] = flat_y
        # previous-vertex gather per row (edge k pairs vertex k with k-1
        # mod n_v — the classic j=k-1 wraparound, vectorized)
        k = np.arange(vmax)[None, :]
        safe_n = np.maximum(n_v, 1)[:, None]
        jidx = (k - 1) % safe_n
        Xj = np.take_along_axis(X, jidx, axis=1)
        Yj = np.take_along_axis(Y, jidx, axis=1)
        yb = y[:, None]
        straddles = (Y > yb) != (Yj > yb)  # implies Yj != Y where True
        with np.errstate(divide="ignore", invalid="ignore"):
            x_int = X + (yb - Y) / (Yj - Y) * (Xj - X)
        cross = (k < n_v[:, None]) & straddles & (x[:, None] < x_int)
        yield pd.Series((cross.sum(axis=1) % 2).astype(bool))


def pip_refine_predicate(lon: Column, lat: Column) -> Column:
    """Exact containment test post cell-join (rect fast path / UDF fallback)."""
    bbox_ok = (
        (lon >= F.col("xmin")) & (lon < F.col("xmax"))
        & (lat >= F.col("ymin")) & (lat < F.col("ymax"))
    )
    # the UDF is built per call: a module-level one would keep the first
    # SparkContext's accumulator across a session restart (raster/udfs.py)
    even_odd = F.pandas_udf(BooleanType())(_pip_even_odd)
    return F.when(F.col("is_rect"), bbox_ok).otherwise(
        bbox_ok & even_odd(lon, lat, F.col("vertices"))
    )


def landcover_pip_join(
    images: DataFrame,
    polygons: DataFrame,
    res: int = grid.RES8,
    lon: str = "lon",
    lat: str = "lat",
    how: str = "left",
    rects_only_nonoverlapping: bool = True,
    id_col: str = "image_id",
) -> DataFrame:
    """images ⟕ land-cover via broadcast cell join + exact refinement.

    Adds ``polygon_id, land_cover_class, land_cover_confidence`` (and keeps
    the probe's ``cell_r{res}`` column for downstream partitioning).

    Fast path (``rects_only_nonoverlapping``, the gridded-land-cover-product
    case): ONE broadcast left join with the half-open bbox refine inside the
    join condition — the probe side never shuffles; the whole operator is a
    map stage. This is the path that must hold at 100 TB.

    General path (concave/overlapping polygons): inner broadcast join →
    UDF refine → per-image dedupe (max confidence, then polygon_id — one
    land_cover_class per image, mirroring enrichment_data,
    create-tables.sql:135-139) → join back for 'left' semantics. Costs one
    shuffle of the *matched* subset only.
    """
    cellcol = f"cell_r{res}"
    probe = images.withColumn(cellcol, grid.cell_of(F.col(lon), F.col(lat), res))
    cover = polygon_cell_cover(polygons, res).withColumnRenamed("cell", cellcol)
    out_cols = [
        F.col("polygon_id"),
        F.col("land_cover_class"),
        F.col("confidence").alias("land_cover_confidence"),
    ]

    if rects_only_nonoverlapping:
        bbox_ok = (
            (F.col(lon) >= cover["xmin"]) & (F.col(lon) < cover["xmax"])
            & (F.col(lat) >= cover["ymin"]) & (F.col(lat) < cover["ymax"])
        )
        cond = (probe[cellcol] == cover[cellcol]) & bbox_ok
        joined = probe.join(F.broadcast(cover), cond, how)
        return joined.select(*[probe[c] for c in probe.columns], *out_cols)

    matched = probe.join(F.broadcast(cover), cellcol, "inner").filter(
        pip_refine_predicate(F.col(lon), F.col(lat))
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("confidence"), F.asc("polygon_id"))
    best = (
        matched.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(id_col, *out_cols)
    )
    return probe.join(best, id_col, how)
