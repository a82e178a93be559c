"""Fused Arrow geo-lookup: 1-NN station + DEM bilinear in ONE UDF crossing.

The flagship plan (plans/enrich.py) needs two Python-side lookups per image:
nearest weather station (GEMM kNN) and DEM elevation (bilinear). Running
them as separate pandas UDFs puts two ArrowEvalPython nodes in the same
stage — every task then drives two Python workers (JVM→py→JVM→py→JVM), and
at high local parallelism the 3× thread count thrashes instead of scaling.
This module fuses both lookups into a single UDF returning a fixed-width
struct — one Arrow crossing, one worker per task, same math as the
individual operators (which remain the oracle-checked public API).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from tiff_enrichment_pipeline_spark.geotables import DEM_TILE_DEG
from tiff_enrichment_pipeline_spark.operators.elevation import (
    _bilinear_gather,
    _broadcast_grid_stack,
    _tile_indices,
    tile_key,
)
from tiff_enrichment_pipeline_spark.operators.knn_join import (
    _chord2_to_m,
    _indexed_payload_df,
    _safe_idx,
    build_knn_index,
    topk_indexed_np,
)


def fused_station_dem_lookup(
    images: DataFrame,
    stations: DataFrame,
    dem_tiles: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    knn_res: int = 10,
    knn_ring: int = 2,
) -> DataFrame:
    """images + ``_geo`` struct<st_idx,d2,elevation> + station payload +
    dist_m + elevation columns. Exact 1-NN + bilinear DEM, one Arrow pass.

    ``knn_res``/``knn_ring``: candidate-bucket resolution and Chebyshev
    ring of the certified-exact 1-NN (EnrichConfig.knn_res/knn_ring) —
    results are exact for ANY setting; they only trade candidate-set size
    against fallback frequency."""
    st_rows = stations.collect()
    # id-ascending layout: the kernel's tie rule requires it (knn_join.py)
    st_rows.sort(key=lambda r: r["station_id"])
    s_lat = np.array([r["st_lat"] for r in st_rows], dtype=np.float64)
    s_lon = np.array([r["st_lon"] for r in st_rows], dtype=np.float64)
    s_ids = np.array([r["station_id"] for r in st_rows], dtype=np.int64)
    rp, rl = np.radians(s_lat), np.radians(s_lon)
    s_xyz = np.stack(
        [np.cos(rp) * np.cos(rl), np.cos(rp) * np.sin(rl), np.sin(rp)], axis=1
    )
    knn_index, knn_res_f = build_knn_index(
        s_lat, s_lon, s_xyz, 1, knn_res, knn_ring
    )

    sc = images.sparkSession.sparkContext
    bc_s = sc.broadcast((s_xyz, s_ids, knn_index, knn_res_f))
    bc_g = _broadcast_grid_stack(dem_tiles)

    out_t = StructType(
        [
            StructField("st_idx", DoubleType()),
            StructField("d2", DoubleType()),
            StructField("elevation", DoubleType()),
        ]
    )

    @F.pandas_udf(out_t)
    def _lookup(plat: pd.Series, plon: pd.Series) -> pd.DataFrame:
        S, ids, index, rf = bc_s.value
        stack, map2d, tx0, ty0 = bc_g.value
        lat_v = plat.to_numpy(np.float64, na_value=np.nan)
        lon_v = plon.to_numpy(np.float64, na_value=np.nan)
        n = len(lat_v)
        elev = np.full(n, np.nan)
        valid = ~np.isnan(lat_v) & ~np.isnan(lon_v)
        # --- 1-NN station: build-certified pruned-list chord GEMM ---
        idx, d2v = topk_indexed_np(lat_v, lon_v, S, ids, index, 1, rf)
        st_idx = idx[:, 0]
        d2_out = d2v[:, 0]
        if valid.any():
            # --- DEM bilinear: whole-batch stacked-grid gather (no
            # per-tile loop — see elevation._broadcast_grid_stack) ---
            tx = np.where(valid, np.floor(np.nan_to_num(lon_v) / DEM_TILE_DEG), 0).astype(np.int64)
            ty = np.where(valid, np.floor(np.nan_to_num(lat_v) / DEM_TILE_DEG), 0).astype(np.int64)
            tidx = _tile_indices(map2d, tx0, ty0, tx, ty, valid)
            rows = np.flatnonzero(tidx >= 0)
            if len(rows):
                elev[rows] = _bilinear_gather(
                    stack, tidx[rows], lon_v[rows], lat_v[rows], tx[rows],
                    ty[rows],
                )
        return pd.DataFrame({"st_idx": st_idx, "d2": d2_out, "elevation": elev})

    spark = images.sparkSession
    st_indexed = _indexed_payload_df(spark, stations, st_rows)
    dem_meta = dem_tiles.select(
        "tile_x", "tile_y",
        F.col("source").alias("elevation_source"),
        F.col("accuracy_m").alias("elevation_accuracy_m"),
    )
    tx, ty = tile_key(F.col(lon), F.col(lat))
    out = (
        images.withColumn("_geo", _lookup(F.col(lat), F.col(lon)))
        .withColumn("_st_idx", _safe_idx(F.col("_geo")["st_idx"]))
        .withColumn("dist_m", _chord2_to_m(F.col("_geo")["d2"]))
        .withColumn("elevation", F.col("_geo")["elevation"])
        .withColumn("tile_x", tx)
        .withColumn("tile_y", ty)
        .drop("_geo")
        .join(F.broadcast(st_indexed), "_st_idx", "left")
        .join(F.broadcast(dem_meta), ["tile_x", "tile_y"], "left")
        .drop("_st_idx")
    )
    return out
