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
    _station_index,
    _with_station,
    topk_indexed_np,
)


def fused_station_dem_lookup(
    images: DataFrame,
    stations: DataFrame,
    dem_tiles: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """images + station payload + dist_m + elevation columns. Exact 1-NN
    (the station index of ``knn_join``) + bilinear DEM, one Arrow pass."""
    bc_s, st_indexed, _ = _station_index(stations, 1)
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

    dem_meta = dem_tiles.select(
        "tile_x", "tile_y",
        F.col("source").alias("elevation_source"),
        F.col("accuracy_m").alias("elevation_accuracy_m"),
    )
    tx, ty = tile_key(F.col(lon), F.col(lat))
    geo = images.withColumn("_geo", _lookup(F.col(lat), F.col(lon)))
    return _with_station(
        geo, st_indexed, "_geo", "st_idx", "d2",
        elevation=F.col("_geo")["elevation"], tile_x=tx, tile_y=ty,
    ).join(F.broadcast(dem_meta), ["tile_x", "tile_y"], "left")
