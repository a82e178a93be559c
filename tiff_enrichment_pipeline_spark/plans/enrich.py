"""The flagship enrichment DAG: geotag → cells → PIP → weather+elevation.

One lazy DataFrame plan re-creating the reference's documented workflow step
"Geospatial enrichment fetches elevation, weather, land cover data"
(reference: README.md:403-404; target schema metadata.enrichment_data,
scripts/create-tables.sql:118-161) with zero external services:

  images ──cell encode (codegen map)
         ──PIP land-cover (broadcast hash join, refine in join condition)
         ──fused Arrow lookup (1-NN station GEMM + DEM bilinear, ONE
           JVM→Python crossing) ──broadcast payload joins──► enriched rows

ZERO shuffles of the image table; a single Python boundary per row
(operators/geo_arrow.py — the standalone kNN/elevation operators remain the
oracle-checked API). GPS-less rows route around enrichment and union back
(reference's no-GPS path, src/pipeline/utils/gps_utils.py:87-94).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tiff_enrichment_pipeline_spark import grid
from tiff_enrichment_pipeline_spark.functions.geo import gps_valid
from tiff_enrichment_pipeline_spark.operators.geo_arrow import (
    fused_station_dem_lookup,
)
from tiff_enrichment_pipeline_spark.operators.pip_join import landcover_pip_join


def enrich(
    images: DataFrame,
    landcover: DataFrame,
    stations: DataFrame,
    dem_tiles: DataFrame,
    observations: DataFrame | None = None,
    ts: str = "captured_at",
    res_low: int = grid.RES7,
    res_mid: int = grid.RES8,
    res_high: int = grid.RES9,
    knn_res: int = 10,
    knn_ring: int = 2,
    broadcast_dem: bool = True,
    broadcast_obs: bool = True,
    packed_obs: DataFrame | None = None,
) -> DataFrame:
    """Full enrichment of a geotagged image table.

    Output: input columns + cell_r7/9 (+ the PIP join's res-mid cell),
    polygon_id, land_cover_class, land_cover_confidence, weather struct,
    weather_station_id, elevation, elevation_source, elevation_accuracy_m,
    enrich_status.

    ``observations``: optional (station_id, obs_date)-keyed historical
    weather dimension (reference's `weather_historical_date DATE` + JSONB
    payload, scripts/create-tables.sql:129-132). When given, the weather
    struct carries the observation for to_date(``ts``) at the nearest
    station (composite spatio-temporal join, broadcast at dim scale) and a
    ``weather_historical_date`` column is added; when None, the station's
    static values are used (round-1 behavior).

    ``res_low/mid/high``/``knn_res``/``knn_ring``: the EnrichConfig cell
    resolutions and kNN bucket parameters (values exact for any setting).
    ``broadcast_dem=False``: planetary-DEM plan — 1-NN stations via the
    Arrow lookup, elevation via the sort-merge tile-key join
    (operators/elevation.py; AQE splits a hot tile) instead of the fused
    broadcast-grid UDF; use when the DEM exceeds broadcast size.

    ``broadcast_obs=False``: planetary observation dimension
    (|stations|×|days| can reach 1e9 rows — geotables.weather_observations
    docstring) — drop the forced broadcast of the obs join and let AQE pick
    the strategy; the composite (station_id, date) key is uniform, so the
    shuffle is skew-free.

    ``packed_obs``: pre-built per-station packed observation dimension
    (operators.knn_join.pack_observations_columnar schema). On the
    broadcast path the obs lookup (knn_join.packed_obs_lookup) broadcasts
    |stations| rows of per-column payload arrays instead of a
    |stations|×|days| row-keyed hash relation — and a pipeline running
    this flagship alongside the standalone dated join reuses ONE
    persisted pack for both. When ``observations`` is given instead, the
    pack is built inline from it (same plan, plus the pack's one
    dim-side shuffle). Requires
    ``broadcast_obs=True``; the shuffle path keeps the row-level
    composite-key join (a station-keyed packed shuffle would co-locate a
    hot station's probes).
    """
    valid = gps_valid(F.col("lat"), F.col("lon"))
    with_gps = images.filter(valid)
    no_gps = images.filter(~F.coalesce(valid, F.lit(False)))

    cells = (
        with_gps.withColumn("cell_r7", grid.cell_of(F.col("lon"), F.col("lat"), res_low))
        .withColumn("cell_r9", grid.cell_of(F.col("lon"), F.col("lat"), res_high))
    )

    lc = landcover_pip_join(cells, landcover, res=res_mid)

    if broadcast_dem:
        geo = fused_station_dem_lookup(
            lc, stations, dem_tiles, knn_res=knn_res, knn_ring=knn_ring
        )
    else:
        from tiff_enrichment_pipeline_spark.operators.elevation import (
            elevation_join,
        )
        from tiff_enrichment_pipeline_spark.operators.knn_join import (
            knn_nearest,
        )

        geo = elevation_join(
            knn_nearest(lc, stations, res=knn_res, ring=knn_ring),
            dem_tiles,
            broadcast_dem=False,
        )
    # weather as a STRUCT, not map<string,double>: the reference's JSONB
    # payload (create-tables.sql:129) is schemaless, but per-row string map
    # keys cost real allocation bandwidth at 10^8 rows; a typed struct
    # serializes as 4 doubles (to_json on it reproduces the JSONB shape)
    drop_cols = ["st_lon", "st_lat", "temp_c", "wind_ms", "precip_mm", "dist_m"]
    if packed_obs is not None and not broadcast_obs:
        raise ValueError("packed_obs requires broadcast_obs=True")
    if packed_obs is not None and observations is not None:
        # same contract as nearest_station_dated: silently preferring the
        # pack would swap duplicate-key semantics (one row per dup under
        # the row join, first-in-sorted-order under packing) without the
        # caller noticing (r6 review)
        raise ValueError(
            "enrich() needs at most one of observations= (row-level dim) "
            "or packed_obs= (pre-built pack_observations_columnar output)"
        )
    if observations is not None or packed_obs is not None:
        geo = geo.withColumn("weather_historical_date", F.to_date(F.col(ts)))
        if broadcast_obs:
            from tiff_enrichment_pipeline_spark.operators.knn_join import (
                pack_observations_columnar,
                packed_obs_lookup,
            )

            packed = (
                packed_obs
                if packed_obs is not None
                else pack_observations_columnar(
                    observations.withColumnRenamed(
                        "obs_date", "weather_historical_date"
                    )
                )
            )
            geo = packed_obs_lookup(geo, packed)
        else:
            obs = observations.withColumnRenamed(
                "obs_date", "weather_historical_date"
            )
            geo = geo.join(
                obs, ["station_id", "weather_historical_date"], "left"
            )
        weather = F.struct(
            F.col("obs_temp_c").alias("temp_c"),
            F.col("obs_wind_ms").alias("wind_ms"),
            F.col("obs_precip_mm").alias("precip_mm"),
            F.col("dist_m").alias("nearest_dist_m"),
        )
        drop_cols += ["obs_temp_c", "obs_wind_ms", "obs_precip_mm"]
    else:
        weather = F.struct(
            F.col("temp_c"), F.col("wind_ms"),
            F.col("precip_mm"),
            F.col("dist_m").alias("nearest_dist_m"),
        )
    enriched = (
        geo.withColumn("weather", weather)
        .withColumnRenamed("station_id", "weather_station_id")
        .drop(*drop_cols)
        .withColumn("enrich_status", F.lit("enriched"))
    )

    # single projection (not a withColumn chain — each withColumn is one
    # more analysis pass over a wide plan)
    dtypes = dict(enriched.dtypes)
    passthrough = no_gps.select(
        *no_gps.columns,
        *[
            (
                F.lit("no_gps") if c == "enrich_status"
                else F.lit(None).cast(dtypes[c])
            ).alias(c)
            for c in enriched.columns
            if c not in no_gps.columns
        ],
    )
    return enriched.unionByName(passthrough.select(*enriched.columns))
