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
from tiff_enrichment_pipeline_spark.operators.elevation import elevation_join
from tiff_enrichment_pipeline_spark.operators.geo_arrow import (
    fused_station_dem_lookup,
)
from tiff_enrichment_pipeline_spark.operators.knn_join import (
    attach_observations,
    knn_nearest,
)
from tiff_enrichment_pipeline_spark.operators.pip_join import landcover_pip_join


def enrich(
    images: DataFrame,
    landcover: DataFrame,
    stations: DataFrame,
    dem_tiles: DataFrame,
    observations: DataFrame | None = None,
    ts: str = "captured_at",
    broadcast_dem: bool = True,
    broadcast_obs: bool = True,
    packed_obs: DataFrame | None = None,
) -> DataFrame:
    """Full enrichment of a geotagged image table.

    Output: input columns + cell_r7/9 (+ the PIP join's res-mid cell),
    polygon_id, land_cover_class, land_cover_confidence, weather struct,
    weather_station_id, elevation, elevation_source, elevation_accuracy_m,
    enrich_status. Cells are at ``grid.RES7/RES8/RES9``.

    ``observations`` / ``packed_obs``: optional dated weather — the
    row-level (station_id, obs_date) dimension (reference's
    `weather_historical_date DATE` + JSONB payload,
    scripts/create-tables.sql:129-132) or its pre-built
    ``knn_join.pack_observations_columnar`` pack, at most one. When given,
    the weather struct carries the observation for to_date(``ts``) at the
    nearest station and a ``weather_historical_date`` column is added;
    when neither is, the station's static values are used.
    ``knn_join.attach_observations`` does the attach and documents both
    sources and ``broadcast_obs`` (False = a planetary dimension: a
    row-level composite-key join left to AQE instead of the broadcast
    pack).

    ``broadcast_dem=False``: planetary-DEM plan — 1-NN stations via the
    Arrow lookup, elevation via the sort-merge tile-key join
    (operators/elevation.py; AQE splits a hot tile) instead of the fused
    broadcast-grid UDF; use when the DEM exceeds broadcast size.
    """
    valid = gps_valid(F.col("lat"), F.col("lon"))
    with_gps = images.filter(valid)
    no_gps = images.filter(~F.coalesce(valid, F.lit(False)))

    cells = (
        with_gps.withColumn("cell_r7", grid.cell_of(F.col("lon"), F.col("lat"), grid.RES7))
        .withColumn("cell_r9", grid.cell_of(F.col("lon"), F.col("lat"), grid.RES9))
    )

    lc = landcover_pip_join(cells, landcover, res=grid.RES8)

    if broadcast_dem:
        geo = fused_station_dem_lookup(lc, stations, dem_tiles)
    else:
        geo = elevation_join(
            knn_nearest(lc, stations), dem_tiles, broadcast_dem=False
        )
    # weather as a STRUCT, not map<string,double>: the reference's JSONB
    # payload (create-tables.sql:129) is schemaless, but per-row string map
    # keys cost real allocation bandwidth at 10^8 rows; a typed struct
    # serializes as 4 doubles (to_json on it reproduces the JSONB shape)
    drop_cols = ["st_lon", "st_lat", "temp_c", "wind_ms", "precip_mm", "dist_m"]
    if observations is not None or packed_obs is not None:
        if observations is not None:
            observations = observations.withColumnRenamed(
                "obs_date", "weather_historical_date"
            )
        geo = attach_observations(
            geo.withColumn("weather_historical_date", F.to_date(F.col(ts))),
            observations, packed_obs, broadcast_obs,
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
