"""spark-submit entry point — the deployment shape from BASELINE.json:

    zip -qr engine.zip tiff_enrichment_pipeline_spark
    spark-submit --py-files engine.zip examples/enrich_job.py \
        <sf_dir> <output_dir>

Runs the flagship enrichment over the given testdata directory and writes
enriched rows + per-partition lineage + metrics tables.
"""

from __future__ import annotations

import sys
from pathlib import Path

# direct `python examples/enrich_job.py` convenience; under spark-submit the
# engine arrives via --py-files and this is a no-op
_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from pyspark.sql import Observation, SparkSession


def main() -> None:
    from tiff_enrichment_pipeline_spark.config import EnrichConfig

    # validate BEFORE any Spark work: a bad config fails at submit time
    # with every violation listed (reference core/config.py:141-152)
    cfg = EnrichConfig.from_dict(
        {
            **({"sf_dir": sys.argv[1]} if len(sys.argv) > 1 else {}),
            **({"output_dir": sys.argv[2]} if len(sys.argv) > 2 else {}),
        }
    )
    sf_dir, out_dir = cfg.sf_dir, cfg.output_dir

    from tiff_enrichment_pipeline_spark import geotables
    from tiff_enrichment_pipeline_spark.fixtures import dem_tiles_df
    from tiff_enrichment_pipeline_spark.operators.lineage import (
        RunRecorder,
        observe_run,
    )
    from tiff_enrichment_pipeline_spark.plans.enrich import enrich

    spark = SparkSession.builder.getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    rec = RunRecorder("RUN_SUBMIT")
    images = geotables.images_geo(spark, sf_dir)
    result = enrich(
        images,
        landcover=geotables.landcover_polygons(spark),
        stations=geotables.stations(spark, sf_dir),
        dem_tiles=dem_tiles_df(spark),
        broadcast_dem=cfg.broadcast_dem,
        observations=(
            geotables.weather_observations(spark, sf_dir)
            if cfg.use_observations
            else None
        ),
    )
    # run counters observed in the write's own pass — no re-count
    run_counters = Observation("run_counters")
    observe_run(result, run_counters).write.mode("overwrite").parquet(
        f"{out_dir}/enriched"
    )
    counters = run_counters.get
    out = spark.read.parquet(f"{out_dir}/enriched")
    lineage, metrics = rec.finish(out, counters)
    lineage.write.mode("overwrite").parquet(f"{out_dir}/lineage")
    metrics.write.mode("overwrite").parquet(f"{out_dir}/metrics")
    print(f"ENRICHED_ROWS={counters['rows_written']}")

    # S6 proper: emit real GeoTIFF files (stdlib baseline encoder, EPSG:4326
    # tags from the engine's camera model) for the payload-bearing band rows
    # — the reference's enriched-GeoTIFF output, distributed per task
    from tiff_enrichment_pipeline_spark.fixtures import band_rows_from_orders
    from tiff_enrichment_pipeline_spark.sources.images import export_geotiff

    bands = band_rows_from_orders(spark, sf_dir)
    manifest = export_geotiff(bands, f"{out_dir}/tifs")
    manifest.write.mode("overwrite").parquet(f"{out_dir}/tif_manifest")
    n_tifs = spark.read.parquet(f"{out_dir}/tif_manifest").count()
    print(f"GEOTIFFS_WRITTEN={n_tifs}")
    spark.stop()


if __name__ == "__main__":
    main()
