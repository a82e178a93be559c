"""Module CLI — `python -m tiff_enrichment_pipeline_spark <sf_dir> [out]`.

The reference's second entry point (`python -m pipeline.micasense
<input_dir>`, src/pipeline/micasense/__main__.py:48-62: argparse →
load/validate config → process_all → summary JSON). Spark shape: validate
config BEFORE building any plan, run the preflight health gate, then run
the flagship enrichment DAG once (batch) or as the streaming watcher
(--watch); ``--compact TABLE`` instead compacts an image table and exits.

Batch mode spends its Spark jobs on the enrichment write: the run counters
(rows written, errors, and why enrichment came back NULL — no GPS, no
station, outside the DEM, outside the observation span) are an Observation
on the written DataFrame, collected by the write itself. The lineage
table checksums the enriched table as read back, one row per partition;
the metrics table and the one-line JSON summary (``enriched_rows`` plus
``counters``) carry the observed counts — the output is never re-counted.

Grouping semantics follow main.py's regex classification (P1-P3), not this
entry point's positional-band variant — the documented divergence
(SURVEY §3.2: the reference's two groupings are mutually inconsistent).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="tiff_enrichment_pipeline_spark")
    # None defaults so an ABSENT positional never clobbers a --config value
    ap.add_argument("sf_dir", nargs="?", default=None)
    ap.add_argument("output_dir", nargs="?", default=None)
    ap.add_argument(
        "--config", help="JSON file of EnrichConfig overrides", default=None
    )
    ap.add_argument(
        "--watch", action="store_true",
        help="streaming watcher mode (readStream over sf_dir-shaped input)",
    )
    ap.add_argument(
        "--compact", metavar="TABLE", default=None,
        help="compact an image table in place (layout-preserving "
        "small-file rewrite) and exit",
    )
    args = ap.parse_args(argv)

    from tiff_enrichment_pipeline_spark.config import EnrichConfig

    overrides = {}
    if args.config:
        with open(args.config) as f:
            overrides = json.load(f)
    # precedence: explicit positional > config file > dataclass default
    if args.sf_dir is not None:
        overrides["sf_dir"] = args.sf_dir
    if args.output_dir is not None:
        overrides["output_dir"] = args.output_dir
    cfg = EnrichConfig.from_dict(overrides)

    from pyspark.sql import Observation

    from tiff_enrichment_pipeline_spark import geotables
    from tiff_enrichment_pipeline_spark.fixtures import dem_tiles_df
    from tiff_enrichment_pipeline_spark.operators.lineage import (
        RunRecorder,
        observe_run,
    )
    from tiff_enrichment_pipeline_spark.plans.enrich import enrich
    from tiff_enrichment_pipeline_spark.session import get_spark

    # the tuned session factory (AQE, Arrow batch, UTC, broadcast
    # threshold); master='inherit' keeps a spark-submit cluster master
    spark = get_spark("tiff-enrichment-cli", master="inherit")
    t0 = time.time()

    if args.compact:
        # maintenance mode: no enrichment inputs needed, skip preflight
        from tiff_enrichment_pipeline_spark.sources.images import (
            compact_images,
        )

        stats = compact_images(spark, args.compact)
        print(
            json.dumps(
                {
                    "mode": "compact",
                    "table": args.compact,
                    **stats,
                    "wall_s": round(time.time() - t0, 2),
                }
            )
        )
        return 0

    from tiff_enrichment_pipeline_spark.health import preflight

    # fail-fast health gate (reference main.py:411-413 / health.py:92-107)
    preflight(spark, cfg.sf_dir, cfg.output_dir)

    landcover = geotables.landcover_polygons(spark)
    stations = geotables.stations(spark, cfg.sf_dir)
    dem = dem_tiles_df(spark)
    obs = (
        geotables.weather_observations(spark, cfg.sf_dir)
        if cfg.use_observations
        else None
    )

    def enrich_images(df, batch_id=None):
        # one call for both modes; batch_id: the watcher's micro-batch id
        return enrich(
            df, landcover=landcover, stations=stations, dem_tiles=dem,
            observations=obs, broadcast_dem=cfg.broadcast_dem,
            broadcast_obs=cfg.broadcast_obs,
        )

    counters = None  # batch mode: observed in the enrichment write
    if args.watch:
        from tiff_enrichment_pipeline_spark.streaming.watcher import watch_images

        schema = (
            "image_id long, lon double, lat double, alt double, "
            "captured_at timestamp"
        )
        q = watch_images(
            spark, f"{cfg.sf_dir}/stream_in", f"{cfg.output_dir}/enriched",
            f"{cfg.output_dir}/_checkpoint", enrich_images, schema=schema,
        )
        q.awaitTermination()
        try:
            n = spark.read.parquet(f"{cfg.output_dir}/enriched").count()
        except Exception:
            n = 0  # drained stream produced zero micro-batches
    else:
        rec = RunRecorder("RUN_CLI")
        result = enrich_images(geotables.images_geo(spark, cfg.sf_dir))
        from tiff_enrichment_pipeline_spark.sources.images import (
            read_images,
            write_images,
        )

        # partitioned layout (id-hash bucket + coarse cell) so later reads
        # of the enriched table prune — partition_buckets from config;
        # the weather struct is kept (parquet nests structs fine). The run
        # counters ride on the write itself (one Observation), so the
        # written table is never re-counted.
        run_counters = Observation("run_counters")
        write_images(
            result, f"{cfg.output_dir}/enriched",
            mode="overwrite", buckets=cfg.partition_buckets,
            cluster=cfg.cluster,
            observe=lambda d: observe_run(d, run_counters),
        )
        counters = run_counters.get
        # lineage checksums the table as written, per read-back partition
        out = read_images(spark, f"{cfg.output_dir}/enriched")
        lineage, metrics = rec.finish(out, counters)
        lineage.write.mode("overwrite").parquet(f"{cfg.output_dir}/lineage")
        metrics.write.mode("overwrite").parquet(f"{cfg.output_dir}/metrics")
        n = counters["rows_written"]

    summary = {
        "enriched_rows": n,
        "output_dir": cfg.output_dir,
        "wall_s": round(time.time() - t0, 2),
        "mode": "watch" if args.watch else "batch",
    }
    if counters is not None:
        summary["counters"] = counters
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
