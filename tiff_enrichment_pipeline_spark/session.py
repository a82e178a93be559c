"""SparkSession factory with scale-oriented defaults.

The reference pipeline's parallelism knobs (MAX_WORKERS / PROCESSING_BATCH_SIZE,
src/pipeline/main.py:40-41) were never wired to an executor — the loops are
serial (main.py:236-251). Here parallelism is Spark's job; we only set the
configs that matter for a 1000-executor / 100 TB deployment and that are safe
on local[N]:

- AQE on (runtime coalescing + skew-join splitting — the backstop for
  geographic hot-cell skew, SURVEY.md §4).
- Arrow on, with a bounded batch size: pixel payloads are ~8 KiB-8 MiB binary
  cells, so Arrow batches play the role of the reference's 1024x1024 chunked
  windows (utils/rasterio_utils.py:208-233).
- Session timezone pinned to UTC (the reference forces the DB to UTC,
  scripts/init-db.sql:173) — also required for DuckDB-oracle timestamp parity.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
# Spark's codegen cache (spark.sql.codegen.cache.maxEntries, default 100)
# is an LRU over generated classes, static per JVM. One pass of the
# engine_ops benchmark uses more than 100 distinct classes, so at 100 a
# repeated pass misses on nearly every lookup: 130 Janino compiles per
# pass (plus C2 re-JIT of the fresh classes) against 2 at 2000, measured
# on a 4-core host. 2000 holds that working set with room to spare.
CODEGEN_CACHE_ENTRIES = 2000
# spark.sql.autoBroadcastJoinThreshold; also the budget the kNN station
# index is held to (operators/knn_join.MAX_INDEX_ENTRIES)
BROADCAST_THRESHOLD_BYTES = 64 * 1024 * 1024
# the directory holding the package: Python workers import it too (UDF
# bodies call package functions), and a driver that found it through
# sys.path alone does not pass that on to the workers it starts
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "tiff-enrichment-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the enrichment engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) so
    the bench harness can run the identical job at two parallelism levels
    (local[8] vs local[32]) for the scaling-efficiency evidence. For the
    masters it sets itself, the executors' ``PYTHONPATH`` gets the
    package's root directory (Spark appends the driver's own
    ``PYTHONPATH``), so workers import the package from any working
    directory; ``master="inherit"`` leaves the executor environment to
    the submitter.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )

    builder = SparkSession.builder.appName(app_name)
    if master != "inherit":
        # "inherit": spark-submit / an existing session decides the master
        # (forcing local[N] would override a submitted cluster master)
        builder = builder.master(master).config(
            "spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT
        )
    # Scan split size stays at the 128 MB default: the sandbox testdata
    # ships one file per table with few row groups (lineitem 131 MB / 6
    # groups), so scans get 1-2 tasks — but an 8 MB split A/B at sf1.0
    # (r8) moved capture_assembly/status_summary/percentiles by < noise;
    # the aggregation shuffles dominate, not the scan. Revisit only if a
    # future fixture ships many row groups.
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "16384")
        # Binary pixel payloads live in their own column; keep scans lean.
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(BROADCAST_THRESHOLD_BYTES))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
