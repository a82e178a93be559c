"""Per-partition lineage + metrics + checkpoint-resume.

Re-creates the reference's catalog bookkeeping as engine tables:

- lineage   ← pipeline.processing_runs (status, timings, checksums,
              retry_count; reference: scripts/create-tables.sql:14-63)
- metrics   ← monitoring.system_metrics + the Prometheus counters
              pipeline_processing_duration_seconds /
              pipeline_processed_files_total / pipeline_errors_total
              (create-tables.sql:182-192; monitoring/grafana/dashboards/
              pipeline.json:69,164,354); the processed/error counts and
              the NULL-enrichment reasons come from ``observe_run``, an
              Observation collected by the output write itself
- resume    ← overwrite_existing=False + the checksum unique index
              (micasense/core/config.py:41; create-tables.sql:19,253)
              realized as a left-anti join against already-processed keys.

Keys are deterministic sha2 surrogates (NOT uuid_generate_v4,
create-tables.sql:15/init-db.sql:77) so re-runs produce identical row
identity — the property that makes MERGE/anti-join resume safe (M13).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

METRIC_DURATION = "pipeline_processing_duration_seconds"
METRIC_PROCESSED = "pipeline_processed_files_total"
METRIC_ERRORS = "pipeline_errors_total"


def surrogate_key(*cols) -> F.Column:
    """Deterministic sha2 surrogate key (resume-idempotent uuid replacement)."""
    return F.sha2(F.concat_ws(":", *cols), 256)


def partition_lineage(df: DataFrame, run_id: str, key_col: str = "image_id") -> DataFrame:
    """Per-partition lineage rows: (run_id, partition_id, rows, key_checksum).

    key_checksum is an order-insensitive sum of 32-bit key hashes — two runs
    that produced the same partition contents agree, a reordered/partial one
    doesn't (the engine twin of input_file_checksum,
    create-tables.sql:19)."""
    return (
        df.select(
            F.spark_partition_id().alias("partition_id"),
            F.col(key_col).cast("string").alias("_k"),
        )
        .withColumn(
            "_h", F.conv(F.substring(F.md5(F.col("_k")), 1, 8), 16, 10).cast("long")
        )
        .groupBy("partition_id")
        .agg(
            F.count("*").alias("rows_out"),
            F.sum("_h").alias("key_checksum"),
        )
        .select(
            F.lit(run_id).alias("run_id"),
            "partition_id",
            "rows_out",
            "key_checksum",
            F.current_timestamp().alias("recorded_at"),
        )
    )


# why an output row carries NULL enrichment → its metrics-table name
NULL_REASON_METRICS = {
    "no_gps": "pipeline_no_gps_files_total",
    "no_station": "pipeline_no_station_files_total",
    "outside_dem": "pipeline_outside_dem_files_total",
    "outside_obs_span": "pipeline_outside_obs_span_files_total",
}


def observe_run(df: DataFrame, obs: Observation) -> DataFrame:
    """``df.observe(obs, ...)``: the run counters of an enriched table
    (plans.enrich output), collected by whatever action consumes the
    returned DataFrame — the write — with no extra scan. Observe the frame
    exactly as written: below a range exchange (write_images clustering)
    the exchange's sampling pass would count every row twice.
    ``obs.get`` (after the action) gives:

    - rows_written: every row;
    - errors: rows whose enrich_status is neither 'enriched' nor 'no_gps';
    - no_gps: rows routed around enrichment (enrich_status 'no_gps');
    - no_station: enriched rows without a nearest station;
    - outside_dem: enriched rows whose elevation is NULL;
    - outside_obs_span: enriched rows with a station but no weather for
      their capture date (outside the observation history).
    """
    status = F.col("enrich_status")
    enriched = status == "enriched"
    known = F.coalesce(status.isin("enriched", "no_gps"), F.lit(False))
    station = F.col("weather_station_id").isNotNull()

    def n(cond):
        return F.count(F.when(cond, 1))

    return df.observe(
        obs,
        F.count(F.lit(1)).alias("rows_written"),
        n(~known).alias("errors"),
        n(status == "no_gps").alias("no_gps"),
        n(enriched & ~station).alias("no_station"),
        n(enriched & F.col("elevation").isNull()).alias("outside_dem"),
        n(enriched & station & F.col("weather.temp_c").isNull()).alias(
            "outside_obs_span"
        ),
    )


def run_metrics(
    run_id: str,
    counters: dict[str, int],
    wall_seconds: float,
    spark=None,
) -> DataFrame:
    """Metrics table rows with the reference's metric names for one run's
    ``observe_run`` counters: processed ← rows_written, errors ← errors,
    plus one ``NULL_REASON_METRICS`` row per NULL reason. Built from an
    Arrow table, so Spark plans a LocalTableScan (no Python worker)."""
    import pyarrow as pa
    from pyspark.sql import SparkSession

    spark = spark or SparkSession.getActiveSession()
    rows = [
        (METRIC_DURATION, float(wall_seconds), "seconds"),
        (METRIC_PROCESSED, float(counters["rows_written"]), "files"),
        (METRIC_ERRORS, float(counters["errors"]), "errors"),
    ] + [
        (name, float(counters[k]), "files")
        for k, name in NULL_REASON_METRICS.items()
    ]
    names, values, units = (list(c) for c in zip(*rows))
    table = pa.table(
        {
            "run_id": [run_id] * len(rows),
            "metric_name": names,
            "metric_value": values,
            "unit": units,
        }
    )
    return (
        spark.createDataFrame(
            table,
            "run_id string, metric_name string, metric_value double, unit string",
        )
        .coalesce(1)  # a handful of rows: one task, one file
        .withColumn("recorded_at", F.current_timestamp())
    )


def resume_filter(
    images: DataFrame, processed: DataFrame | None, key_col: str = "image_id"
) -> DataFrame:
    """Checkpoint-resume: drop rows whose key already appears in the
    processed table (left-anti join — SURVEY.md §4 'incremental/skip-done').
    AQE broadcasts the processed-key side when small; at scale both sides
    hash-shuffle on the uniformly distributed key (no skew)."""
    if processed is None:
        return images
    keys = processed.select(F.col(key_col)).distinct()
    return images.join(keys, key_col, "left_anti")


class RunRecorder:
    """Time a run; emit its lineage + metrics DataFrames."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self._t0 = time.time()

    def finish(
        self,
        output: DataFrame,
        counters: dict[str, int],
        key_col: str = "image_id",
    ):
        """``(lineage, metrics)`` for the table ``output`` read back.

        Lineage is one row per partition of ``output`` (checksums of the
        table as written). ``counters``: the ``observe_run`` result of the
        write that produced ``output`` — the metrics come from it, so
        ``output`` is never counted."""
        lineage = partition_lineage(output, self.run_id, key_col)
        metrics = run_metrics(
            self.run_id, counters, time.time() - self._t0,
            spark=output.sparkSession,
        )
        return lineage, metrics
