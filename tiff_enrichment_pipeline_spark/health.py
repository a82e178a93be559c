"""Submit-time preflight — the reference's health gate, Spark-shaped.

The reference probes Postgres, Redis, and the filesystem before any work
(src/pipeline/main.py:411-413, src/pipeline/health.py:92-107) so a dead
dependency fails in seconds, not mid-run. This engine has no services to
probe — its dependencies are the Spark session, the input tables, and the
output location — so the preflight checks exactly those:

- session alive (a ``SELECT 1`` collect) and the session timezone is UTC
  (as session.py sets it);
- every input table present, readable, and schema-bearing (a
  ``spark.read.parquet(...).schema`` touch — metadata only, no data scan);
- output location writable: create + delete of a ``_preflight`` marker
  file through the Hadoop FileSystem API (any scheme, no Spark job).

Returns a dict of check → 'ok' (for the summary JSON); raises
``HealthCheckError`` listing every failure at once, like config validation.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

# what the flagship CLI actually reads (images ← orders, stations/obs ←
# supplier; landcover/DEM are generated fixtures). Callers probing other
# query surfaces pass their own ``tables``.
REQUIRED_TABLES = ("orders", "supplier")


class HealthCheckError(RuntimeError):
    """Preflight failures, one per line."""


def preflight(
    spark: SparkSession,
    sf_dir: str,
    output_dir: str | None = None,
    tables: tuple[str, ...] = REQUIRED_TABLES,
) -> dict[str, str]:
    checks: dict[str, str] = {}
    errs: list[str] = []

    try:
        spark.sql("SELECT 1").collect()
        checks["spark_session"] = "ok"
    except Exception as e:  # pragma: no cover - session death is exotic
        errs.append(f"spark_session: {e}")

    tz = spark.conf.get("spark.sql.session.timeZone", "")
    if tz != "UTC":
        errs.append(
            f"session timezone is {tz!r}, not UTC — oracle parity and "
            "date-keyed joins assume UTC (session.py sets it)"
        )
    else:
        checks["timezone_utc"] = "ok"

    for t in tables:
        path = f"{sf_dir}/{t}.parquet"
        try:
            n_fields = len(spark.read.parquet(path).schema.fields)
            if n_fields == 0:
                errs.append(f"input {path}: empty schema")
            else:
                checks[f"input_{t}"] = "ok"
        except Exception as e:
            errs.append(f"input {path}: {type(e).__name__}: {e}")

    if output_dir is not None:
        from tiff_enrichment_pipeline_spark.sources.images import hadoop_fs

        try:
            fs, marker = hadoop_fs(spark, f"{output_dir}/_preflight")
            fs.create(marker, True).close()
            fs.delete(marker, False)
            checks["output_writable"] = "ok"
        except Exception as e:
            errs.append(f"output {output_dir}: not writable: {e}")

    if errs:
        raise HealthCheckError("preflight failed:\n  " + "\n  ".join(errs))
    return checks
