"""Session-level behaviour: the codegen cache holds the engine's working set,
and the engine's pandas UDFs survive a session restart."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

from pyspark.sql import functions as F

REPO = Path(__file__).resolve().parent.parent


def test_codegen_cache_holds_a_mix_over_100_classes(spark):
    """A repeated mix of more than 100 generated classes (Spark's default
    codegen cache size) compiles nothing on its second pass: an LRU cache
    smaller than a cyclic working set misses on every lookup."""
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = compiles.METRIC_COMPILATION_TIME()
    base = spark.range(64)
    # each literal pair yields its own whole-stage class
    mix = [
        base.select((F.col("id") * k + k).alias("v")).filter(F.col("v") % (k + 2) > 0)
        for k in range(130)
    ]
    for q in mix:
        q.collect()
    before = compiles.getCount()
    for q in mix:
        q.collect()
    assert compiles.getCount() == before


_RESTART = textwrap.dedent(
    """
    from pyspark.sql import functions as F
    from tiff_enrichment_pipeline_spark import grid
    from tiff_enrichment_pipeline_spark.fixtures import images_df, landcover_concave_df
    from tiff_enrichment_pipeline_spark.operators.pip_join import landcover_pip_join
    from tiff_enrichment_pipeline_spark.raster.udfs import decode_status, psnr_vs_q12
    from tiff_enrichment_pipeline_spark.session import get_spark

    for _ in range(2):
        spark = get_spark("restart", master="local[2]", shuffle_partitions=2)
        img = images_df(spark, 2)
        cols = [F.col(c) for c in ("bytes", "w", "h", "fmt")]
        img.select(decode_status(*cols), psnr_vs_q12(*cols)).collect()
        landcover_pip_join(
            img.select("image_id", "lon", "lat"), landcover_concave_df(spark),
            res=grid.RES7, rects_only_nonoverlapping=False,
        ).collect()
        spark.stop()
    """
)


def test_udfs_survive_session_restart(tmp_path):
    """decode_status, psnr_vs_q12 and the PIP even-odd UDF, run in a
    session, then again in a restarted one, report their accumulators to
    the live SparkContext (a UDF kept from the first session writes to its
    closed socket: "Failed to update accumulator … Broken pipe")."""
    env = dict(os.environ, PYTHONPATH=str(REPO))
    run = subprocess.run(
        [sys.executable, "-c", _RESTART],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0, run.stderr[-2000:]
    assert "Failed to update accumulator" not in run.stderr
