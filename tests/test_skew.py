"""Hot-cell skew: the fixture really is skewed."""

from __future__ import annotations

from pyspark.sql import functions as F

from tiff_enrichment_pipeline_spark import geotables, grid
from tiff_enrichment_pipeline_spark.operators.skew import hot_cells


def test_fixture_has_hot_cells(spark):
    img = geotables.images_geo(spark, "/root/testdata/sf0.01")
    cells = img.withColumn(
        "cell_r8", grid.cell_of(F.col("lon"), F.col("lat"), grid.RES8)
    )
    hot = hot_cells(cells, "cell_r8", threshold_ratio=0.01).collect()
    # the deliberate 20%-in-0.02° cluster lands in a handful of res-8 cells
    assert len(hot) >= 1
    assert sum(r["n"] for r in hot) >= 0.15 * cells.count()

