"""Geographic hot-cell skew handling.

The fixture data deliberately puts ~20% of all images into a ~0.02° cluster
(a handful of res-8 cells — FIXTURES.md §1), modeling urban geotag pileups.
Where that matters and what this engine does (SURVEY.md §4):

1. **Broadcast joins (PIP, kNN, DEM)** — immune: no exchange is keyed by
   cell, so hot cells cannot concentrate work. This is the primary defense:
   the engine's physical plans keep geography out of shuffle keys.
2. **Per-cell aggregations** — Spark's partial (map-side) aggregation
   already absorbs algebraic-agg skew for count/sum/min/max per cell.
3. **Shuffle joins on cell or tile keys** (big probe × non-broadcastable
   build: a planetary DEM in ``elevation_join``/``terrain_join`` with
   ``broadcast_dem=False``, a planetary point set in
   ``within_distance_join`` with ``broadcast_build=False``) — plain
   sort-merge joins. AQE's skew-join split (enabled in session.py) divides
   a hot key's partition at run time once it passes
   ``spark.sql.adaptive.skewJoin.*`` (256 MB and 5× the median by
   default; below that a hot partition is left whole). That is the only
   policy of the DEM joins: unsalted was no slower than salted on the
   ``bench.py --skew-joins`` hot shape (half the probes on one point).
   ``within_distance_join`` alone keeps opt-in salting (``salt=N``):
   ``with_salt`` + ``replicate_build`` replicate the cover ×N and scatter
   the probe by ``pmod(hash(probe id), N)``, turning one hot partition
   into N even ones — measured faster than unsalted on that hot shape,
   slower on the uniform one.
4. **collect_list / windows per hot key** — avoided by construction (the
   kNN top-k is computed map-side; capture groupBy keys are uniform ids).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, identity_col: str, n_salt: int) -> DataFrame:
    """Deterministic salt in [0, n_salt) from the row identity (NOT rand():
    resume/retry must reproduce the same salt — SURVEY.md §7.3)."""
    return df.withColumn(
        "_salt", F.pmod(F.hash(F.col(identity_col)), F.lit(n_salt)).cast("int")
    )


def replicate_build(build: DataFrame, n_salt: int) -> DataFrame:
    """Build side × n_salt (one copy per salt bucket)."""
    return build.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    ).withColumn("_salt", F.col("_salt").cast("int"))


def hot_cells(df: DataFrame, cell_col: str, threshold_ratio: float = 0.01) -> DataFrame:
    """Diagnostic: cells holding more than ``threshold_ratio`` of all rows
    (what you'd feed a targeted-salting or AQE-verification step)."""
    total = df.count()
    return (
        df.groupBy(cell_col)
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > total * threshold_ratio)
        .orderBy(F.desc("n"))
    )
