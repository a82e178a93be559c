"""Geographic hot-cell skew handling.

The fixture data deliberately puts ~20% of all images into a ~0.02° cluster
(a handful of res-8 cells — FIXTURES.md §1), modeling urban geotag pileups.
Where that matters and what this engine does (SURVEY.md §4):

1. **Broadcast joins (PIP, kNN, DEM)** — immune: no exchange is keyed by
   cell, so hot cells cannot concentrate work. This is the primary defense:
   the engine's physical plans keep geography out of shuffle keys.
2. **Per-cell aggregations** — Spark's partial (map-side) aggregation
   already absorbs algebraic-agg skew; no salting needed for
   count/sum/min/max per cell.
3. **Shuffle joins on cell or tile keys** (big probe × non-broadcastable
   build: a planetary polygon cover in ``within_distance_join``, a
   planetary DEM in ``elevation_join``/``terrain_join`` with
   ``broadcast_dem=False``) — plain sort-merge joins by default, with
   AQE's skew-join splitting (enabled in session.py) dividing a hot key's
   partition at run time once it passes ``spark.sql.adaptive.skewJoin.*``
   (256 MB and 5× the median by default; below that a hot partition is
   left whole). Explicit salting is opt-in (``salt=N``):
   ``salted_join`` / ``with_salt`` + ``replicate_build`` replicate the
   build side ×N and scatter the probe by ``pmod(hash(row identity), N)``,
   turning one hot partition into N even ones; it also covers the
   aggregation-after-join shape AQE can't fix. The identity must tell the
   rows of a pileup apart (the DEM joins hash the whole probe row, not its
   coordinates: an exact-point pileup shares them).
4. **collect_list / windows per hot key** — avoided by construction (the
   kNN top-k is computed map-side; capture groupBy keys are uniform ids).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_salt(
    df: DataFrame, identity_col: str | list[str], n_salt: int
) -> DataFrame:
    """Deterministic salt in [0, n_salt) from the row identity — one column
    or several (NOT rand(): resume/retry must reproduce the same salt —
    SURVEY.md §7.3)."""
    cols = [identity_col] if isinstance(identity_col, str) else identity_col
    return df.withColumn(
        "_salt", F.pmod(F.hash(*map(F.col, cols)), F.lit(n_salt)).cast("int")
    )


def replicate_build(build: DataFrame, n_salt: int) -> DataFrame:
    """Build side × n_salt (one copy per salt bucket)."""
    return build.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    ).withColumn("_salt", F.col("_salt").cast("int"))


def salted_join(
    probe: DataFrame,
    build: DataFrame,
    on: list[str],
    identity_col: str,
    n_salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join on ``on`` keys with probe-side salting: equivalent rows to
    ``probe.join(build, on, how)`` but a hot key's rows spread across
    ``n_salt`` shuffle partitions. Build side grows ×n_salt — use only when
    the build side is too big to broadcast but small enough to replicate.
    """
    p = with_salt(probe, identity_col, n_salt)
    b = replicate_build(build, n_salt)
    return p.join(b, [*on, "_salt"], how).drop("_salt")


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
