"""Deterministic hierarchical quad-cell grid — the engine's spatial index.

Replaces the reference's PostGIS ``GEOMETRY(POINT, 4326)`` + GIST index
(reference: scripts/create-tables.sql:74-79,257) with int64 cell-id columns,
the standard Spark pattern for spatial joins (equi-join on cell, then exact
refinement). The ``h3`` PyPI package is not available in this container, so
per SURVEY.md §7.0 we use a self-contained scheme whose semantics we control:

- Resolution ``k`` splits lon [-180,180) into ``2**k`` columns and
  lat [-90,90) into ``2**(k-1)`` rows — cells square in degrees.
- ``cell = k*2**56 + ix*2**28 + iy`` (pure arithmetic: identical in Spark,
  DuckDB, and numpy — this is what makes the grid oracle-checkable).
- Aperture 4: parent(k) has ``ix>>1, iy>>1`` at ``k-1``.
- k-ring: Chebyshev ring on the (ix, iy) lattice with lon wraparound and lat
  clamp — the analogue of H3's ``k_ring`` used by the kNN weather join
  (SURVEY.md J6).

Named resolutions mirror the H3 levels in BASELINE.json ("H3 res 7-9"):
RES7/RES8/RES9 = k 13/15/17 → cell width 0.044° / 0.011° / 0.0027°
(≈ 3.0 / 0.76 / 0.19 km at 52°N) — comparable areas to H3 res 7/8/9.

Everything here is either a Catalyst Column expression (JVM-side, codegen'd,
no Python in the hot path) or numpy (fixture/test side).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

# Bit layout: cell = k<<56 | ix<<28 | iy  (encoded via *,+ for SQL parity)
_IX_SHIFT = 2**28
_K_SHIFT = 2**56

# H3-ish named resolutions (BASELINE.json "H3 res 7-9")
RES7 = 13
RES8 = 15
RES9 = 17


def cell_width_deg(k: int) -> float:
    """Cell width (== height) in degrees at resolution k."""
    return 360.0 / (2**k)


# ---------------------------------------------------------------------------
# Column-expression encode / decode (pure built-ins → whole-stage codegen)
# ---------------------------------------------------------------------------

def cell_of(lon: Column, lat: Column, k: int) -> Column:
    """Encode (lon, lat) → int64 cell id at resolution k.

    Null-safe for real: NULL (or NaN) lon/lat yields a NULL cell id.
    F.least/F.greatest skip nulls, so without the guard a null coordinate
    would silently encode to the valid corner cell (ix=nx-1, iy=ny-1) and
    pile every GPS-less row into one fake hot cell.
    """
    nx = 2**k
    ny = 2 ** (k - 1)
    ix = F.least(F.floor((lon + F.lit(180.0)) / F.lit(360.0) * nx), F.lit(nx - 1))
    ix = F.greatest(ix, F.lit(0))
    iy = F.least(F.floor((lat + F.lit(90.0)) / F.lit(180.0) * ny), F.lit(ny - 1))
    iy = F.greatest(iy, F.lit(0))
    # cheap guard in the hottest codegen loop: lon+lat is NaN if either is
    # NaN and NULL if either is NULL (note Spark's isnan(NULL) is false,
    # so the null check is separate) — two predicates on one sum instead
    # of four per-column predicates (which measurably slowed the 8-core
    # JVM-only arm)
    s = lon.cast("double") + lat.cast("double")
    ok = s.isNotNull() & ~F.isnan(s)
    cell = (F.lit(k) * F.lit(_K_SHIFT) + ix * F.lit(_IX_SHIFT) + iy).cast("long")
    return F.when(ok, cell)


def cell_ix(cell: Column) -> Column:
    return F.floor((cell % F.lit(_K_SHIFT)) / F.lit(_IX_SHIFT)).cast("long")


def cell_iy(cell: Column) -> Column:
    return (cell % F.lit(_IX_SHIFT)).cast("long")


def cell_parent(cell: Column, parent_k: int, child_k: int) -> Column:
    """Parent cell at coarser resolution (aperture-4 hierarchy walk)."""
    if parent_k >= child_k:
        raise ValueError("parent resolution must be coarser (smaller k)")
    shift = 2 ** (child_k - parent_k)
    ix = F.floor(cell_ix(cell) / F.lit(shift))
    iy = F.floor(cell_iy(cell) / F.lit(shift))
    return (F.lit(parent_k) * F.lit(_K_SHIFT) + ix * F.lit(_IX_SHIFT) + iy).cast("long")


def cell_center(cell: Column, k: int) -> tuple[Column, Column]:
    """(lon, lat) of cell center."""
    w = cell_width_deg(k)
    lon = F.lit(-180.0) + (cell_ix(cell).cast("double") + F.lit(0.5)) * F.lit(w)
    lat = F.lit(-90.0) + (cell_iy(cell).cast("double") + F.lit(0.5)) * F.lit(w)
    return lon, lat


def kring_cells(cell: Column, k: int, radius: int) -> Column:
    """Array column of all cells within Chebyshev ring ``radius`` of ``cell``.

    Lon wraps (ix mod 2**k); lat clamps (rows outside [0, 2**(k-1)) dropped).
    This is the engine's ``k_ring`` — build-side expansion for the kNN
    weather-station join (SURVEY.md J6; reference schema
    scripts/create-tables.sql:128-132). The offset list is a compile-time
    constant array, so the whole expansion stays JVM-side.
    """
    nx = 2**k
    ny = 2 ** (k - 1)
    ix, iy = cell_ix(cell), cell_iy(cell)
    neighbors = []
    for dx in range(-radius, radius + 1):
        for dy in range(-radius, radius + 1):
            nix = (ix + F.lit(dx) + F.lit(nx)) % F.lit(nx)
            niy = iy + F.lit(dy)
            c = (F.lit(k) * F.lit(_K_SHIFT) + nix * F.lit(_IX_SHIFT) + niy).cast("long")
            neighbors.append(F.when((niy >= 0) & (niy < ny), c))
    return F.array_compact(F.array(*neighbors))


# Z-order (Morton) curve — spatial file clustering for the write path.
# Interleaving the (ix, iy) lattice bits makes lexicographic order follow
# a space-filling curve, so sorting a table by z before writing gives every
# parquet file/row-group a TIGHT lon/lat min-max envelope — bbox predicates
# then prune row groups at scan time (the Spark/Delta/Iceberg OPTIMIZE
# ZORDER pattern, here as a pure-arithmetic Catalyst expression with a SQL
# twin). Default res 16 → 16+15 interleaved bits, z < 2^31.
ZORDER_RES = 16


def zorder_of(lon: Column, lat: Column, k: int = ZORDER_RES) -> Column:
    """Morton z-value of the res-``k`` lattice cell containing (lon, lat).

    Pure +,*,floor,% arithmetic (identical in DuckDB — ``zorder_sql``) so
    it stays inside whole-stage codegen; NULL/NaN GPS → NULL (those rows
    cluster together at the end of the sort order)."""
    nx, ny = 2**k, 2 ** (k - 1)
    ix = F.greatest(
        F.least(F.floor((lon + F.lit(180.0)) / F.lit(360.0) * nx), F.lit(nx - 1)),
        F.lit(0),
    )
    iy = F.greatest(
        F.least(F.floor((lat + F.lit(90.0)) / F.lit(180.0) * ny), F.lit(ny - 1)),
        F.lit(0),
    )
    z = None
    for b in range(k):
        t = (F.floor(ix / F.lit(2**b)) % 2) * F.lit(2 ** (2 * b))
        z = t if z is None else z + t
        if b < k - 1:  # iy has one bit fewer
            z = z + (F.floor(iy / F.lit(2**b)) % 2) * F.lit(2 ** (2 * b + 1))
    s = lon.cast("double") + lat.cast("double")
    ok = s.isNotNull() & ~F.isnan(s)
    return F.when(ok, z.cast("long"))


def zorder_sql(lon_expr: str, lat_expr: str, k: int = ZORDER_RES) -> str:
    """ANSI-SQL text computing the identical z-value (oracle parity)."""
    nx, ny = 2**k, 2 ** (k - 1)
    ix = f"CAST(GREATEST(LEAST(FLOOR(({lon_expr}+180.0)/360.0*{nx}), {nx - 1}), 0) AS BIGINT)"
    iy = f"CAST(GREATEST(LEAST(FLOOR(({lat_expr}+90.0)/180.0*{ny}), {ny - 1}), 0) AS BIGINT)"
    terms = []
    for b in range(k):
        terms.append(f"(({ix}//{2**b})%2)*{2 ** (2 * b)}")
        if b < k - 1:
            terms.append(f"(({iy}//{2**b})%2)*{2 ** (2 * b + 1)}")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def zorder_np(lon: np.ndarray, lat: np.ndarray, k: int = ZORDER_RES) -> np.ndarray:
    nx, ny = 2**k, 2 ** (k - 1)
    ix = np.clip(
        np.floor((np.asarray(lon, np.float64) + 180.0) / 360.0 * nx), 0, nx - 1
    ).astype(np.int64)
    iy = np.clip(
        np.floor((np.asarray(lat, np.float64) + 90.0) / 180.0 * ny), 0, ny - 1
    ).astype(np.int64)
    z = np.zeros_like(ix)
    for b in range(k):
        z += ((ix >> b) & 1) << (2 * b)
        if b < k - 1:
            z += ((iy >> b) & 1) << (2 * b + 1)
    return z


# ---------------------------------------------------------------------------
# Hilbert-curve cell index — the S2 analog (BASELINE north star names BOTH
# "H3 (res 7-9)" — the quad-cell family above — AND "S2 cells"; S2's
# defining trait vs Morton/quad is the Hilbert space-filling curve, whose
# consecutive indices are ALWAYS grid-adjacent, giving strictly better
# write/scan locality than the z-curve for range reads).
# ---------------------------------------------------------------------------

HILBERT_RES = 13  # 8192×8192 lattice ≈ the res-13 (H3-7-like) granularity


def _hilbert_lattice(lon: Column, lat: Column, k: int) -> tuple[Column, Column]:
    n = 2**k
    ix = F.greatest(
        F.least(F.floor((lon + F.lit(180.0)) / F.lit(360.0) * n), F.lit(n - 1)),
        F.lit(0),
    ).cast("long")
    iy = F.greatest(
        F.least(F.floor((lat + F.lit(90.0)) / F.lit(180.0) * n), F.lit(n - 1)),
        F.lit(0),
    ).cast("long")
    return ix, iy


def with_hilbert(
    df,
    lon: str = "lon",
    lat: str = "lat",
    k: int = HILBERT_RES,
    out: str = "hilbert",
):
    """df + ``out`` = Hilbert index (order ``k``) of the lattice cell
    containing (lon, lat). NULL/NaN GPS → NULL (NULL propagates through
    every step).

    The classic xy→d loop carries (x, y, d) state across ``k``
    iterations; a single Column expression would re-reference each state
    3× per level (exponential text blowup), so this is a DataFrame
    transform — one ``withColumn`` chain per level, which Catalyst
    collapses into a single codegen'd Project (linear plan size). Same
    shape as the SQL twin's chained CTEs (``hilbert_sql_ctes``). Stays
    100% JVM-side."""
    n = 2**k
    # temp state columns are dropped on exit; refuse inputs that would be
    # silently clobbered (reachable via write_images(cluster='hilbert') on
    # arbitrary user tables — ADVICE r4)
    reserved = {"_hx", "_hy", "_hd", "_rx", "_ry", "_hx_n", "_hy_n"}
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            f"with_hilbert reserves temp column names {sorted(reserved)}; "
            f"input already has {sorted(clash)} — rename them first"
        )
    ix, iy = _hilbert_lattice(F.col(lon), F.col(lat), k)
    # NaN coords: floor(NaN) is NaN-poisoned via least/greatest on some
    # paths — force NULL so the propagation invariant holds
    s = F.col(lon).cast("double") + F.col(lat).cast("double")
    ok = s.isNotNull() & ~F.isnan(s)
    df = (
        df.withColumn("_hx", F.when(ok, ix))
        .withColumn("_hy", F.when(ok, iy))
        .withColumn("_hd", F.when(ok, F.lit(0)).cast("long"))
    )
    for b in range(k - 1, -1, -1):
        step = 2**b
        rx = (F.floor(F.col("_hx") / F.lit(step)) % 2).cast("long")
        ry = (F.floor(F.col("_hy") / F.lit(step)) % 2).cast("long")
        df = df.withColumn("_rx", rx).withColumn("_ry", ry)
        # (3·rx) XOR ry as pure arithmetic: 3rx + ry − 2·rx·ry
        df = df.withColumn(
            "_hd",
            F.col("_hd")
            + F.lit(step * step)
            * (
                F.lit(3) * F.col("_rx")
                + F.col("_ry")
                - F.lit(2) * F.col("_rx") * F.col("_ry")
            ),
        )
        # rotate/flip the frame (flip is n−1−·, the FULL lattice width)
        nx_ = (
            F.when(
                F.col("_ry") == 0,
                F.when(
                    F.col("_rx") == 1, F.lit(n - 1) - F.col("_hy")
                ).otherwise(F.col("_hy")),
            ).otherwise(F.col("_hx"))
        )
        ny_ = (
            F.when(
                F.col("_ry") == 0,
                F.when(
                    F.col("_rx") == 1, F.lit(n - 1) - F.col("_hx")
                ).otherwise(F.col("_hx")),
            ).otherwise(F.col("_hy"))
        )
        df = (
            df.withColumn("_hx_n", nx_)
            .withColumn("_hy_n", ny_)
            .drop("_hx", "_hy")
            .withColumnRenamed("_hx_n", "_hx")
            .withColumnRenamed("_hy_n", "_hy")
        )
    return df.withColumn(out, F.col("_hd")).drop("_hx", "_hy", "_hd", "_rx", "_ry")


def hilbert_sql_ctes(
    base: str,
    keep_cols: str,
    lon_expr: str,
    lat_expr: str,
    k: int = HILBERT_RES,
    out: str = "hilbert",
) -> str:
    """Chained-CTE SQL computing the identical Hilbert index over rows of
    CTE/table ``base`` (DuckDB oracle twin of ``with_hilbert``; linear
    text size — each level references the previous CTE's columns a
    constant number of times). Returns text of the form
    ``h0 AS (...), h1 AS (...), ..., hK AS (SELECT keep_cols, hd AS out)``
    — splice after your base CTE and select from ``h{k}``."""
    n = 2**k
    # NULL/NaN gate mirroring with_hilbert's Spark-side `ok` guard:
    # DuckDB GREATEST/LEAST SKIP NULLs (unlike Spark, where they
    # propagate), so an ungated NULL lon would clamp to a real far-corner
    # cell instead of staying NULL
    ok = f"(({lon_expr}+{lat_expr}) IS NOT NULL AND NOT isnan({lon_expr}+{lat_expr}))"
    ix = (
        f"CASE WHEN {ok} THEN CAST(GREATEST(LEAST("
        f"FLOOR(({lon_expr}+180.0)/360.0*{n}), {n - 1}), 0) AS BIGINT) END"
    )
    iy = (
        f"CASE WHEN {ok} THEN CAST(GREATEST(LEAST("
        f"FLOOR(({lat_expr}+90.0)/180.0*{n}), {n - 1}), 0) AS BIGINT) END"
    )
    parts = [
        f"h0 AS (SELECT {keep_cols}, {ix} AS hx, {iy} AS hy,"
        f" CAST(0 AS BIGINT) AS hd FROM {base})"
    ]
    lvl = 0
    for b in range(k - 1, -1, -1):
        step = 2**b
        rx = f"((hx//{step})%2)"
        ry = f"((hy//{step})%2)"
        parts.append(
            f"h{lvl + 1} AS (SELECT {keep_cols}, "
            f"CASE WHEN {ry}=0 THEN CASE WHEN {rx}=1 THEN {n - 1}-hy ELSE hy END ELSE hx END AS hx, "
            f"CASE WHEN {ry}=0 THEN CASE WHEN {rx}=1 THEN {n - 1}-hx ELSE hx END ELSE hy END AS hy, "
            f"hd + {step * step}*(3*{rx} + {ry} - 2*{rx}*{ry}) AS hd "
            f"FROM h{lvl})"
        )
        lvl += 1
    parts.append(
        f"h{lvl + 1} AS (SELECT {keep_cols}, hd AS {out} FROM h{lvl})"
    )
    return ",\n    ".join(parts)


def hilbert_np(
    lon: np.ndarray, lat: np.ndarray, k: int = HILBERT_RES
) -> np.ndarray:
    """Vectorized reference (tests, fixtures)."""
    n = 2**k
    x = np.clip(
        np.floor((np.asarray(lon, np.float64) + 180.0) / 360.0 * n), 0, n - 1
    ).astype(np.int64)
    y = np.clip(
        np.floor((np.asarray(lat, np.float64) + 90.0) / 180.0 * n), 0, n - 1
    ).astype(np.int64)
    d = np.zeros_like(x)
    s = n // 2
    while s > 0:
        rx = ((x & s) > 0).astype(np.int64)
        ry = ((y & s) > 0).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        flip = (ry == 0) & (rx == 1)
        swap = ry == 0
        x2 = np.where(flip, n - 1 - x, x)
        y2 = np.where(flip, n - 1 - y, y)
        x, y = np.where(swap, y2, x2), np.where(swap, x2, y2)
        s //= 2
    return d


def hilbert_d2xy_np(d: np.ndarray, k: int = HILBERT_RES) -> tuple[np.ndarray, np.ndarray]:
    """Inverse curve walk (test oracle for the adjacency property)."""
    n = 2**k
    t = np.asarray(d, np.int64).copy()
    x = np.zeros_like(t)
    y = np.zeros_like(t)
    s = 1
    while s < n:
        rx = (t // 2) & 1
        ry = (t ^ rx) & 1
        flip = (ry == 0) & (rx == 1)
        swap = ry == 0
        x2 = np.where(flip, s - 1 - x, x)
        y2 = np.where(flip, s - 1 - y, y)
        x, y = np.where(swap, y2, x2), np.where(swap, x2, y2)
        x = x + s * rx
        y = y + s * ry
        t //= 4
        s *= 2
    return x, y


# ---------------------------------------------------------------------------
# SQL generator (DuckDB-oracle parity) — same arithmetic, ANSI SQL text
# ---------------------------------------------------------------------------

def cell_sql(lon_expr: str, lat_expr: str, k: int) -> str:
    """ANSI-SQL text computing the identical cell id (for oracle_sql())."""
    nx, ny = 2**k, 2 ** (k - 1)
    # CAST each FLOOR to BIGINT *before* multiplying: DuckDB FLOOR yields
    # DOUBLE, and cell ids exceed 2^53 (Spark's F.floor is already LONG).
    ix = f"CAST(GREATEST(LEAST(FLOOR(({lon_expr}+180.0)/360.0*{nx}), {nx - 1}), 0) AS BIGINT)"
    iy = f"CAST(GREATEST(LEAST(FLOOR(({lat_expr}+90.0)/180.0*{ny}), {ny - 1}), 0) AS BIGINT)"
    return (
        f"({k}*CAST({_K_SHIFT} AS BIGINT) + {ix}*{_IX_SHIFT} + {iy})"
    )


# ---------------------------------------------------------------------------
# numpy side (fixtures, polygon covers, brute-force test oracles)
# ---------------------------------------------------------------------------

def cell_of_np(lon: np.ndarray, lat: np.ndarray, k: int) -> np.ndarray:
    nx, ny = 2**k, 2 ** (k - 1)
    ix = np.clip(np.floor((np.asarray(lon, np.float64) + 180.0) / 360.0 * nx), 0, nx - 1)
    iy = np.clip(np.floor((np.asarray(lat, np.float64) + 90.0) / 180.0 * ny), 0, ny - 1)
    return (
        np.int64(k) * np.int64(_K_SHIFT)
        + ix.astype(np.int64) * np.int64(_IX_SHIFT)
        + iy.astype(np.int64)
    )
