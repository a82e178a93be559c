"""Raster↔vector elevation alignment: DEM tile join + bilinear sampling.

Re-creates the reference's declared elevation enrichment
(elevation_meters DECIMAL(8,2) + elevation_source usgs_3dep/nasa_srtm +
elevation_accuracy_meters; reference: scripts/create-tables.sql:122-126,
scripts/init-db.sql:59,62) as a grid equi-join (SURVEY.md J7):

1. Image point → integer tile key ``(floor(lon/T), floor(lat/T))`` — pure
   column math, pushes down to partition pruning when the DEM table is
   written partitioned by tile key.
2. Left equi-join against the DEM tile table on that key, one of two ways:
   - ``broadcast_dem=True`` (a region's DEM): the grids ship to Python once,
     as one broadcast float32 stack, and the UDF gathers each probe's 4
     corner samples from it;
   - ``broadcast_dem=False`` (a planetary DEM): a sort-merge join moves
     each grid through the shuffle once, the JVM cuts the probe's 4 float32
     corner words out of it, and only those 16 bytes cross to Python.
3. Both strategies finish in the same numpy corner kernels (``_bilinear``,
   ``_terrain``: per-batch numpy, never per-row interpretation of pixels;
   edge samples clamp to the grid border), so their values are
   bit-identical.

The grid payload is a raw little-endian float32 N×N buffer (row-major
``grid[j, i]``, i = lon axis) in its own binary column, so Catalyst prunes
it away for any query not sampling elevation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from tiff_enrichment_pipeline_spark.geotables import DEM_N, DEM_STEP, DEM_TILE_DEG


def bilinear_sample_np(
    grid_f32: np.ndarray, lon: float, lat: float, tx: int, ty: int
) -> float:
    """Bilinear sample of one tile grid (grid[j, i], i=lon axis).

    Index/clamp/weight arithmetic matches geotables.elevation_bilinear_sql
    exactly (double precision, float32 corner values) so the DuckDB oracle
    reproduces results bit-for-bit up to libm trig rounding.
    """
    fx = (lon - tx * DEM_TILE_DEG) / DEM_STEP - 0.5
    fy = (lat - ty * DEM_TILE_DEG) / DEM_STEP - 0.5
    i0 = int(min(max(np.floor(fx), 0), DEM_N - 2))
    j0 = int(min(max(np.floor(fy), 0), DEM_N - 2))
    wx = min(max(fx - i0, 0.0), 1.0)
    wy = min(max(fy - j0, 0.0), 1.0)
    v00 = float(grid_f32[j0, i0])
    v10 = float(grid_f32[j0, i0 + 1])
    v01 = float(grid_f32[j0 + 1, i0])
    v11 = float(grid_f32[j0 + 1, i0 + 1])
    return (1.0 - wy) * ((1.0 - wx) * v00 + wx * v10) + wy * (
        (1.0 - wx) * v01 + wx * v11
    )


def tile_key(lon, lat):
    # NaN-gated (ANSI cast NaN→int throws; NULL floor is already NULL)
    tx = F.when(~F.isnan(lon), F.floor(lon / F.lit(DEM_TILE_DEG))).cast("int")
    ty = F.when(~F.isnan(lat), F.floor(lat / F.lit(DEM_TILE_DEG))).cast("int")
    return tx, ty


# ---------------------------------------------------------------------------
# Corner kernels — the one copy of the sampling math every DEM path calls
# ---------------------------------------------------------------------------

# sun position defaults shared with geotables.terrain_sql (GDAL defaults)
_HS_AZ_DEG = 315.0
_HS_ALT_DEG = 45.0
_M_PER_DEG_LAT = 2.0 * 3.141592653589793 * 6371000.0 / 360.0


def _cell(lon_v, lat_v, tx_v, ty_v):
    """Each probe's grid cell (i0, j0) inside its tile and its bilinear
    weights (wx, wy), in double precision. The SQL twins —
    geotables._bilinear_pieces_sql and ``_corner_words`` — run the same
    IEEE ops in the same order, so all three pick the same corners."""
    fx = (lon_v - tx_v * DEM_TILE_DEG) / DEM_STEP - 0.5
    fy = (lat_v - ty_v * DEM_TILE_DEG) / DEM_STEP - 0.5
    i0 = np.clip(np.floor(fx), 0, DEM_N - 2).astype(np.int64)
    j0 = np.clip(np.floor(fy), 0, DEM_N - 2).astype(np.int64)
    return i0, j0, np.clip(fx - i0, 0.0, 1.0), np.clip(fy - j0, 0.0, 1.0)


def _bilinear(v00, v10, v01, v11, wx, wy):
    """Bilinear sample from the 4 (float64) corner values."""
    return (1.0 - wy) * ((1.0 - wx) * v00 + wx * v10) + wy * (
        (1.0 - wx) * v01 + wx * v11
    )


def _terrain(v00, v10, v01, v11, wx, wy, lat_v):
    """(slope_deg, aspect_deg, hillshade) — the analytic gradient of the
    SAME bilinear surface ``_bilinear`` samples (SQL twin:
    geotables.terrain_sql). Aspect is the azimuth of the downslope
    direction, clockwise from north, NaN when flat."""
    gxg = (1.0 - wy) * (v10 - v00) + wy * (v11 - v01)
    gyg = (1.0 - wx) * (v01 - v00) + wx * (v11 - v10)
    m_lon = _M_PER_DEG_LAT * np.cos(np.radians(lat_v))
    gx = gxg / (DEM_STEP * m_lon)
    gy = gyg / (DEM_STEP * _M_PER_DEG_LAT)
    slope_r = np.arctan(np.sqrt(gx * gx + gy * gy))  # NOT hypot: SQL twin is SQRT
    ar = np.arctan2(-gx, -gy)
    aspect = np.degrees(ar)
    aspect = np.where(aspect < 0.0, aspect + 360.0, aspect)
    # an infinitesimally-negative azimuth + 360.0 rounds to EXACTLY 360.0
    # (float spacing at 360 ≈ 5.7e-14) — the final mod closes the [0, 360)
    # boundary; inputs are ≥ 0 here so numpy/floored and SQL/fmod agree
    aspect = np.mod(aspect, 360.0)
    aspect = np.where((gxg == 0.0) & (gyg == 0.0), np.nan, aspect)
    zen = np.radians(90.0 - _HS_ALT_DEG)
    azr = np.radians(_HS_AZ_DEG)
    hs = 255.0 * (
        np.cos(zen) * np.cos(slope_r)
        + np.sin(zen) * np.sin(slope_r) * np.cos(azr - ar)
    )
    return np.degrees(slope_r), aspect, np.maximum(hs, 0.0)


# ---------------------------------------------------------------------------
# Broadcast strategy: one float32 stack, corners gathered in Python
# ---------------------------------------------------------------------------

def _broadcast_grid_stack(dem_tiles: DataFrame):
    """Broadcast the DEM as ONE stacked float32 ndarray + dense (tx, ty)→index
    map, so a whole batch resolves tile indices and gathers its corner
    values in a handful of vectorized ops — no per-tile loop. float32 is
    the grid's own precision: the gather upcasts the 4 corners, so values
    match a float64 stack at half the broadcast bytes.
    Returns a broadcast of (stack, map2d, tx0, ty0); probes off the map
    (world points) resolve to index -1.
    """
    tile_rows = dem_tiles.select("tile_x", "tile_y", "grid").collect()
    txs = np.array([r["tile_x"] for r in tile_rows], dtype=np.int64)
    tys = np.array([r["tile_y"] for r in tile_rows], dtype=np.int64)
    stack = np.stack(
        [
            np.frombuffer(r["grid"], dtype="<f4").reshape(DEM_N, DEM_N)
            for r in tile_rows
        ]
    ) if tile_rows else np.zeros((0, DEM_N, DEM_N), dtype=np.float32)
    if len(tile_rows):
        tx0, ty0 = int(txs.min()), int(tys.min())
        map2d = np.full(
            (int(txs.max()) - tx0 + 1, int(tys.max()) - ty0 + 1),
            -1,
            dtype=np.int32,
        )
        map2d[txs - tx0, tys - ty0] = np.arange(len(tile_rows), dtype=np.int32)
    else:  # degenerate empty DEM
        tx0 = ty0 = 0
        map2d = np.full((1, 1), -1, dtype=np.int32)
    return dem_tiles.sparkSession.sparkContext.broadcast(
        (stack, map2d, tx0, ty0)
    )


def _tile_indices(map2d, tx0, ty0, tx_v, ty_v, valid):
    """Vectorized (tx, ty) → stack index; -1 for off-map/invalid rows."""
    ix = tx_v - tx0
    iy = ty_v - ty0
    ok = (
        valid
        & (ix >= 0)
        & (ix < map2d.shape[0])
        & (iy >= 0)
        & (iy < map2d.shape[1])
    )
    tidx = np.full(len(tx_v), -1, dtype=np.int64)
    tidx[ok] = map2d[ix[ok], iy[ok]]
    return tidx


def _gather_corners(stack, tidx, i0, j0):
    """(v00, v10, v01, v11) of each probe's cell, upcast to float64."""
    return [
        stack[tidx, j, i].astype(np.float64)
        for j, i in ((j0, i0), (j0, i0 + 1), (j0 + 1, i0), (j0 + 1, i0 + 1))
    ]


def _bilinear_gather(stack, tidx, lon_v, lat_v, tx_v, ty_v) -> np.ndarray:
    """Whole-batch bilinear sample of the stacked grids (the fused
    flagship UDF in geo_arrow calls this too)."""
    i0, j0, wx, wy = _cell(lon_v, lat_v, tx_v, ty_v)
    return _bilinear(*_gather_corners(stack, tidx, i0, j0), wx, wy)


def _stack_resolver(dem_tiles: DataFrame):
    """Per-batch (rows, corners, wx, wy, lat) from the broadcast stack,
    for the on-DEM rows of a (lon, lat, tile_x, tile_y) batch."""
    bc = _broadcast_grid_stack(dem_tiles)

    def resolve(lon_s, lat_s, tx_s, ty_s):
        stack, map2d, tx0, ty0 = bc.value
        lon_v, lat_v, tx_v, ty_v = (
            s.to_numpy(np.float64, na_value=np.nan)
            for s in (lon_s, lat_s, tx_s, ty_s)
        )
        valid = ~np.isnan(lon_v) & ~np.isnan(lat_v) & ~np.isnan(tx_v)
        tx_i = np.where(valid, tx_v, 0).astype(np.int64)
        ty_i = np.where(valid, ty_v, 0).astype(np.int64)
        tidx = _tile_indices(map2d, tx0, ty0, tx_i, ty_i, valid)
        rows = np.flatnonzero(tidx >= 0)
        lat_r = lat_v[rows]
        i0, j0, wx, wy = _cell(lon_v[rows], lat_r, tx_i[rows], ty_i[rows])
        return rows, _gather_corners(stack, tidx[rows], i0, j0), wx, wy, lat_r

    return resolve


# ---------------------------------------------------------------------------
# Partitioned strategy: sort-merge join, corners cut out in the JVM
# ---------------------------------------------------------------------------

def _corner_words(lon: str, lat: str):
    """(v00, v10, v01, v11) as 16 bytes of little-endian float32, cut out
    of ``grid`` in the JVM: two 8-byte runs, grid[j0, i0:i0+2] and
    grid[j0+1, i0:i0+2]. i0/j0 are ``_cell``'s, op for op."""

    def lo(coord, tile):
        f = (F.col(coord) - F.col(tile) * F.lit(DEM_TILE_DEG)) / F.lit(
            DEM_STEP
        ) - F.lit(0.5)
        return F.least(F.greatest(F.floor(f), F.lit(0)), F.lit(DEM_N - 2))

    i0, j0 = lo(lon, "tile_x"), lo(lat, "tile_y")

    def run(j):  # substr positions are 1-based
        pos = (F.lit(4) * (j * F.lit(DEM_N) + i0) + F.lit(1)).cast("int")
        return F.col("grid").substr(pos, F.lit(8))

    return F.concat(run(j0), run(j0 + F.lit(1)))


def _resolve_corners(lon_s, lat_s, tx_s, ty_s, c_s):
    """Per-batch (rows, corners, wx, wy, lat) from the joined corner words;
    rows without them (off-DEM, no GPS) are left out."""
    rows = np.flatnonzero(c_s.notna().to_numpy())
    words = np.frombuffer(b"".join(c_s.iloc[rows]), dtype="<f4")
    corners = list(words.reshape(-1, 4).astype(np.float64).T)
    lon_v, lat_v, tx_v, ty_v = (
        s.to_numpy(np.float64, na_value=np.nan)[rows]
        for s in (lon_s, lat_s, tx_s, ty_s)
    )
    _, _, wx, wy = _cell(lon_v, lat_v, tx_v, ty_v)
    return rows, corners, wx, wy, lat_v


# ---------------------------------------------------------------------------
# The join both operators share
# ---------------------------------------------------------------------------

def _sampler(names, kernel, resolve):
    """Pandas UDF → struct of the double columns ``names``: ``resolve`` maps
    a batch to the rows it can sample plus their corners, weights and
    latitudes; ``kernel(corners, wx, wy, lat)`` returns one array per name.
    Every other row is NaN."""
    schema = StructType([StructField(n, DoubleType()) for n in names])

    @F.pandas_udf(schema)
    def _sample(*cols: pd.Series) -> pd.DataFrame:
        rows, corners, wx, wy, lat_v = resolve(*cols)
        out = {n: np.full(len(cols[0]), np.nan) for n in names}
        for n, v in zip(names, kernel(corners, wx, wy, lat_v)):
            out[n][rows] = v
        return pd.DataFrame(out)

    return _sample


def _dem_join(
    images: DataFrame,
    dem_tiles: DataFrame,
    meta: list,
    names: tuple[str, ...],
    kernel,
    lon: str,
    lat: str,
    broadcast_dem: bool,
) -> DataFrame:
    """images ⟕ DEM on the tile key, + the ``meta`` columns of the DEM
    table and the double columns ``names`` that ``kernel`` computes from
    each probe's corners (NULL off-DEM, without GPS, or where NaN)."""
    tx, ty = tile_key(F.col(lon), F.col(lat))
    probe = images.withColumn("tile_x", tx).withColumn("tile_y", ty)
    keys = ["tile_x", "tile_y"]
    if broadcast_dem:
        dem = dem_tiles.select(*keys, *meta, F.lit(True).alias("_on_dem"))
        joined = probe.join(F.broadcast(dem), keys, "left")
        sample = _sampler(names, kernel, _stack_resolver(dem_tiles))
        v = F.when(F.col("_on_dem"), sample(lon, lat, *keys))
    else:
        dem = dem_tiles.select(*keys, "grid", *meta)
        # the merge hint keeps a DEM declared too big to broadcast from
        # being broadcast; AQE's skew-join split divides a hot tile's
        # probe partition once it passes spark.sql.adaptive.skewJoin.*
        joined = (
            probe.join(dem.hint("merge"), keys, "left")
            .withColumn("_corners", _corner_words(lon, lat))
            .drop("grid")
        )
        sample = _sampler(names, kernel, _resolve_corners)
        v = F.when(
            F.col("_corners").isNotNull(),
            sample(lon, lat, *keys, "_corners"),
        )
    out = joined.withColumn("_v", v)
    for n in names:  # NaN → NULL, matching the SQL oracle's CASE WHEN
        out = out.withColumn(n, F.when(~F.isnan(out["_v"][n]), out["_v"][n]))
    return out.drop("_v", "_on_dem", "_corners")


def elevation_join(
    images: DataFrame,
    dem_tiles: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    broadcast_dem: bool = True,
) -> DataFrame:
    """images ⟕ DEM → + elevation (double, NULL off-DEM), elevation_source,
    elevation_accuracy_m.

    ``dem_tiles``: tile_x:int, tile_y:int, grid:binary (N*N float32 LE),
    accuracy_m:double, source:string.

    ``broadcast_dem=True``: the grids ship to Python ONCE via a Spark
    broadcast variable (not per-row through the join → Arrow, which costs
    |images|·4 KiB of serialization); the UDF input is (lon, lat, tile key),
    and the tile metadata (source, accuracy — no grid) attaches via a
    broadcast equi-join so Catalyst sees normal relational lineage.

    ``broadcast_dem=False``, for a DEM too large to broadcast: one
    sort-merge left join on the tile key, so each grid crosses the shuffle
    once, and the JVM cuts the probe's 4 corner words (16 bytes) out of the
    grid before the Python node. A hot tile's probe partition is split by
    AQE's skew join once it passes Spark's skew thresholds
    (``spark.sql.adaptive.skewJoin.*``: 256 MB and 5× the median by
    default); there is no explicit salting (operators/skew.py).
    """
    meta = [
        F.col("source").alias("elevation_source"),
        F.col("accuracy_m").alias("elevation_accuracy_m"),
    ]
    return _dem_join(
        images, dem_tiles, meta, ("elevation",),
        lambda c, wx, wy, lat_v: (_bilinear(*c, wx, wy),),
        lon, lat, broadcast_dem,
    )


def terrain_join(
    images: DataFrame,
    dem_tiles: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    broadcast_dem: bool = True,
) -> DataFrame:
    """images ⟕ DEM → + slope_deg / aspect_deg / hillshade (NULL off-DEM
    or without GPS; aspect NULL when flat). Same two strategies and data
    motion as elevation_join, value-identical through the shared
    ``_terrain`` corner kernel."""
    return _dem_join(
        images, dem_tiles, [], ("slope_deg", "aspect_deg", "hillshade"),
        lambda c, wx, wy, lat_v: _terrain(*c, wx, wy, lat_v),
        lon, lat, broadcast_dem,
    )
