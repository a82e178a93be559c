"""Deterministic geo tables derived from the driver's parquet tables.

The driver's correctness gate compares Spark results against DuckDB running
ANSI SQL over the same parquet files (region nation customer supplier part
orders lineitem events documents embeddings). To give the *geospatial*
operators (cell encode, PIP land-cover, kNN weather, elevation sampling) a
real value-level oracle, the geo inputs are not random fixtures but pure
arithmetic derivations of driver tables — the same expressions written twice:
once as Catalyst columns (here) and once as SQL text (``*_sql`` twins), so
DuckDB reproduces them bit-for-bit (integer arithmetic) or to double
round-off (trig), with final outputs rounded to fixed decimals.

Geometry mirrors FIXTURES.md:
- ``images_geo``    — one geotagged image per ``orders`` row; 60% in the NL
  box (reference validation bounds, src/pipeline/main.py:477-482), 20% in a
  deliberate hot cluster (~0.02°, a few res-8 cells — the skew fixture),
  20% world-wide.
- ``stations``      — weather stations on a jittered grid from ``supplier``
  (reference schema: scripts/create-tables.sql:128-132, api_source
  'open_meteo' scripts/init-db.sql:60).
- ``landcover``     — 43x29 half-open 0.1° rectangles tiling the NL box, 10
  ESA WorldCover-style classes (reference schema:
  scripts/create-tables.sql:135-139, 'esa_worldcover' init-db.sql:61).
- ``elevation``     — analytic DEM ``100 + 50*sin(lon) + 30*cos(lat)``
  quantized to float32, 32x32 grids per 0.1° tile (reference schema:
  scripts/create-tables.sql:122-126, 'usgs_3dep'/'nasa_srtm'
  init-db.sql:59,62).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# -- shared constants (single source of truth for Spark AND SQL text) --------
MULT1 = 2654435761  # Knuth multiplicative-hash constants
MULT2 = 1597334677
MOD_U = 1000000

NL_LON0, NL_LAT0 = 3.0, 50.7
NL_LON_SPAN, NL_LAT_SPAN = 4.3, 2.9
HOT_LON, HOT_LAT, HOT_SPAN = 4.89, 52.37, 0.02

ST_LON0, ST_LAT0 = 3.1, 50.8
ST_DLON, ST_DLAT = 0.24, 0.22
ST_COLS, ST_SLOTS = 18, 234

LC_CELL = 0.1
LC_NX, LC_NY = 43, 29
LC_CLASSES = [
    "tree_cover", "shrubland", "grassland", "cropland", "built_up",
    "bare", "snow_ice", "water", "wetland", "mangroves",
]

DEM_TILE_DEG = 0.1
DEM_N = 32  # 32x32 samples per tile
DEM_STEP = DEM_TILE_DEG / DEM_N


# ---------------------------------------------------------------------------
# images_geo
# ---------------------------------------------------------------------------

def _probe_partitions(spark: SparkSession, sf_dir: str) -> int:
    """Scale-adaptive probe partition count: ~one full Arrow batch
    (16384 rows) per task, clamped to [1×, 4×] defaultParallelism.

    Why not a constant (r8, measured at local[32]): at exactly 1
    task/core the sf1.0 shape ran 3 Arrow batches per task and ONE
    stalled worker stretched the stage ~30% — the 241M-pair
    within_radius join read 7.5→26-28 s rep-over-rep at 32 tasks vs a
    stable ~8 s at 96 (guide §2.6 stragglers); but a fixed 3× multiple
    cut sf0.1 batches to ~1.5k rows and cost 1.7× in lost
    vectorization amortization. Rows are estimated from the parquet
    file size (~17 B/row for the orders key column set; estimation
    error is absorbed by the clamp), so no job runs at plan-build
    time."""
    import os as _os

    par = spark.sparkContext.defaultParallelism
    try:
        est_rows = _os.path.getsize(f"{sf_dir}/orders.parquet") // 17
    except OSError:
        return par
    return min(max(par, int(est_rows // 16384)), 4 * par)


def images_geo(
    spark: SparkSession, sf_dir: str, partitions: int | None = None
) -> DataFrame:
    """Geotagged image-metadata table: one image per orders row.

    ``partitions``: the driver testdata is a single parquet row-group, which
    would pin every downstream map stage to ONE task; default repartitions
    to the session's default parallelism. (At production scale the input
    table has thousands of natural splits and this becomes a no-op —
    pass ``partitions=0`` to skip.)
    """
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    if partitions != 0:
        o = o.repartition(partitions or _probe_partitions(spark, sf_dir))
    k = F.col("o_orderkey")
    u1 = ((k * MULT1) % MOD_U) / F.lit(float(MOD_U))
    u2 = ((k * MULT2) % MOD_U) / F.lit(float(MOD_U))
    sel = k % 10
    lon = (
        F.when(sel < 2, F.lit(HOT_LON) + (u1 - 0.5) * HOT_SPAN)
        .when(sel < 8, F.lit(NL_LON0) + u1 * NL_LON_SPAN)
        .otherwise(F.lit(-180.0) + u1 * 360.0)
    )
    lat = (
        F.when(sel < 2, F.lit(HOT_LAT) + (u2 - 0.5) * HOT_SPAN)
        .when(sel < 8, F.lit(NL_LAT0) + u2 * NL_LAT_SPAN)
        .otherwise(F.lit(-90.0) + u2 * 180.0)
    )
    return o.select(
        k.alias("image_id"),
        lon.alias("lon"),
        lat.alias("lat"),
        (F.lit(20.0) + u2 * 100.0).alias("alt"),
        F.col("o_orderdate").alias("captured_at"),
    )


def images_geo_sql() -> str:
    """CTE body reproducing images_geo in DuckDB SQL (FROM orders)."""
    u1 = f"(((o_orderkey*{MULT1})%{MOD_U})/{float(MOD_U)})"
    u2 = f"(((o_orderkey*{MULT2})%{MOD_U})/{float(MOD_U)})"
    return f"""
      SELECT o_orderkey AS image_id,
        CASE WHEN o_orderkey%10 < 2 THEN {HOT_LON} + ({u1}-0.5)*{HOT_SPAN}
             WHEN o_orderkey%10 < 8 THEN {NL_LON0} + {u1}*{NL_LON_SPAN}
             ELSE -180.0 + {u1}*360.0 END AS lon,
        CASE WHEN o_orderkey%10 < 2 THEN {HOT_LAT} + ({u2}-0.5)*{HOT_SPAN}
             WHEN o_orderkey%10 < 8 THEN {NL_LAT0} + {u2}*{NL_LAT_SPAN}
             ELSE -90.0 + {u2}*180.0 END AS lat,
        20.0 + {u2}*100.0 AS alt,
        o_orderdate AS captured_at
      FROM orders
    """


# ---------------------------------------------------------------------------
# stations
# ---------------------------------------------------------------------------

def stations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weather-station table from supplier: jittered grid over the NL box."""
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    k = F.col("s_suppkey")
    idx = k % ST_SLOTS
    gx = idx % ST_COLS
    gy = F.floor(idx / ST_COLS)
    jx = ((k * 7919) % 1000) / F.lit(1000.0) * 0.01
    jy = ((k * 104729) % 1000) / F.lit(1000.0) * 0.01
    lat = F.lit(ST_LAT0) + gy * ST_DLAT + jy
    return s.select(
        k.alias("station_id"),
        (F.lit(ST_LON0) + gx * ST_DLON + jx).alias("st_lon"),
        lat.alias("st_lat"),
        (F.lit(15.0) + F.lit(10.0) * F.sin(lat) + k * 0.01).alias("temp_c"),
        (((k * 31) % 200) / F.lit(10.0)).alias("wind_ms"),
        (((k * 17) % 50) / F.lit(10.0)).alias("precip_mm"),
    )


def stations_sql() -> str:
    lat = f"({ST_LAT0} + FLOOR((s_suppkey%{ST_SLOTS})/{ST_COLS})*{ST_DLAT} + ((s_suppkey*104729)%1000)/1000.0*0.01)"
    return f"""
      SELECT s_suppkey AS station_id,
        {ST_LON0} + (s_suppkey%{ST_SLOTS})%{ST_COLS}*{ST_DLON} + ((s_suppkey*7919)%1000)/1000.0*0.01 AS st_lon,
        {lat} AS st_lat,
        15.0 + 10.0*SIN({lat}) + s_suppkey*0.01 AS temp_c,
        ((s_suppkey*31)%200)/10.0 AS wind_ms,
        ((s_suppkey*17)%50)/10.0 AS precip_mm
      FROM supplier
    """


# ---------------------------------------------------------------------------
# weather observations — (station_id, obs_date)-keyed historical dimension
# ---------------------------------------------------------------------------

OBS_START = "1995-01-01"
OBS_END = "2001-12-31"


def weather_observations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Historical weather keyed (station_id, obs_date) — the time axis the
    reference's enrichment schema declares (`weather_historical_date DATE`
    + JSONB payload, scripts/create-tables.sql:129-132) and that the purely
    spatial kNN join lacks. One row per station per day over the orders
    date range; values are integer arithmetic in (station_id, day-number)
    so DuckDB reproduces them bit-for-bit.

    Scale note: |stations| × |days| — a *medium* dimension (10⁵ stations ×
    10⁴ days ≈ 10⁹ rows at planetary scale). The composite key is uniform,
    so the non-broadcast join strategy is a skew-free shuffle; at fixture
    scale it broadcasts.
    """
    # the driver parquet is one row group → without a repartition the
    # |stations|×|days| explode would run on ONE task
    st = (
        stations(spark, sf_dir)
        .select("station_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    days = F.sequence(
        F.lit(OBS_START).cast("date"),
        F.lit(OBS_END).cast("date"),
        F.expr("interval 1 day"),
    )
    obs = st.select("station_id", F.explode(days).alias("obs_date"))
    d = F.datediff(F.col("obs_date"), F.lit(OBS_START).cast("date"))
    sid = F.col("station_id")
    return obs.select(
        "station_id",
        "obs_date",
        (((sid * 131 + d * 17) % 600) / F.lit(10.0) - 20.0).alias("obs_temp_c"),
        (((sid * 37 + d * 11) % 250) / F.lit(10.0)).alias("obs_wind_ms"),
        (((sid * 53 + d * 7) % 80) / F.lit(10.0)).alias("obs_precip_mm"),
    )


def weather_observations_packed(
    spark: SparkSession,
    sf_dir: str,
    span_of: DataFrame | None = None,
    span_ts: str = "captured_at",
) -> DataFrame:
    """The materialized-pack form of :func:`weather_observations`: the same
    (station_id, date)-keyed values generated DIRECTLY in the per-station
    packed layout that ``operators.knn_join.pack_observations_columnar``
    would build — skipping the row-dim round trip entirely (explode to
    |stations|×|days| rows, then groupBy(station_id) shuffle +
    collect_list back to one row per station). Schema:
    ``PACKED_OBS_V2_COLS`` + ``_obsv_obs_temp_c`` / ``_obsv_obs_wind_ms``
    / ``_obsv_obs_precip_mm`` primitive double arrays (r8 columnar form —
    the array-of-structs layout broadcast ~48 B per observation, 1.2 GB
    at the sf1.0 shape, and its repeated cold builds GC-thrashed the
    local-mode JVM; primitive arrays pack ~3× smaller, values identical).

    This models the production shape VERDICT r5 #3 asks for: the packed
    observation dimension maintained as its own (small) table, built once
    and reused by every dated consumer. Dense by construction (one value
    per consecutive day via sequence), so ``_obs_dense`` is a literal
    True, ``_obs_days`` a literal NULL, and the O(1) array-index lookup
    always applies. Value-equality with
    ``pack_observations_columnar(weather_observations(...))`` is pinned
    by tests/test_operators_geo.py.

    ``span_of`` (r8): clamp the packed history to the LAZY
    [min, max] of ``to_date(span_of[span_ts])`` — the exact-preserving
    date-span cut nearest_station_dated applies to a row-level
    ``observations`` dim, applied at generation time so out-of-span
    entries are never even built (the
    probe's span covers every date the LEFT join can match; clamped-out
    dates resolve to NULL payloads either way). The span aggregate rides
    a broadcast 1-row crossJoin, so it runs inside the consuming query's
    own execution — no hidden build-time job. At the sf1.0 shape the
    orders corpus spans 57% of the observation history → ~43% fewer
    bytes built, collected and broadcast."""
    # the station source is one parquet row group → one task; without the
    # repartition ALL |stations| entry arrays (|days| values each) are
    # built serially before the broadcast collect (measured 1.8× slower
    # whole-query at sf0.1)
    st = (
        stations(spark, sf_dir)
        .select("station_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    lo_g = F.lit(OBS_START).cast("date")
    hi_g = F.lit(OBS_END).cast("date")
    if span_of is not None:
        span = span_of.select(
            F.min(F.to_date(F.col(span_ts))).alias("_span_lo"),
            F.max(F.to_date(F.col(span_ts))).alias("_span_hi"),
        )
        st = st.crossJoin(F.broadcast(span))
        lo = F.greatest(lo_g, F.col("_span_lo"))
        hi = F.least(hi_g, F.col("_span_hi"))
    else:
        lo, hi = lo_g, hi_g
    sid = F.col("station_id")
    n = F.datediff(hi, lo)  # NULL (empty span) or negative (no overlap)
    ok = n.isNotNull() & (n >= 0)
    # payload arithmetic is keyed on days since OBS_START; with a clamped
    # lo the sequence index i maps to day-number i + off
    off = F.datediff(lo, lo_g)
    seq = F.when(ok, F.sequence(F.lit(0), n))

    def _vals(expr):
        return F.transform(seq, expr)

    out = st.select(
        "station_id",
        F.when(ok, lo).alias("_obs_lo"),
        F.when(ok, hi).alias("_obs_hi"),
        F.lit(True).alias("_obs_dense"),
        F.lit(None).cast("array<int>").alias("_obs_days"),
        _vals(
            lambda i: ((sid * 131 + (i + off) * 17) % 600) / F.lit(10.0)
            - 20.0
        ).alias("_obsv_obs_temp_c"),
        _vals(
            lambda i: ((sid * 37 + (i + off) * 11) % 250) / F.lit(10.0)
        ).alias("_obsv_obs_wind_ms"),
        _vals(
            lambda i: ((sid * 53 + (i + off) * 7) % 80) / F.lit(10.0)
        ).alias("_obsv_obs_precip_mm"),
    )
    return out


def weather_observations_sql() -> str:
    """CTE body reproducing weather_observations in DuckDB (FROM supplier)."""
    d = f"DATE_DIFF('day', DATE '{OBS_START}', obs_date)"
    return f"""
      SELECT s_suppkey AS station_id,
             CAST(gs.g AS DATE) AS obs_date,
             ((s_suppkey*131 + {d}*17)%600)/10.0 - 20.0 AS obs_temp_c,
             ((s_suppkey*37 + {d}*11)%250)/10.0 AS obs_wind_ms,
             ((s_suppkey*53 + {d}*7)%80)/10.0 AS obs_precip_mm
      FROM supplier,
           (SELECT UNNEST(generate_series(DATE '{OBS_START}', DATE '{OBS_END}', INTERVAL 1 DAY)) AS g) gs
    """


# ---------------------------------------------------------------------------
# landcover (rect tiling; engine build side — oracle uses direct floor math)
# ---------------------------------------------------------------------------

def landcover_class_expr(gx: F.Column, gy: F.Column) -> F.Column:
    """Class of rect (gx, gy) — shared by build side and tests."""
    idx = ((gx * 7 + gy * 3) % 10).cast("int")
    return F.element_at(F.array(*[F.lit(c) for c in LC_CLASSES]), idx + 1)


def landcover_confidence_expr(gx: F.Column, gy: F.Column) -> F.Column:
    return 0.5 + ((gx * 13 + gy * 29) % 50) / F.lit(100.0)


def landcover_polygons(spark: SparkSession) -> DataFrame:
    """Polygon build side: 43x29 half-open 0.1° rects tiling the NL box.

    Columns: polygon_id, land_cover_class, confidence, xmin/ymin/xmax/ymax,
    vertices (array<struct<x,y>> CCW — exercised by the winding refinement),
    is_rect. Small table (1247 rows) → broadcast side of the PIP join.
    """
    g = (
        spark.range(LC_NX * LC_NY)
        .select(
            (F.col("id") % LC_NX).alias("gx"),
            F.floor(F.col("id") / LC_NX).alias("gy"),
        )
    )
    xmin = F.lit(NL_LON0) + F.col("gx") * LC_CELL
    ymin = F.lit(NL_LAT0) + F.col("gy") * LC_CELL
    xmax, ymax = xmin + LC_CELL, ymin + LC_CELL
    return g.select(
        F.concat(F.lit("LC_"), F.format_string("%04d", (F.col("gx") * LC_NY + F.col("gy")).cast("int"))).alias("polygon_id"),
        landcover_class_expr(F.col("gx"), F.col("gy")).alias("land_cover_class"),
        landcover_confidence_expr(F.col("gx"), F.col("gy")).alias("confidence"),
        xmin.alias("xmin"), ymin.alias("ymin"), xmax.alias("xmax"), ymax.alias("ymax"),
        F.array(
            F.struct(xmin.alias("x"), ymin.alias("y")),
            F.struct(xmax.alias("x"), ymin.alias("y")),
            F.struct(xmax.alias("x"), ymax.alias("y")),
            F.struct(xmin.alias("x"), ymax.alias("y")),
        ).alias("vertices"),
        F.lit(True).alias("is_rect"),
    )


def landcover_lookup_sql(lon: str, lat: str) -> tuple[str, str]:
    """(class_expr, confidence_expr) for a point — the oracle's direct
    half-open rect lookup (NULL outside the NL box)."""
    gx = f"FLOOR(({lon}-{NL_LON0})/{LC_CELL})"
    gy = f"FLOOR(({lat}-{NL_LAT0})/{LC_CELL})"
    in_box = (
        f"({lon}) >= {NL_LON0} AND ({lon}) < {NL_LON0 + LC_NX * LC_CELL} "
        f"AND ({lat}) >= {NL_LAT0} AND ({lat}) < {NL_LAT0 + LC_NY * LC_CELL}"
    )
    classes = ",".join(f"'{c}'" for c in LC_CLASSES)
    cls = f"CASE WHEN {in_box} THEN [{classes}][CAST(({gx}*7+{gy}*3)%10 AS INT)+1] END"
    conf = f"CASE WHEN {in_box} THEN 0.5 + (({gx}*13+{gy}*29)%50)/100.0 END"
    return cls, conf


# ---------------------------------------------------------------------------
# elevation — analytic DEM (float32-quantized)
# ---------------------------------------------------------------------------

def dem_value_sql(cx: str, cy: str) -> str:
    """float32-quantized analytic DEM value at grid center (cx, cy)."""
    return f"CAST(CAST(100.0 + 50.0*SIN({cx}) + 30.0*COS({cy}) AS REAL) AS DOUBLE)"


def elevation_bilinear_sql(lon: str, lat: str) -> str:
    """Closed-form SQL reproducing the engine's bilinear DEM sample.

    The engine decodes the float32 32x32 tile grid and samples bilinearly in
    a pandas UDF (SURVEY.md J7); the DEM being analytic makes the identical
    computation expressible in SQL: same tile/index/clamp/weight arithmetic,
    same float32 quantization of the 4 corner samples, double elsewhere.
    """
    p = _bilinear_pieces_sql(lon, lat)
    wx, wy = p["wx"], p["wy"]
    v00, v10, v01, v11 = p["v00"], p["v10"], p["v01"], p["v11"]
    return (
        f"((1.0-({wy}))*((1.0-({wx}))*{v00} + ({wx})*{v10})"
        f" + ({wy})*((1.0-({wx}))*{v01} + ({wx})*{v11}))"
    )


def _bilinear_pieces_sql(lon: str, lat: str) -> dict[str, str]:
    """The shared tile/index/clamp/weight/corner fragments behind both the
    bilinear sample and its analytic gradient (terrain_sql)."""
    tx = f"FLOOR(({lon})/{DEM_TILE_DEG})"
    ty = f"FLOOR(({lat})/{DEM_TILE_DEG})"
    fx = f"((({lon}) - {tx}*{DEM_TILE_DEG})/{DEM_STEP} - 0.5)"
    fy = f"((({lat}) - {ty}*{DEM_TILE_DEG})/{DEM_STEP} - 0.5)"
    i0 = f"GREATEST(LEAST(FLOOR({fx}), {DEM_N - 2}), 0)"
    j0 = f"GREATEST(LEAST(FLOOR({fy}), {DEM_N - 2}), 0)"
    wx = f"GREATEST(LEAST({fx} - ({i0}), 1.0), 0.0)"
    wy = f"GREATEST(LEAST({fy} - ({j0}), 1.0), 0.0)"
    cx0 = f"({tx}*{DEM_TILE_DEG} + (({i0})+0.5)*{DEM_STEP})"
    cx1 = f"({tx}*{DEM_TILE_DEG} + (({i0})+1.5)*{DEM_STEP})"
    cy0 = f"({ty}*{DEM_TILE_DEG} + (({j0})+0.5)*{DEM_STEP})"
    cy1 = f"({ty}*{DEM_TILE_DEG} + (({j0})+1.5)*{DEM_STEP})"
    return {
        "wx": wx,
        "wy": wy,
        "v00": dem_value_sql(cx0, cy0),
        "v10": dem_value_sql(cx1, cy0),
        "v01": dem_value_sql(cx0, cy1),
        "v11": dem_value_sql(cx1, cy1),
    }


# sun position for hillshade (the GDAL defaults): azimuth 315°, altitude 45°
HILLSHADE_AZ_DEG = 315.0
HILLSHADE_ALT_DEG = 45.0
# pi CAST to DOUBLE up front: DuckDB otherwise runs the chain in DECIMAL
# (16-digit literal → DECIMAL(18,15)) and overflows; with one double
# operand every step is IEEE double in written order, matching numpy
_M_PER_DEG_LAT_SQL = "(2.0*CAST(3.141592653589793 AS DOUBLE)*6371000.0/360.0)"


def terrain_sql(lon: str, lat: str) -> dict[str, str]:
    """Closed-form SQL for slope/aspect/hillshade — the analytic gradient
    of the SAME bilinear surface elevation_bilinear_sql samples (identical
    corner values, clamps and weights; the engine twin is the corner
    kernel operators/elevation._terrain, fed by elevation._cell):

      dz/dlon(grid) = (1-wy)(v10-v00) + wy(v11-v01)
      dz/dlat(grid) = (1-wx)(v01-v00) + wx(v11-v10)

    converted to m/m via the probe-latitude meters-per-degree, then
      slope  = degrees(atan(|∇z|))
      aspect = azimuth of the DOWNSLOPE direction, clockwise from north,
               NULL when flat
      hillshade = 255·(cos z·cos s + sin z·sin s·cos(az − a)), clamped ≥0
    """
    p = _bilinear_pieces_sql(lon, lat)
    wx, wy = p["wx"], p["wy"]
    v00, v10, v01, v11 = p["v00"], p["v10"], p["v01"], p["v11"]
    gxg = f"((1.0-({wy}))*({v10} - {v00}) + ({wy})*({v11} - {v01}))"
    gyg = f"((1.0-({wx}))*({v01} - {v00}) + ({wx})*({v11} - {v10}))"
    m_lon = f"({_M_PER_DEG_LAT_SQL}*COS(RADIANS({lat})))"
    gx = f"({gxg}/({DEM_STEP}*{m_lon}))"
    gy = f"({gyg}/({DEM_STEP}*{_M_PER_DEG_LAT_SQL}))"
    slope_r = f"ATAN(SQRT({gx}*{gx} + {gy}*{gy}))"
    az_raw = f"DEGREES(ATAN2(-{gx}, -{gy}))"
    # trailing % 360.0 closes the [0, 360) boundary: a tiny negative
    # azimuth + 360.0 rounds to exactly 360.0 in doubles (engine twin
    # applies the identical mod on the identical non-negative value)
    aspect = (
        f"(CASE WHEN {gxg} = 0.0 AND {gyg} = 0.0 THEN NULL "
        f"ELSE ({az_raw} + (CASE WHEN {az_raw} < 0.0 THEN 360.0 ELSE 0.0 END))"
        f" % 360.0 END)"
    )
    zen = f"RADIANS({90.0 - HILLSHADE_ALT_DEG})"
    azr = f"RADIANS({HILLSHADE_AZ_DEG})"
    ar = f"ATAN2(-{gx}, -{gy})"
    hs = (
        f"GREATEST(0.0, 255.0*(COS({zen})*COS({slope_r})"
        f" + SIN({zen})*SIN({slope_r})*COS({azr} - {ar})))"
    )
    return {
        "slope_deg": f"DEGREES({slope_r})",
        "aspect_deg": aspect,
        "hillshade": hs,
    }
