"""Geodesy column functions — pure Catalyst expressions (whole-stage codegen).

Re-creates the reference's scalar geo math as Spark built-in column
expressions (reference implements these per-file in Python):

- haversine          reference: src/pipeline/micasense/core/validation.py:85-99
- meters_per_degree  reference: src/pipeline/micasense/core/processor.py:107-111
- gsd                reference: src/pipeline/micasense/core/processor.py:98-101
- pixel size (deg)   reference: src/pipeline/micasense/core/processor.py:113-115
- affine transform   reference: src/pipeline/micasense/core/processor.py:117-133
- bbox predicate     reference: src/pipeline/main.py:476-517 (NL bounds)
- GPS validity       reference: src/pipeline/utils/gps_utils.py:87-94
- georef validity    reference: src/pipeline/micasense/core/processor.py:643-656

Each function also has a ``*_sql`` twin emitting the identical arithmetic as
ANSI SQL for the DuckDB correctness oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS_M = 6371000.0  # reference: core/validation.py:88, processor.py:108

# Netherlands bounds used by the reference's validation sweep (main.py:477-482)
NL_LON_MIN, NL_LON_MAX = 3.0, 7.3
NL_LAT_MIN, NL_LAT_MAX = 50.7, 53.6

# MicaSense RedEdge camera constants (reference: main.py:177-180)
FOCAL_MM = 5.4
SENSOR_W_MM = 4.8
SENSOR_H_MM = 3.6
SENSOR_W_PX = 1280
SENSOR_H_PX = 960


def haversine_m(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in meters (reference: core/validation.py:85-99)."""
    p1, p2 = F.radians(lat1), F.radians(lat2)
    dphi = F.radians(lat2 - lat1)
    dlmb = F.radians(lon2 - lon1)
    a = (
        F.sin(dphi / 2) * F.sin(dphi / 2)
        + F.cos(p1) * F.cos(p2) * F.sin(dlmb / 2) * F.sin(dlmb / 2)
    )
    return F.lit(2.0 * EARTH_RADIUS_M) * F.asin(F.sqrt(a))


def haversine_m_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """Identical haversine as ANSI SQL text (DuckDB oracle twin)."""
    return (
        f"(2.0*{EARTH_RADIUS_M}*ASIN(SQRT("
        f"SIN(RADIANS(({lat2})-({lat1}))/2)*SIN(RADIANS(({lat2})-({lat1}))/2)"
        f"+COS(RADIANS({lat1}))*COS(RADIANS({lat2}))"
        f"*SIN(RADIANS(({lon2})-({lon1}))/2)*SIN(RADIANS(({lon2})-({lon1}))/2)"
        f")))"
    )


def meters_per_degree(lat: Column) -> tuple[Column, Column]:
    """(m/deg lon, m/deg lat) at latitude (reference: processor.py:107-111)."""
    m_lat = F.lit(2.0 * 3.141592653589793 * EARTH_RADIUS_M / 360.0)
    m_lon = m_lat * F.cos(F.radians(lat))
    return m_lon, m_lat


def gsd_m(alt_m: Column, sensor_mm: float, focal_mm: float, px: int) -> Column:
    """Ground sample distance m/px (reference: processor.py:98-101)."""
    return F.lit(sensor_mm) * alt_m / F.lit(focal_mm * px)


def pixel_size_deg(alt_m: Column, lat: Column) -> tuple[Column, Column]:
    """(px_deg_lon, px_deg_lat) — gsd / meters-per-degree
    (reference: processor.py:113-115)."""
    m_lon, m_lat = meters_per_degree(lat)
    gx = gsd_m(alt_m, SENSOR_W_MM, FOCAL_MM, SENSOR_W_PX)
    gy = gsd_m(alt_m, SENSOR_H_MM, FOCAL_MM, SENSOR_H_PX)
    return gx / m_lon, gy / m_lat


def affine_from_center(
    lon: Column, lat: Column, w: Column, h: Column, px_deg: Column, py_deg: Column
) -> Column:
    """6-value affine transform struct<a,b,c,d,e,f> from image-center GPS,
    GDAL order: x = a*col + b*row + c ; y = d*col + e*row + f
    (reference: processor.py:117-133 ``from_origin(west, north, px, py)``)."""
    half_w_deg = w.cast("double") / 2 * px_deg
    half_h_deg = h.cast("double") / 2 * py_deg
    return F.struct(
        px_deg.alias("a"),
        F.lit(0.0).alias("b"),
        (lon - half_w_deg).alias("c"),
        F.lit(0.0).alias("d"),
        (-py_deg).alias("e"),
        (lat + half_h_deg).alias("f"),
    )


def surface_area_m2(transform: Column, w: Column, h: Column, lat: Column) -> Column:
    """Footprint area estimate: |a*e|*w*h in deg² scaled to m²
    (reference: core/validation.py:101-150 — the EPSG:4326 branch measures
    corner-to-corner haversines; we use the equivalent closed form)."""
    m_lon, m_lat = meters_per_degree(lat)
    width_m = F.abs(transform["a"]) * w.cast("double") * m_lon
    height_m = F.abs(transform["e"]) * h.cast("double") * m_lat
    return width_m * height_m


def in_nl_bounds(lon: Column, lat: Column) -> Column:
    """Netherlands bbox predicate (reference: main.py:477-482). Conjunctive
    range filter → Catalyst pushes to parquet min-max pruning."""
    return (
        lon.between(NL_LON_MIN, NL_LON_MAX) & lat.between(NL_LAT_MIN, NL_LAT_MAX)
    )


def gps_valid(lat: Column, lon: Column) -> Column:
    """lat∈[-90,90] ∧ lon∈[-180,180] ∧ non-null
    (reference: gps_utils.py:87-94; create-tables.sql:107-108)."""
    return (
        lat.isNotNull() & lon.isNotNull()
        & lat.between(-90.0, 90.0) & lon.between(-180.0, 180.0)
    )


def georef_valid(crs: Column, transform: Column) -> Column:
    """CRS present and pixel size < 0.01 deg (reference: processor.py:643-656)."""
    return (
        crs.isNotNull()
        & (F.abs(transform["a"]) < 0.01)
        & (F.abs(transform["e"]) < 0.01)
        & (F.abs(transform["a"]) > 0)
        & (F.abs(transform["e"]) > 0)
    )
