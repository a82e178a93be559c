"""Within-distance spatial join — the PostGIS ``ST_DWithin`` replacement.

The reference's serving stack keeps geotagged points in PostGIS and answers
radius questions with GIST-indexed ``ST_DWithin`` (reference:
scripts/create-tables.sql:74-79,257 — the GEOMETRY(POINT) + GIST pattern).
This is the Spark-native equivalent (SURVEY.md J8's general form):

1. **Cover**: each build point's radius disk is over-approximated by a
   lon/lat bbox (meridian extent exact; longitude extent / cos(lat) with a
   small safety margin — superset-ness is all that matters because step 3
   is exact) and exploded into covering res-``k`` cells JVM-side.
   Longitude wrap at ±180° is handled by splitting the bbox into two
   segments; polar caps clamp to the full longitude range. Cells of the
   bbox whose every point is provably outside the disk are dropped
   (center-distance test ≤ radius + max-center-to-point bound — r8), so
   the cover tracks the disk, not its bbox.
2. **Cell equi-join**: probe rows join on their own cell id — broadcast
   when the build side is a dimension (stations), or a sort-merge join on
   the hashed cell for build tables beyond broadcast size
   (``broadcast_build=False``; hot cells: operators/skew.py); geographic
   probe hot-cells never become shuffle keys on the broadcast path.
3. **Refine**: exact haversine ≤ radius (pure codegen, wrap-safe — sin² of
   the half longitude difference is 360°-periodic).

Exact by construction for any ``res``: the cover is a superset of the
disk, the refine is the true predicate. ``res`` only trades cover-table
size against candidate count. r8 measurements at the sf1.0 shape
(1.5M probes × 10k stations, 241M result pairs): res 11 + the cell
prune = 7.1 s warm vs 9.0 s for the r7 shape (res 10, bbox cover);
res 12/13 are no better (cover build and broadcast grow faster than the
candidate set shrinks). A squared-chord prefilter ahead of the haversine
(precomputed unit-sphere xyz on both sides) was built, measured at
+5 s — SLOWER despite evaluating ~45% less trig, at either res — and
removed; the per-pair trig is not the binding cost at this shape, the
join's row pumping is.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tiff_enrichment_pipeline_spark import grid
from tiff_enrichment_pipeline_spark.functions.geo import haversine_m
from tiff_enrichment_pipeline_spark.operators.skew import replicate_build, with_salt

M_PER_DEG = 2.0 * math.pi * 6371000.0 / 360.0
# longitude bbox safety: the exact cap-bounding Δλ = asin(sin(r/R)/cos φ)
# exceeds the small-angle (r/R)/cos φ by O((r/R)³); 1% covers any radius
# the cell cover can sensibly serve
_LON_MARGIN = 1.01


def within_distance_join(
    probe: DataFrame,
    build: DataFrame,
    radius_m: float,
    res: int = 11,
    probe_lon: str = "lon",
    probe_lat: str = "lat",
    build_lon: str = "st_lon",
    build_lat: str = "st_lat",
    broadcast_build: bool = True,
    salt: int | None = None,
    probe_id: str | None = None,
) -> DataFrame:
    """All (probe, build) pairs within ``radius_m`` meters (inner join).

    Output: every probe column + every build column + ``dist_m``. Probe
    rows with NULL/NaN GPS emit no pairs (cell_of yields NULL and NULL
    keys don't equi-join — matching ST_DWithin's NULL semantics).

    ``broadcast_build=False`` is a sort-merge join (merge hint: a cover
    declared too big to broadcast is never broadcast, however small it
    looks) whose shuffle key is GEOGRAPHIC (the probe cell), so urban
    geotag pileups land on it directly. AQE's skew-join split divides a
    hot cell's partition once it passes ``spark.sql.adaptive.skewJoin.*``;
    below that, pass ``salt`` (with ``probe_id`` naming a probe identity
    column) to scatter each cell across ``salt`` shuffle partitions
    (deterministic identity-hash salt, cover side replicated ×salt; values
    identical by construction; operators/skew.py).
    """
    dlat = F.lit(radius_m / M_PER_DEG)
    blat = F.col(build_lat)
    blon = F.col(build_lon)
    coslat = F.cos(F.radians(F.least(F.abs(blat) + dlat, F.lit(89.99))))
    dlon = F.least(
        F.lit(radius_m * _LON_MARGIN / M_PER_DEG) / coslat, F.lit(180.0)
    )
    nx, ny = 2**res, 2 ** (res - 1)
    w = grid.cell_width_deg(res)
    # antimeridian wrap WITHOUT segment splitting: walk the raw
    # (possibly out-of-range) ix interval and wrap each index by pmod —
    # capping the walk at nx cells makes duplicates impossible even when
    # the bbox spans the full circle (polar caps)
    ix_lo = F.floor((blon - dlon + 180.0) / w).cast("long")
    ix_hi = F.least(
        F.floor((blon + dlon + 180.0) / w).cast("long"),
        ix_lo + F.lit(nx - 1),
    )
    iy0 = F.greatest(F.floor((blat - dlat + 90.0) / w), F.lit(0))
    iy1 = F.least(F.floor((blat + dlat + 90.0) / w), F.lit(ny - 1))
    # center-distance cell prune (r8): drop bbox cells that provably
    # cannot intersect the disk. D bounds the max great-circle distance
    # from the cell CENTER to any point of the cell (meridian-then-
    # parallel path bound, cos at the cell's equator-nearest latitude —
    # an overestimate, so the kept set stays a superset of the true
    # cover). Cuts the bbox's corner cells: candidate sets track the
    # disk (π/4 of the bbox) plus one cell of slop.
    ix_w = F.pmod(F.col("_ixr"), F.lit(nx))
    clon = (ix_w + F.lit(0.5)) * F.lit(w) - F.lit(180.0)
    clat = (F.col("_iy") + F.lit(0.5)) * F.lit(w) - F.lit(90.0)
    phi_min = F.greatest(F.abs(clat) - F.lit(w / 2.0), F.lit(0.0))
    d_bound = F.lit(M_PER_DEG * w / 2.0) * (
        F.lit(1.0) + F.cos(F.radians(phi_min))
    )
    cell_keep = haversine_m(blat, blon, clat, clon) <= F.lit(radius_m) + d_bound
    cover = (
        build.withColumn("_ixr", F.explode(F.sequence(ix_lo, ix_hi)))
        .withColumn("_iy", F.explode(F.sequence(iy0, iy1)))
        .filter(cell_keep)
        .withColumn(
            "_cell",
            (
                F.lit(res) * F.lit(2**56)
                + ix_w * F.lit(2**28)
                + F.col("_iy")
            ).cast("long"),
        )
        .drop("_ixr", "_iy")
    )
    if broadcast_build:
        cover = F.broadcast(cover)

    probed = probe.withColumn(
        "_cell", grid.cell_of(F.col(probe_lon), F.col(probe_lat), res)
    )
    d = haversine_m(
        F.col(probe_lat), F.col(probe_lon), F.col(build_lat), F.col(build_lon)
    )
    keys = ["_cell"]
    if salt is not None and not broadcast_build:
        if probe_id is None:
            raise ValueError("salted within_distance_join needs probe_id")
        probed = with_salt(probed, probe_id, salt)
        cover = replicate_build(cover, salt)
        keys.append("_salt")
    if not broadcast_build:
        cover = cover.hint("merge")
    joined = probed.join(cover, keys).filter(d <= F.lit(radius_m))
    return joined.select(
        *[probed[c] for c in probe.columns],
        *[cover[c] for c in build.columns],
        d.alias("dist_m"),
    ).drop("_cell")
