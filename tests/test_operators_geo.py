"""Spatial operator tests with in-test brute-force oracles
(FIXTURES.md §2-4 golden style)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from tiff_enrichment_pipeline_spark import geotables, grid
from tiff_enrichment_pipeline_spark.fixtures import (
    dem_tiles_df,
    landcover_concave_df,
)
from tiff_enrichment_pipeline_spark.operators.elevation import (
    bilinear_sample_np,
    elevation_join,
)
from tiff_enrichment_pipeline_spark.operators.knn_join import knn_station_join
from tiff_enrichment_pipeline_spark.operators.pip_join import landcover_pip_join


def _haversine(lat1, lon1, lat2, lon2):
    R = 6371000.0
    p1, p2 = math.radians(lat1), math.radians(lat2)
    dphi = math.radians(lat2 - lat1)
    dl = math.radians(lon2 - lon1)
    a = math.sin(dphi / 2) ** 2 + math.cos(p1) * math.cos(p2) * math.sin(dl / 2) ** 2
    return 2 * R * math.asin(math.sqrt(a))


def test_pip_golden_point(spark):
    """Known coordinate → known land-cover class (north_star fixture)."""
    img = spark.createDataFrame(
        [(1, 5.0, 52.0), (2, 40.0, 10.0)], "image_id long, lon double, lat double"
    )
    lc = geotables.landcover_polygons(spark)
    out = {
        r["image_id"]: r
        for r in landcover_pip_join(img, lc, how="left").collect()
    }
    gx, gy = int((5.0 - 3.0) / 0.1), int((52.0 - 50.7) / 0.1)
    want = geotables.LC_CLASSES[(gx * 7 + gy * 3) % 10]
    assert out[1]["land_cover_class"] == want
    assert out[2]["land_cover_class"] is None  # outside NL box


def test_pip_concave_even_odd(spark):
    """L-shape: the notch (top-right quadrant of the bbox) is OUTSIDE —
    bbox prefilter alone would wrongly match; even-odd refinement fixes."""
    img = spark.createDataFrame(
        [
            (1, 5.05, 52.05),  # inside the L foot
            (2, 5.15, 52.15),  # in the notch → no match
            (3, 5.05, 52.15),  # upper-left arm → inside
        ],
        "image_id long, lon double, lat double",
    )
    lc = landcover_concave_df(spark)
    out = {
        r["image_id"]: r["land_cover_class"]
        for r in landcover_pip_join(
            img, lc, how="left", rects_only_nonoverlapping=False
        ).collect()
    }
    assert out[1] == "water"
    assert out[2] is None
    assert out[3] == "water"


def test_knn_exact_vs_bruteforce(spark):
    """kNN join must equal brute-force for every image, including images far
    outside station coverage (fallback path); null/NaN-GPS rows must yield
    NO fabricated matches."""
    sf = "/root/testdata/sf0.001"
    img = geotables.images_geo(spark, sf).select("image_id", "lon", "lat").limit(200)
    bad = spark.createDataFrame(
        [(-1, None, None), (-2, float("nan"), 52.0), (-3, 4.9, None)],
        "image_id long, lon double, lat double",
    )
    st = geotables.stations(spark, sf)
    got = {
        (r["image_id"], r["rank"]): r["station_id"]
        for r in knn_station_join(img.unionByName(bad), st, k=3).collect()
    }
    assert not any(iid < 0 for iid, _ in got)  # no-GPS rows emit no rows
    stations = st.collect()
    for r in img.collect():
        dists = sorted(
            (
                _haversine(r["lat"], r["lon"], s["st_lat"], s["st_lon"]),
                s["station_id"],
            )
            for s in stations
        )
        for rank in (1, 2, 3):
            assert got[(r["image_id"], rank)] == dists[rank - 1][1], (
                r["image_id"],
                rank,
            )


def test_knn_index_cap_takes_full_scan(spark, monkeypatch):
    """An index past MAX_INDEX_ENTRIES is dropped with one warning and
    every probe takes the exact full scan: winners equal the default
    index's and a brute force, distances agree to float rounding."""
    from tiff_enrichment_pipeline_spark.operators import knn_join

    sf = "/root/testdata/sf0.001"
    img = geotables.images_geo(spark, sf).select("image_id", "lon", "lat").limit(200)
    st = geotables.stations(spark, sf)

    def run():
        return {
            (r["image_id"], r["rank"]): (r["station_id"], r["dist_m"])
            for r in knn_station_join(img, st, k=3).collect()
        }

    want = run()
    monkeypatch.setattr(knn_join, "MAX_INDEX_ENTRIES", 10)
    with pytest.warns(UserWarning, match="full-scan") as caught:
        got = run()
    # one warning per index build (pytest.warns also records unrelated
    # ResourceWarnings from the Py4J sockets)
    assert sum("kNN index" in str(w.message) for w in caught) == 1
    assert got.keys() == want.keys() and len(got) == 600
    for key, (sid, dist) in want.items():
        assert got[key][0] == sid, key
        assert got[key][1] == pytest.approx(dist, rel=1e-9, abs=1e-6), key
    stations = st.collect()
    for r in img.collect():
        ref = sorted(
            (_haversine(r["lat"], r["lon"], s["st_lat"], s["st_lon"]),
             s["station_id"])
            for s in stations
        )
        for rank in (1, 2, 3):
            assert got[(r["image_id"], rank)][0] == ref[rank - 1][1]


def test_knn_uses_fallback_for_sparse_regions(spark):
    """Images far from all stations must still get exact answers."""
    img = spark.createDataFrame(
        [(1, -170.0, -80.0)], "image_id long, lon double, lat double"
    )
    st = geotables.stations(spark, "/root/testdata/sf0.001")
    rows = knn_station_join(img, st, k=3).collect()
    assert len(rows) == 3
    assert {r["rank"] for r in rows} == {1, 2, 3}


def test_elevation_bilinear_golden(spark):
    """Analytic DEM: sampled elevation ≈ 100+50 sin(lon)+30 cos(lat) (within
    grid interpolation error), exact vs the numpy sampler."""
    pts = [(1, 5.0, 52.0), (2, 6.283, 51.3), (3, 100.0, 10.0)]
    img = spark.createDataFrame(pts, "image_id long, lon double, lat double")
    out = {r["image_id"]: r for r in elevation_join(img, dem_tiles_df(spark)).collect()}

    for i, lon, lat in pts[:2]:
        analytic = 100.0 + 50.0 * math.sin(lon) + 30.0 * math.cos(lat)
        assert out[i]["elevation"] == pytest.approx(analytic, abs=0.05)
        from tiff_enrichment_pipeline_spark.fixtures import dem_tile_grid

        tx, ty = int(np.floor(lon / 0.1)), int(np.floor(lat / 0.1))
        exact = bilinear_sample_np(dem_tile_grid(tx, ty), lon, lat, tx, ty)
        assert out[i]["elevation"] == pytest.approx(exact, abs=1e-12)
    assert out[3]["elevation"] is None  # off-DEM


def _plan_node(df, name):
    """The first node called ``name`` in ``df``'s physical plan."""
    todo = [df._jdf.queryExecution().executedPlan().executedPlan()]
    while todo:
        node = todo.pop()
        if node.nodeName() == name:
            return node
        kids = node.children()
        todo += [kids.apply(n) for n in range(kids.size())]
    raise AssertionError(f"no {name} node")


def _dem_probes(spark):
    """sf0.001 images plus the probes where the DEM strategies could part:
    exact tile edges, cells whose i0/j0 clamp to 0 or DEM_N-2, a one-point
    pileup, and NULL/NaN GPS."""
    img = geotables.images_geo(spark, "/root/testdata/sf0.001").select(
        "image_id", "lon", "lat"
    )
    step, nan = geotables.DEM_STEP, float("nan")
    offsets = (0.0, 1e-9, 0.4 * step, 0.5 * step, 31.5 * step, 31.9 * step)
    pts = [
        (tx * 0.1 + dx, ty * 0.1 + dy)
        for tx, ty in ((51, 520), (52, 521), (30, 535))
        for dx in offsets
        for dy in offsets
    ]
    pts += [(5.123456, 52.345678)] * 40
    # last, so their ids are the five smallest
    pts += [(None, None), (nan, 52.0), (5.0, nan), (None, 52.0), (nan, nan)]
    rows = [(-1 - k, lon, lat) for k, (lon, lat) in enumerate(pts)]
    extra = spark.createDataFrame(rows, "image_id long, lon double, lat double")
    return img.unionByName(extra)


def test_elevation_partitioned_matches_broadcast(spark):
    """broadcast_dem=False (sort-merge join, corner words cut in the JVM —
    the planetary-DEM path) must agree with the broadcast strategy
    value-for-value on every probe of _dem_probes. Its plan
    has no cogroup and no broadcast, and the grid never reaches the
    Python node: only the 16-byte corner words do."""
    img = _dem_probes(spark)
    dem = dem_tiles_df(spark)
    cols = ["image_id", "elevation", "elevation_source", "elevation_accuracy_m"]

    def vals(df):
        return {r["image_id"]: tuple(r[c] for c in cols[1:])
                for r in df.select(cols).collect()}

    a = vals(elevation_join(img, dem, broadcast_dem=True))
    assert a == vals(elevation_join(img, dem, broadcast_dem=False))
    assert sum(v[0] is not None for v in a.values()) > 100
    gps_less = sorted(a)[:5]  # the NULL/NaN GPS probes
    assert all(a[iid] == (None, None, None) for iid in gps_less)
    plan = (
        elevation_join(img, dem, broadcast_dem=False)
        ._jdf.queryExecution().executedPlan().toString()
    )
    lines = plan.splitlines()
    assert "FlatMapCoGroupsInPandas" not in plan
    assert "Broadcast" not in plan
    assert "SortMergeJoin" in plan
    shuffles = [l for l in lines if "Exchange hashpartitioning" in l]
    assert len(shuffles) == 2 and all("tile_x" in l for l in shuffles)
    # the Python node's input rows: no grid, one binary column (16 bytes)
    inp = _plan_node(
        elevation_join(img, dem, broadcast_dem=False), "ArrowEvalPython"
    ).children().apply(0).output()
    attrs = [inp.apply(n) for n in range(inp.size())]
    binary = [a.name() for a in attrs if a.dataType().typeName() == "binary"]
    assert binary == ["_corners"]


def test_polygon_cover_is_superset(spark):
    from tiff_enrichment_pipeline_spark.operators.pip_join import polygon_cell_cover

    lc = geotables.landcover_polygons(spark)
    cover = polygon_cell_cover(lc, grid.RES8)
    # every polygon's own center cell must be in its cover
    centers = lc.select(
        "polygon_id",
        grid.cell_of(
            (F.col("xmin") + F.col("xmax")) / 2, (F.col("ymin") + F.col("ymax")) / 2,
            grid.RES8,
        ).alias("cell"),
    )
    missing = centers.join(cover, ["polygon_id", "cell"], "left_anti").count()
    assert missing == 0


def test_asof_join_semantics(spark):
    """At-or-before semantics, tie → build row at same instant wins,
    probe with no earlier build keeps NULLs; one shuffle by key."""
    from tiff_enrichment_pipeline_spark.operators.asof import asof_join

    build = spark.createDataFrame(
        [(1, "2020-01-01", 1.0), (1, "2020-01-08", 2.0), (2, "2020-06-01", 9.0)],
        "k long, d string, v double",
    ).select("k", F.col("d").cast("date").alias("d"), "v")
    probe = spark.createDataFrame(
        [(100, 1, "2020-01-05"), (101, 1, "2020-01-08"), (102, 1, "2019-12-31"),
         (103, 2, "2021-01-01")],
        "pid long, k long, pd string",
    ).select("pid", "k", F.col("pd").cast("date").alias("pd"))
    out = {
        r["pid"]: (r["asof_d"], r["v"])
        for r in asof_join(
            probe, build, on="k", probe_time="pd", build_time="d",
            value_cols=["v"],
        ).collect()
    }
    import datetime as dt

    assert out[100] == (dt.date(2020, 1, 1), 1.0)   # strictly before
    assert out[101] == (dt.date(2020, 1, 8), 2.0)   # tie → same-day build
    assert out[102] == (None, None)                 # nothing earlier
    assert out[103] == (dt.date(2020, 6, 1), 9.0)   # different key


def _radius_case(spark):
    """Probes/builds for the within-distance join, incl. probes/builds
    straddling the antimeridian and a polar-cap build point whose lon bbox
    spans the full circle; returns (probe, build, radius, numpy pairs)."""
    rng = np.random.default_rng(31)
    p_lon = np.concatenate([rng.uniform(-180, 180, 150),
                            [179.98, -179.97, 0.5, 12.0]])
    p_lat = np.concatenate([rng.uniform(-89, 89, 150),
                            [10.0, 10.01, 89.5, -88.9]])
    b_lon = np.concatenate([rng.uniform(-180, 180, 40),
                            [-179.99, 179.99, 170.0, 3.0]])
    b_lat = np.concatenate([rng.uniform(-89, 89, 40),
                            [10.0, 10.0, 89.6, -89.0]])
    probe = spark.createDataFrame(
        [(i, float(p_lon[i]), float(p_lat[i])) for i in range(len(p_lon))],
        "pid long, lon double, lat double",
    )
    build = spark.createDataFrame(
        [(j, float(b_lon[j]), float(b_lat[j])) for j in range(len(b_lon))],
        "bid long, st_lon double, st_lat double",
    )
    R = 6371000.0

    def hav(plat, plon, blat, blon):
        p1, p2 = np.radians(plat), np.radians(blat)
        a = (np.sin(np.radians(blat - plat) / 2) ** 2
             + np.cos(p1) * np.cos(p2)
             * np.sin(np.radians(blon - plon) / 2) ** 2)
        return 2 * R * np.arcsin(np.sqrt(a))

    radius = 150_000.0
    D = hav(p_lat[:, None], p_lon[:, None], b_lat[None, :], b_lon[None, :])
    want = {(i, j) for i, j in zip(*np.nonzero(D <= radius))}
    return probe, build, radius, want


def test_within_distance_join_exact_vs_numpy(spark):
    """ST_DWithin replacement: pairs must match the numpy brute force
    exactly on both strategies (see _radius_case)."""
    from tiff_enrichment_pipeline_spark.operators.distance_join import (
        within_distance_join,
    )

    probe, build, radius, want = _radius_case(spark)
    for bcast in (True, False):
        got = {
            (r["pid"], r["bid"])
            for r in within_distance_join(
                probe, build, radius, res=8, broadcast_build=bcast
            ).collect()
        }
        assert got == want, f"broadcast={bcast}: {len(got)} vs {len(want)}"

    # null-GPS probes emit no pairs
    bad = spark.createDataFrame(
        [(-1, None, None), (-2, float("nan"), 0.0)],
        "pid long, lon double, lat double",
    )
    assert within_distance_join(bad, build, radius, res=8).count() == 0

    # salted shuffle path (the hot-cell defense): identical pair set
    salted = {
        (r["pid"], r["bid"])
        for r in within_distance_join(
            probe, build, radius, res=8,
            broadcast_build=False, salt=4, probe_id="pid",
        ).collect()
    }
    assert salted == want


def test_within_distance_shuffle_hot_cell_split_by_aqe(spark):
    """broadcast_build=False keys the shuffle by the probe cell, so an
    unsalted geotag pileup lands in one partition for AQE's skew-join
    split to divide. The cover is tiny, yet the join stays a sort-merge
    join (merge hint); with the skew thresholds lowered (Spark's defaults
    are 256 MB and 5× the median) its final plan is skew-split, and the
    pair set still equals the broadcast path's."""
    from tiff_enrichment_pipeline_spark.operators.distance_join import (
        within_distance_join,
    )

    probe, build, radius, want = _radius_case(spark)
    # 4000 probes in ONE res-8 cell, within radius of build point 3.0/-89.0
    pile = spark.range(10**9, 10**9 + 4000, numPartitions=8).select(
        F.col("id").alias("pid"),
        (F.lit(3.01) + F.col("id") % 7 * 1e-4).alias("lon"),
        F.lit(-88.99).alias("lat"),
    )
    img = pile.unionByName(probe)
    conf = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4k",
    }
    old = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        out = within_distance_join(img, build, radius, res=8,
                                   broadcast_build=False)
        got = {(r["pid"], r["bid"]) for r in out.collect()}
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert "SortMergeJoin(skew=true)" in plan
    bcast = within_distance_join(img, build, radius, res=8)
    assert got == {(r["pid"], r["bid"]) for r in bcast.collect()}
    assert want <= got and len(got - want) >= 4000


def test_interval_lookup_join_strategies(spark):
    """Range join (operators/range_join.py): broadcast and bucketed
    strategies agree with each other and with a python brute force, on
    intervals that overlap, abut, leave gaps, and sit exactly on bucket
    edges; 'left' keeps unmatched probes; bad args raise."""
    from tiff_enrichment_pipeline_spark.operators.range_join import (
        interval_lookup_join,
    )

    iv_rows = [
        # (band_id, lo, hi) — overlapping, edge-aligned (16.0 = 2×8),
        # zero-ish width, and a gap above 60
        (0, 0.0, 10.0), (1, 5.0, 16.0), (2, 16.0, 24.0), (3, 20.0, 21.0),
        (4, 24.0, 24.5), (5, 40.0, 60.0),
    ]
    probe_rows = [(i, v) for i, v in enumerate(
        [0.0, 4.99, 5.0, 9.999, 10.0, 15.999, 16.0, 20.5, 23.999, 24.0,
         24.49, 24.5, 39.999, 40.0, 59.999, 60.0, 100.0]
    )]
    iv = spark.createDataFrame(iv_rows, "band_id int, lo double, hi double")
    pb = spark.createDataFrame(probe_rows, "pid int, v double")

    def key(df):
        return sorted((r["pid"], r["band_id"]) for r in df.collect())

    want = sorted(
        (p, b)
        for p, v in probe_rows
        for b, lo, hi in iv_rows
        if lo <= v < hi
    )
    bc = interval_lookup_join(pb, iv, "v", strategy="broadcast")
    bk = interval_lookup_join(pb, iv, "v", strategy="bucketed", bucket_width=8.0)
    auto = interval_lookup_join(pb, iv, "v", strategy="bucketed")  # P50 width
    assert key(bc) == want
    assert key(bk) == want
    assert key(auto) == want

    left = interval_lookup_join(pb, iv, "v", strategy="bucketed",
                                bucket_width=8.0, how="left")
    got = {(r["pid"], r["band_id"]) for r in left.collect()}
    matched_pids = {p for p, _ in want}
    assert got == set(want) | {
        (p, None) for p, _ in probe_rows if p not in matched_pids
    }
    # bucketed plan is a real equi-join (hash/sort-merge), not a nested loop
    plan = bk._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan

    with pytest.raises(ValueError):
        interval_lookup_join(pb, iv, "v", strategy="nope")
    with pytest.raises(ValueError):
        interval_lookup_join(pb, iv, "v", how="full")
    with pytest.raises(ValueError):
        interval_lookup_join(pb, iv, "v", strategy="bucketed", bucket_width=-1)
    with pytest.raises(ValueError, match="non-empty intervals"):
        interval_lookup_join(
            pb, iv.filter("band_id < 0"), "v", strategy="bucketed"
        )


def test_terrain_matches_analytic_gradient(spark):
    """Terrain operator semantics (not just oracle agreement): on the
    analytic DEM z = 100 + 50·sin(lon) + 30·cos(lat), the bilinear-surface
    gradient must approximate the true derivative (dz/dlon = 50·cos(lon),
    dz/dlat = −30·sin(lat)) at interior points, aspect must point
    downslope, and a flat tile must give slope 0 / NULL aspect /
    hillshade 255·cos(45°)."""
    import math

    from tiff_enrichment_pipeline_spark.fixtures import dem_tiles_df
    from tiff_enrichment_pipeline_spark.operators.elevation import (
        _M_PER_DEG_LAT,
        terrain_join,
    )

    pts = [
        (0, 5.234, 51.871), (1, 4.481, 52.309), (2, 6.017, 53.155),
        (3, 3.905, 50.988),
    ]
    df = spark.createDataFrame(pts, "pid int, lon double, lat double")
    out = {r["pid"]: r for r in terrain_join(df, dem_tiles_df(spark)).collect()}
    for pid, lon, lat in pts:
        dz_dlon = 50.0 * math.cos(lon)          # m per degree lon
        dz_dlat = -30.0 * math.sin(lat)
        m_lon = _M_PER_DEG_LAT * math.cos(math.radians(lat))
        gx, gy = dz_dlon / m_lon, dz_dlat / _M_PER_DEG_LAT
        want_slope = math.degrees(math.atan(math.hypot(gx, gy)))
        want_aspect = math.degrees(math.atan2(-gx, -gy)) % 360.0
        r = out[pid]
        assert r["slope_deg"] == pytest.approx(want_slope, abs=0.02)
        assert r["aspect_deg"] == pytest.approx(want_aspect, abs=1.0)
        assert 0.0 <= r["hillshade"] <= 255.0

    # flat tile: hand-built constant grid
    import numpy as np

    g = (np.full((32, 32), 7.0, dtype="<f4")).tobytes()
    flat = spark.createDataFrame(
        [(51, 528, g, 1.0, "flat")],
        "tile_x int, tile_y int, grid binary, accuracy_m double, source string",
    )
    p = spark.createDataFrame([(0, 5.15, 52.85)], "pid int, lon double, lat double")
    r = terrain_join(p, flat).collect()[0]
    assert r["slope_deg"] == 0.0
    assert r["aspect_deg"] is None
    assert r["hillshade"] == pytest.approx(255.0 * math.cos(math.radians(45.0)))

    # no-GPS and off-DEM rows → NULLs
    misses = spark.createDataFrame(
        [(1, None, None), (2, 120.0, -45.0)], "pid int, lon double, lat double"
    )
    for r in terrain_join(misses, dem_tiles_df(spark)).collect():
        assert r["slope_deg"] is None and r["aspect_deg"] is None
        assert r["hillshade"] is None


def test_terrain_partitioned_matches_broadcast(spark):
    """terrain_join(broadcast_dem=False) must be value-identical to the
    broadcast strategy on every probe of _dem_probes (shared _terrain
    corner kernel)."""
    from tiff_enrichment_pipeline_spark.operators.elevation import terrain_join

    img = _dem_probes(spark)

    def vals(**kw):
        return {
            r["image_id"]: (r["slope_deg"], r["aspect_deg"], r["hillshade"])
            for r in terrain_join(img, dem_tiles_df(spark), **kw).collect()
        }

    a = vals()
    assert a == vals(broadcast_dem=False)
    assert any(v[0] is not None for v in a.values())
    assert any(v[0] is None for v in a.values())


def test_partitioned_dem_hot_tile_split_by_aqe(spark):
    """A hot tile is AQE's to split: once its probe partition
    passes the skew thresholds (lowered here — Spark's defaults are 256 MB
    and 5× the median), the final plan of the partitioned DEM join is a
    skew-split sort-merge join, and the values still match the broadcast
    strategy."""
    pile = spark.range(10**9, 10**9 + 4000, numPartitions=8).select(
        F.col("id").alias("image_id"),
        (F.lit(5.12) + F.col("id") % 7 * 1e-4).alias("lon"),
        F.lit(52.34).alias("lat"),
    )
    img = pile.unionByName(_dem_probes(spark))
    dem = dem_tiles_df(spark)
    conf = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4k",
    }
    old = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        out = elevation_join(img, dem, broadcast_dem=False)
        got = {r["image_id"]: r["elevation"] for r in out.collect()}
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert "SortMergeJoin(skew=true)" in plan
    want = elevation_join(img, dem, broadcast_dem=True).select(
        "image_id", "elevation"
    )
    assert got == {r["image_id"]: r["elevation"] for r in want.collect()}


def test_dated_weather_prune_preserves_left_join(spark):
    """Obs-date pruning (VERDICT r3 #5) must be exact-preserving in the
    hardest case: every probe date OUTSIDE the observation history. The
    pruned build side becomes empty, and the LEFT join must still emit
    every probe row with NULL obs columns — on both the packed broadcast
    and the row-level shuffle path."""
    from tiff_enrichment_pipeline_spark.operators.knn_join import (
        nearest_station_dated,
    )

    img = spark.createDataFrame(
        [(1, 5.0, 52.0, "2030-06-01 10:00:00"),
         (2, 5.1, 52.1, "2030-06-02 11:00:00")],
        "image_id long, lon double, lat double, captured_at string",
    ).select(
        "image_id", "lon", "lat",
        F.col("captured_at").cast("timestamp").alias("captured_at"),
    )
    st = spark.createDataFrame(
        [(10, 5.05, 52.05, 14.0)],
        "station_id long, st_lon double, st_lat double, temp_c double",
    )
    obs = spark.createDataFrame(
        [(10, "1999-01-01", 3.0), (10, "1999-01-02", 4.0)],
        "station_id long, obs_date string, obs_temp_c double",
    ).select(
        "station_id", F.col("obs_date").cast("date").alias("obs_date"),
        "obs_temp_c",
    )
    for broadcast_obs in (True, False):
        out = nearest_station_dated(
            img, st, obs, broadcast_obs=broadcast_obs
        ).orderBy("image_id").collect()
        assert [r["image_id"] for r in out] == [1, 2], broadcast_obs
        assert all(r["obs_temp_c"] is None for r in out), broadcast_obs
        assert all(r["station_id"] == 10 for r in out), broadcast_obs

    # and an empty probe side: the min/max aggregate returns NULLs — the
    # pruning must degrade to a no-op, not raise
    empty = img.filter(F.col("image_id") < 0)
    assert nearest_station_dated(empty, st, obs).count() == 0


def test_dated_weather_packed_equals_row_join_on_sparse_obs(spark):
    """The packed broadcast lookup (broadcast_obs=True) must be
    value-identical to the row-level (station_id, date) shuffle join
    (broadcast_obs=False) even when a station's history has GAPS — the
    dense O(1) index does not apply and the per-station date-offset
    lookup must carry exactness. Covers: dense
    station, gapped station, station with no obs at all, probe date
    inside a gap, probe date outside the history."""
    from tiff_enrichment_pipeline_spark.operators.knn_join import (
        nearest_station_dated,
    )

    img = spark.createDataFrame(
        [(1, 5.0, 52.0, "1999-01-02 10:00:00"),   # dense station hit
         (2, 5.1, 52.1, "1999-01-03 11:00:00"),   # gapped station, in gap
         (3, 5.1, 52.1, "1999-01-05 09:00:00"),   # gapped station, hit
         (4, 6.9, 53.9, "1999-01-02 08:00:00"),   # station with no obs
         (5, 5.0, 52.0, "2005-12-25 12:00:00")],  # outside history
        "image_id long, lon double, lat double, captured_at string",
    ).select(
        "image_id", "lon", "lat",
        F.col("captured_at").cast("timestamp").alias("captured_at"),
    )
    st = spark.createDataFrame(
        [(10, 5.0, 52.0, 14.0), (20, 5.1, 52.1, 15.0), (30, 6.9, 53.9, 9.0)],
        "station_id long, st_lon double, st_lat double, temp_c double",
    )
    obs = spark.createDataFrame(
        [(10, "1999-01-01", 1.0), (10, "1999-01-02", 2.0),
         (10, "1999-01-03", 3.0),
         # station 20: gap on 01-03/01-04
         (20, "1999-01-01", 4.0), (20, "1999-01-02", 5.0),
         (20, "1999-01-05", 6.0)],
        "station_id long, obs_date string, obs_temp_c double",
    ).select(
        "station_id", F.col("obs_date").cast("date").alias("obs_date"),
        "obs_temp_c",
    )
    cols = ["image_id", "station_id", "obs_temp_c"]

    def rows(broadcast_obs):
        got = nearest_station_dated(img, st, obs, broadcast_obs=broadcast_obs)
        return {
            r["image_id"]: (r["station_id"], r["obs_temp_c"])
            for r in got.select(cols).collect()
        }

    packed, plain = rows(True), rows(False)
    assert packed == plain
    assert packed[1] == (10, 2.0)      # dense direct index
    assert packed[2] == (20, None)     # in-gap → NULL via linear fallback
    assert packed[3] == (20, 6.0)      # gapped station, existing date
    assert packed[4] == (30, None)     # no obs for the station
    assert packed[5][1] is None        # outside history → NULL


def test_dated_weather_packed_duplicates_and_null_dates(spark):
    """Review finding (r5): a duplicate (station, date) or a NULL date
    must NOT spoof the dense-index test — duplicates satisfy
    size == span+1 while shifting every index, returning the WRONG
    day's payload for in-gap probes; a NULL date sorted into the array
    shifts all indexes by one. Duplicated stations must take the exact
    linear fallback; NULL-dated rows are dropped pre-pack (they can
    never match the equi-join key)."""
    from tiff_enrichment_pipeline_spark.operators.knn_join import (
        nearest_station_dated,
    )

    img = spark.createDataFrame(
        [(1, 5.0, 52.0, "1999-01-02 10:00:00"),   # in-GAP of dup station
         (2, 5.0, 52.0, "1999-01-03 09:00:00"),   # existing date
         (3, 5.1, 52.1, "1999-01-02 08:00:00")],  # null-date station, gap
        "image_id long, lon double, lat double, captured_at string",
    ).select(
        "image_id", "lon", "lat",
        F.col("captured_at").cast("timestamp").alias("captured_at"),
    )
    st = spark.createDataFrame(
        [(10, 5.0, 52.0, 14.0), (20, 5.1, 52.1, 15.0)],
        "station_id long, st_lon double, st_lat double, temp_c double",
    )
    # station 10: duplicate 01-01 + gap on 01-02 (size 3 == span 3 —
    # the spoof); station 20: NULL date + gap on 01-02
    obs = spark.createDataFrame(
        [(10, "1999-01-01", 1.0), (10, "1999-01-01", 1.5),
         (10, "1999-01-03", 3.0),
         (20, None, 9.0), (20, "1999-01-01", 4.0), (20, "1999-01-03", 6.0)],
        "station_id long, obs_date string, obs_temp_c double",
    ).select(
        "station_id", F.col("obs_date").cast("date").alias("obs_date"),
        "obs_temp_c",
    )
    got = {
        r["image_id"]: r["obs_temp_c"]
        for r in nearest_station_dated(img, st, obs).collect()
    }
    assert got[1] is None    # in-gap: was 1.5 (wrong dup payload) pre-fix
    assert got[2] == 3.0     # real date still resolves (linear fallback)
    assert got[3] is None    # NULL-date row neither matches nor shifts
    # multiplicity on the duplicated key itself follows the documented
    # packed contract: ONE row (first in date-sorted order)
    dup_probe = img.filter(F.col("image_id") == 1).withColumn(
        "captured_at", F.lit("1999-01-01 10:00:00").cast("timestamp")
    )
    rows = nearest_station_dated(dup_probe, st, obs).collect()
    assert len(rows) == 1 and rows[0]["obs_temp_c"] == 1.0


def test_packed_obs_generator_equals_pack_build(spark):
    """geotables.weather_observations_packed (the direct per-station
    generator — no explode + re-group shuffle; r8: columnar layout) must
    be row-for-row identical to pack_observations_columnar() over the row
    dim: same payload arithmetic/types, same column order, same date
    sort, dense everywhere."""
    from tiff_enrichment_pipeline_spark.operators.knn_join import (
        pack_observations_columnar,
    )

    sf = "/root/testdata/sf0.001"
    direct = geotables.weather_observations_packed(spark, sf)
    built = pack_observations_columnar(
        geotables.weather_observations(spark, sf).withColumnRenamed(
            "obs_date", "weather_historical_date"
        )
    )
    # names + types must match exactly; nullability flags legitimately
    # differ (literal-built vs aggregate-built columns)
    assert [
        (f.name, f.dataType.simpleString()) for f in direct.schema.fields
    ] == [(f.name, f.dataType.simpleString()) for f in built.schema.fields]
    d = {r["station_id"]: r for r in direct.collect()}
    b = {r["station_id"]: r for r in built.collect()}
    assert d.keys() == b.keys() and len(d) > 0
    for sid in d:
        assert d[sid] == b[sid], sid
        assert d[sid]["_obs_dense"] is True


def test_packed_obs_lookup_matches_duckdb_reference(spark):
    """pack_observations_columnar + packed_obs_lookup must reproduce the
    packed contract, computed independently in DuckDB: per (station,
    date) the first entry in (date, payload) sort order; NULL payloads on
    a gap, outside the span, or for a station without observations.
    Covers SPARSE stations (every 3rd day → non-dense path) and duplicate
    keys whose extra entry sorts first or last."""
    import duckdb
    from pyspark.sql import functions as F

    from tiff_enrichment_pipeline_spark.operators.knn_join import (
        pack_observations_columnar,
        packed_obs_lookup,
    )

    sf = "/root/testdata/sf0.001"
    obs = geotables.weather_observations(spark, sf).withColumnRenamed(
        "obs_date", "weather_historical_date"
    )
    day0 = F.lit(geotables.OBS_START).cast("date")
    sparse = obs.filter(
        F.datediff(F.col("weather_historical_date"), day0) % 3 == 0
    )
    # duplicate two keys: station 1's extra entry sorts FIRST (-99 <
    # anything), station 2's sorts LAST (99 > anything)
    first_day = F.col("weather_historical_date") == day0
    dup = sparse.filter((F.col("station_id") == 1) & first_day).withColumn(
        "obs_temp_c", F.lit(-99.0)
    ).unionByName(
        sparse.filter((F.col("station_id") == 2) & first_day).withColumn(
            "obs_temp_c", F.lit(99.0)
        )
    )
    sparse = sparse.unionByName(dup)
    probe = (
        geotables.images_geo(spark, sf)
        .select(
            "image_id",
            F.to_date("captured_at").alias("weather_historical_date"),
        )
        .withColumn(
            "station_id",
            (F.col("image_id") % 100 + 1).cast("long"),
        )
    )
    # station 1 and 2 probes on the duplicated day
    probe = probe.unionByName(
        spark.createDataFrame(
            [(-1, 1), (-2, 2)], "image_id long, station_id long"
        ).withColumn("weather_historical_date", day0)
    )
    pack = pack_observations_columnar(sparse)
    payload = ["obs_temp_c", "obs_wind_ms", "obs_precip_mm"]
    cols = ["image_id", "station_id", "weather_historical_date", *payload]
    got = {
        r["image_id"]: tuple(r)
        for r in packed_obs_lookup(probe, pack).select(cols).collect()
    }

    con = duckdb.connect()
    con.register("obs", sparse.toPandas())
    con.register("probe", probe.toPandas())
    ref_rows = con.execute(
        f"""
        WITH first_entry AS (
          SELECT * FROM obs
          QUALIFY ROW_NUMBER() OVER (
            PARTITION BY station_id, weather_historical_date
            ORDER BY {", ".join(payload)}) = 1
        )
        SELECT p.image_id, p.station_id, p.weather_historical_date,
               {", ".join("o." + c for c in payload)}
        FROM probe p LEFT JOIN first_entry o
          ON o.station_id = p.station_id
         AND o.weather_historical_date = p.weather_historical_date
        """
    ).fetchall()
    ref = {r[0]: tuple(r) for r in ref_rows}
    assert got == ref and len(got) > 0
    assert got[-1][3] == -99.0 and got[-2][3] != 99.0  # sort-order rule
    # the fixture really exercises every miss kind and the sparse path
    assert any(v[3] is None and v[1] <= 10 for v in got.values())  # gap
    assert any(v[1] > 10 for v in got.values())  # station without obs
    assert any(v[3] is not None for v in got.values())
    assert not any(r["_obs_dense"] for r in pack.collect())


def test_packed_obs_lookup_projects_away_extra_columns(spark):
    """A persisted pack may carry columns beyond the packed schema; the
    lookup must project them away before the broadcast instead of leaking
    them into the output."""
    from tiff_enrichment_pipeline_spark.operators.knn_join import (
        pack_observations_columnar,
        packed_obs_lookup,
    )

    obs = spark.createDataFrame(
        [(10, "1999-01-01", 1.0), (10, "1999-01-02", 2.0)],
        "station_id long, weather_historical_date string, obs_temp_c double",
    ).withColumn(
        "weather_historical_date", F.col("weather_historical_date").cast("date")
    )
    probe = spark.createDataFrame(
        [(1, 10, "1999-01-02")],
        "image_id long, station_id long, weather_historical_date string",
    ).withColumn(
        "weather_historical_date", F.col("weather_historical_date").cast("date")
    )
    pack = pack_observations_columnar(obs).withColumn("note", F.lit("x"))
    out = packed_obs_lookup(probe, pack)
    assert out.columns == [
        "station_id", "image_id", "weather_historical_date", "obs_temp_c"
    ]
    assert [tuple(r) for r in out.collect()] == [
        (10, 1, probe.first()["weather_historical_date"], 2.0)
    ]


def test_dated_weather_packed_obs_param(spark):
    """nearest_station_dated(packed_obs=...) — the build-once/reuse form
    — must equal the inline observations= form, and the API must reject
    ambiguous or scale-unsafe combinations."""
    from tiff_enrichment_pipeline_spark.operators.knn_join import (
        nearest_station_dated,
        pack_observations_columnar,
    )

    sf = "/root/testdata/sf0.001"
    img = geotables.images_geo(spark, sf).select(
        "image_id", "lon", "lat", "captured_at"
    )
    st = geotables.stations(spark, sf)
    obs = geotables.weather_observations(spark, sf)
    packed = geotables.weather_observations_packed(spark, sf)
    via_packed = {
        r["image_id"]: (r["station_id"], r["obs_temp_c"], r["obs_wind_ms"])
        for r in nearest_station_dated(img, st, packed_obs=packed).collect()
    }
    via_rows = {
        r["image_id"]: (r["station_id"], r["obs_temp_c"], r["obs_wind_ms"])
        for r in nearest_station_dated(img, st, obs).collect()
    }
    assert via_packed == via_rows and len(via_packed) > 0

    with pytest.raises(ValueError, match="exactly one"):
        nearest_station_dated(img, st)
    with pytest.raises(ValueError, match="exactly one"):
        nearest_station_dated(img, st, obs, packed_obs=packed)
    with pytest.raises(ValueError, match="broadcast_obs=True"):
        nearest_station_dated(
            img, st, packed_obs=packed, broadcast_obs=False
        )
    with pytest.raises(ValueError, match="pack_observations_columnar"):
        nearest_station_dated(img, st, packed_obs=obs)  # wrong schema
    with pytest.raises(ValueError, match="'d'"):
        pack_observations_columnar(
            obs.withColumnRenamed("obs_temp_c", "d"),
            date_col="obs_date",
        )


def test_enrich_packed_obs_equals_row_obs(spark):
    """plans.enrich with a pre-built packed_obs must produce the same
    weather enrichment as the row-level observations= path (modulo the
    documented duplicate-key contract, which the fixture satisfies)."""
    from tiff_enrichment_pipeline_spark.fixtures import dem_tiles_df
    from tiff_enrichment_pipeline_spark.plans.enrich import enrich

    sf = "/root/testdata/sf0.001"
    img = geotables.images_geo(spark, sf)
    kw = dict(
        landcover=geotables.landcover_polygons(spark),
        stations=geotables.stations(spark, sf),
        dem_tiles=dem_tiles_df(spark),
    )
    cols = ["image_id", "weather_station_id", "weather_historical_date",
            "weather", "enrich_status"]
    a = {
        r["image_id"]: tuple(r)
        for r in enrich(
            img,
            packed_obs=geotables.weather_observations_packed(spark, sf),
            **kw,
        ).select(cols).collect()
    }
    # broadcast_obs=False forces the row-level composite-key join — a
    # genuinely different plan, so this is pack-vs-row, not pack-vs-pack
    b = {
        r["image_id"]: tuple(r)
        for r in enrich(
            img,
            observations=geotables.weather_observations(spark, sf),
            broadcast_obs=False,
            **kw,
        ).select(cols).collect()
    }
    assert a == b and len(a) > 0

def test_knn_kernel_exact_ties_and_f32_fallback():
    """Kernel-level pins for build_knn_index + topk_indexed_np against an
    fp64 lexicographic brute force (winners and chord² values):

    1. Exact-tie ordering: co-located stations (identical coordinates,
       distinct ids) must be returned in ascending-id order with NO id
       skipped — an argpartition selection can drop a tied id at the
       partition boundary (top-5 of ten exact ties came back
       800,802,803,804,805).
    2. Probes inside index coverage (pruned per-cell lists) and far from
       it (the fp32-prefilter full scan, _fallback_f32_scan) alike.
    """
    from tiff_enrichment_pipeline_spark.operators.knn_join import (
        build_knn_index,
        topk_indexed_np,
    )

    rng = np.random.default_rng(7)
    base_lat = 50.8 + (np.arange(100) // 10) * 0.1
    base_lon = 3.5 + (np.arange(100) % 10) * 0.1
    s_lat = np.repeat(base_lat, 10)  # 10 exact clones per site
    s_lon = np.repeat(base_lon, 10)
    s_ids = np.arange(1000, dtype=np.int64)
    rp, rl = np.radians(s_lat), np.radians(s_lon)
    s_xyz = np.stack(
        [np.cos(rp) * np.cos(rl), np.cos(rp) * np.sin(rl), np.sin(rp)],
        axis=1,
    )

    # probes: half inside coverage (indexed path), half far away (fp32
    # fallback path)
    lat_v = np.concatenate(
        [50.8 + rng.random(300) * 1.0, -30 + rng.random(300) * 40]
    )
    lon_v = np.concatenate(
        [3.5 + rng.random(300) * 1.0, -170 + rng.random(300) * 100]
    )
    for k in (1, 3, 5):
        index, res_f = build_knn_index(s_lat, s_lon, s_xyz, k, 10, 2)
        # the near half really lands in indexed cells, the far half not
        w = 360.0 / 2**res_f
        cells = (
            res_f * 2**56
            + ((lon_v + 180.0) / w).astype(np.int64) * 2**28
            + ((lat_v + 90.0) / w).astype(np.int64)
        )
        covered = np.array([int(c) in index for c in cells])
        assert covered[:300].all() and not covered[300:].any()
        idx, d2 = topk_indexed_np(lat_v, lon_v, s_xyz, s_ids, index, k, res_f)
        p = np.stack(
            [
                np.cos(np.radians(lat_v)) * np.cos(np.radians(lon_v)),
                np.cos(np.radians(lat_v)) * np.sin(np.radians(lon_v)),
                np.sin(np.radians(lat_v)),
            ],
            axis=1,
        )
        d2_ref = 2.0 - 2.0 * (p @ s_xyz.T)
        order = np.lexsort(
            (np.broadcast_to(s_ids, d2_ref.shape), d2_ref), axis=1
        )[:, :k]
        assert np.array_equal(idx.astype(np.int64), order), f"k={k} winners"
        d2_want = np.maximum(
            np.take_along_axis(d2_ref, order, axis=1), 0.0
        )
        assert np.allclose(d2, d2_want, rtol=0, atol=1e-12), f"k={k} d2"
        # the clone groups really are exact ties returned id-ascending
        if k == 5:
            far = slice(300, 600)
            got = idx[far].astype(np.int64)
            assert np.array_equal(got % 10, np.tile(np.arange(5), (300, 1)))


def test_topk_indexed_rejects_unsorted_station_ids():
    """The kernel's tie rule (argmin first occurrence) is the oracle's
    ``ORDER BY dist, station_id`` only for id-ascending stations; two
    co-located stations with ids [7, 3] would otherwise silently return 7
    where the oracle wants 3. Unsorted ids must raise."""
    from tiff_enrichment_pipeline_spark.operators.knn_join import (
        build_knn_index,
        topk_indexed_np,
    )

    s_lat = np.array([52.0, 52.0])
    s_lon = np.array([5.0, 5.0])
    rp, rl = np.radians(s_lat), np.radians(s_lon)
    s_xyz = np.stack(
        [np.cos(rp) * np.cos(rl), np.cos(rp) * np.sin(rl), np.sin(rp)],
        axis=1,
    )
    index, res_f = build_knn_index(s_lat, s_lon, s_xyz, 1, 10, 2)
    probe_lat, probe_lon = np.array([52.01]), np.array([5.01])
    with pytest.raises(ValueError, match="ascending"):
        topk_indexed_np(
            probe_lat, probe_lon, s_xyz, np.array([7, 3]), index, 1, res_f
        )
    idx, _ = topk_indexed_np(
        probe_lat, probe_lon, s_xyz, np.array([3, 7]), index, 1, res_f
    )
    assert idx[0, 0] == 0  # position of id 3, the oracle's tie winner
