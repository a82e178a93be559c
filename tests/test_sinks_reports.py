"""Sinks (S6-S9), cleanup filter (P10), surface area (M7), per-op metric
summary (A9/A10) — the remaining SURVEY §2 operators."""

from __future__ import annotations

import tempfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from tiff_enrichment_pipeline_spark.fixtures import (
    api_usage_df,
    images_df,
    processing_runs_df,
)
from tiff_enrichment_pipeline_spark.functions.geo import (
    affine_from_center,
    georef_valid,
    pixel_size_deg,
    surface_area_m2,
)


@pytest.fixture()
def tmp(spark):
    with tempfile.TemporaryDirectory() as d:
        yield Path(d)


def test_binary_sink_roundtrip(spark, tmp):
    """GeoTIFF-analog sink (S6, utils/rasterio_utils.py:235-255): binary
    payload column written to parquet and read back byte-identical."""
    df = images_df(spark, 4)
    out = str(tmp / "images_out")
    df.write.parquet(out)
    back = spark.read.parquet(out)
    a = {r["image_id"]: bytes(r["bytes"]) for r in df.collect()}
    b = {r["image_id"]: bytes(r["bytes"]) for r in back.collect()}
    assert a == b  # caption/pixel byte-equality through the sink


def test_json_and_csv_report_sinks(spark, tmp):
    """S7 JSON metadata sink + S8 CSV validation-report sink
    (main.py:387-394,529-535)."""
    runs = processing_runs_df(spark, 50)
    jdir, cdir = str(tmp / "j"), str(tmp / "c")
    runs.select(F.to_json(F.struct("*")).alias("doc")).write.text(jdir)
    runs.select("run_id", "image_id", "status").write.csv(cdir, header=True)
    assert spark.read.json(jdir).count() == 50
    csv = spark.read.csv(cdir, header=True)
    assert csv.count() == 50 and set(csv.columns) == {"run_id", "image_id", "status"}


def test_merge_upsert_on_retry(spark, tmp):
    """Catalog sink upsert (S9: MERGE INTO semantics on retry,
    create-tables.sql:253 unique checksum): re-writing a batch replaces
    rows by key instead of duplicating."""
    out = str(tmp / "cat")
    v1 = processing_runs_df(spark, 30)
    v1.write.parquet(out)
    # retry of the first 10 with updated status: anti-join old ∪ new
    retry = (
        processing_runs_df(spark, 10).withColumn("status", F.lit("completed"))
    )
    existing = spark.read.parquet(out)
    merged = existing.join(retry, "run_id", "left_anti").unionByName(retry)
    merged.write.mode("overwrite").parquet(str(tmp / "cat2"))
    final = spark.read.parquet(str(tmp / "cat2"))
    assert final.count() == 30
    assert final.filter(
        (F.col("run_id") < "RUN_000010") & (F.col("status") != "completed")
    ).count() == 0


def test_cleanup_anti_filter_and_area(spark):
    """P9/P10 georef-validity routing + M7 surface area
    (core/processor.py:643-668; core/validation.py:101-150)."""
    img = images_df(spark, 15).filter(F.col("band") == 3)
    w, h = F.lit(1280), F.lit(960)
    px, py = pixel_size_deg(F.col("alt"), F.col("lat"))
    t = affine_from_center(F.col("lon"), F.col("lat"), w, h, px, py)
    out = img.select(
        "capture_id", "lat",
        georef_valid(F.lit("EPSG:4326"), t).alias("ok"),
        surface_area_m2(t, w, h, F.col("lat")).alias("area_m2"),
    )
    rows = out.collect()
    with_gps = [r for r in rows if r["lat"] is not None]
    no_gps = [r for r in rows if r["lat"] is None]
    assert all(r["ok"] for r in with_gps)       # sane drone alts → valid
    assert all(not r["ok"] for r in no_gps)     # null transform → cleaned up
    for r in with_gps:
        # footprint = (gsd_x*1280)·(gsd_y*960); alt∈[20,120] → sane bounds
        assert 100.0 < r["area_m2"] < 250000.0


def test_per_op_metric_summary(spark):
    """A9/A10 per-op metric rollup (monitoring/rasterio_monitor.py:124-170)
    over the api_usage fixture: counts, durations, error counts, peak."""
    api = api_usage_df(spark, 1000)
    summary = (
        api.groupBy("api_source")
        .agg(
            F.count("*").alias("n_ops"),
            F.sum("response_ms").alias("total_ms"),
            F.avg("response_ms").alias("avg_ms"),
            F.max("response_ms").alias("peak_ms"),
            F.count(F.when(F.col("response_code") >= 400, 1)).alias("n_errors"),
            F.count(F.when(F.col("cache_hit"), 1)).alias("cache_hits"),
        )
    ).collect()
    assert len(summary) == 5  # the 5 api_source enum values (init-db.sql:59-65)
    total = sum(r["n_ops"] for r in summary)
    assert total == 1000
    for r in summary:
        assert r["peak_ms"] >= r["avg_ms"]
        assert 0 <= r["n_errors"] <= r["n_ops"]


def test_write_images_partition_layout_prunes(spark, tmp_path):
    """write_images must lay out parquet partitioned by (p_bucket, p_cell)
    so a cell-range read prunes partitions (visible as PartitionFilters),
    and read_images must hide the physical p_* columns again."""
    from pyspark.sql import functions as F

    from tiff_enrichment_pipeline_spark import geotables, grid
    from tiff_enrichment_pipeline_spark.sources.images import (
        read_images,
        write_images,
    )

    img = geotables.images_geo(spark, "/root/testdata/sf0.001").limit(500)
    path = str(tmp_path / "img_tbl")
    write_images(img, path, mode="overwrite", buckets=4)

    back = read_images(spark, path)
    assert sorted(back.columns) == sorted(img.columns)  # p_* hidden
    assert back.count() == 500

    # res-4 cell containing NL: ix=floor((5+180)/360*16)=8, iy=floor((52+90)/180*8)=6
    nl_cell = 4 * (2**56) + 8 * (2**28) + 6
    raw = spark.read.parquet(path).filter(F.col("p_cell") == nl_cell)
    plan = raw._jdf.queryExecution().executedPlan().toString()
    scans = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert scans and "p_cell" in scans[0]
    assert raw.count() > 0


def test_upsert_cleans_tmp_dirs(spark, tmp_path):
    """upsert_by_key's parquet fallback must leave no __merge_tmp /
    __merge_old directories and must not lose rows across the swap."""
    import os

    from tiff_enrichment_pipeline_spark.sources.images import upsert_by_key

    target = str(tmp_path / "tbl")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "image_id long, v string"
    ).write.parquet(target)
    upd = spark.createDataFrame([(2, "B"), (3, "c")], "image_id long, v string")
    upsert_by_key(spark, target, upd, key="image_id")
    got = {
        r["image_id"]: r["v"] for r in spark.read.parquet(target).collect()
    }
    assert got == {1: "a", 2: "B", 3: "c"}
    siblings = os.listdir(tmp_path)
    assert not any("__merge" in s for s in siblings), siblings


def test_upsert_file_scheme_uri(spark, tmp_path):
    """A file:-qualified target (file:///x — '://' present; file:/x — no
    '://') must go through the scheme-aware Hadoop-FS rename swap, not
    shutil (which can't operate on URI strings) and not the 2×-write
    remote-rewrite branch (round-2 ADVICE item)."""
    import os

    from tiff_enrichment_pipeline_spark.sources.images import upsert_by_key

    for uri_prefix in ("file://", "file:"):
        d = tmp_path / f"tbl_{uri_prefix.count('/')}"
        target = uri_prefix + str(d)
        spark.createDataFrame(
            [(1, "a"), (2, "b")], "image_id long, v string"
        ).write.parquet(target)
        upd = spark.createDataFrame(
            [(2, "B"), (3, "c")], "image_id long, v string"
        )
        upsert_by_key(spark, target, upd, key="image_id")
        got = {
            r["image_id"]: r["v"] for r in spark.read.parquet(target).collect()
        }
        assert got == {1: "a", 2: "B", 3: "c"}, uri_prefix
        siblings = os.listdir(tmp_path)
        assert not any("__merge" in s for s in siblings), siblings


def test_append_inherits_recorded_bucket_layout(spark, tmp_path):
    """write_images(append) must reuse the RECORDED bucket modulus (and not
    clobber _layout): appending with a different `buckets` arg would
    scatter a key's rows across bucket dirs (round-2 ADVICE item)."""
    from tiff_enrichment_pipeline_spark import geotables
    from tiff_enrichment_pipeline_spark.sources.images import (
        _read_layout_meta,
        write_images,
    )

    img = geotables.images_geo(spark, "/root/testdata/sf0.001").filter(
        F.col("image_id") < 200
    )
    path = str(tmp_path / "tbl")
    write_images(img.filter(F.col("image_id") < 100), path,
                 mode="overwrite", buckets=4)
    with pytest.warns(UserWarning, match="recorded"):
        write_images(
            img.filter(F.col("image_id") >= 100), path,
            mode="append", buckets=16,
        )
    assert _read_layout_meta(spark, path) == 4
    # every image_id lives in exactly ONE bucket directory (modulus-4 for
    # all rows, old and appended)
    raw = spark.read.parquet(path)
    multi = (
        raw.groupBy("image_id")
        .agg(F.countDistinct("p_bucket").alias("nb"))
        .filter(F.col("nb") > 1)
        .count()
    )
    assert multi == 0
    assert raw.select("p_bucket").distinct().count() <= 4


def test_zorder_write_clusters_files(spark, tmp_path):
    """write_images(cluster='zorder') must give each parquet file a TIGHT
    lon/lat envelope: a small bbox should intersect only a few files'
    min-max stats (row-group pruning at scan), while the unclustered hash
    layout leaves nearly every file spanning the whole extent."""
    import pyarrow.parquet as pq

    from tiff_enrichment_pipeline_spark import geotables
    from tiff_enrichment_pipeline_spark.sources.images import write_images

    img = geotables.images_geo(spark, "/root/testdata/sf0.001", partitions=16)
    flat = str(tmp_path / "flat")
    zord = str(tmp_path / "zord")
    write_images(img, flat, mode="overwrite", partition=False)
    write_images(
        img, zord, mode="overwrite", partition=False,
        cluster="zorder", cluster_partitions=16,
    )

    box = (5.0, 51.5, 5.5, 52.0)  # lon0, lat0, lon1, lat1 — inside NL

    def files_intersecting(path: str) -> tuple[int, int]:
        hits, total = 0, 0
        for f in Path(path).glob("*.parquet"):
            md = pq.ParquetFile(str(f)).metadata
            cols = {
                md.row_group(0).column(i).path_in_schema: i
                for i in range(md.row_group(0).num_columns)
            }
            lo_lon = min(
                md.row_group(g).column(cols["lon"]).statistics.min
                for g in range(md.num_row_groups)
            )
            hi_lon = max(
                md.row_group(g).column(cols["lon"]).statistics.max
                for g in range(md.num_row_groups)
            )
            lo_lat = min(
                md.row_group(g).column(cols["lat"]).statistics.min
                for g in range(md.num_row_groups)
            )
            hi_lat = max(
                md.row_group(g).column(cols["lat"]).statistics.max
                for g in range(md.num_row_groups)
            )
            total += 1
            if not (
                hi_lon < box[0] or lo_lon > box[2]
                or hi_lat < box[1] or lo_lat > box[3]
            ):
                hits += 1
        return hits, total

    f_hits, f_total = files_intersecting(flat)
    z_hits, z_total = files_intersecting(zord)
    assert f_total > 4 and z_total > 4, (f_total, z_total)
    # hash layout: (almost) every file spans the hot NL box
    assert f_hits >= f_total - 1, (f_hits, f_total)
    # z-order layout: the box touches a small fraction of files
    assert z_hits <= z_total // 2, (z_hits, z_total)
    # identical logical content either way
    assert (
        spark.read.parquet(zord).count() == spark.read.parquet(flat).count()
    )


def test_deterministic_sampling_and_split(spark):
    """Hash-mod sampling: stable under repartitioning (the retry/resume
    guarantee rand()-based sampling lacks), proportions within tolerance,
    split ranges exhaustive and disjoint."""
    from tiff_enrichment_pipeline_spark import geotables
    from tiff_enrichment_pipeline_spark.operators.sampling import (
        deterministic_sample,
        stratified_split,
    )

    img = geotables.images_geo(spark, "/root/testdata/sf0.001")
    n = img.count()
    s1 = {r["image_id"] for r in deterministic_sample(img, "image_id", 0.2).collect()}
    s2 = {
        r["image_id"]
        for r in deterministic_sample(
            img.repartition(7), "image_id", 0.2
        ).collect()
    }
    assert s1 == s2  # partitioning-independent
    assert abs(len(s1) / n - 0.2) < 0.05

    split = stratified_split(img, "image_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in split.groupBy("split").agg(
        F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == n  # exhaustive, no NULL split
    assert abs(counts["train"] / n - 0.8) < 0.06

    with pytest.raises(ValueError, match="sum to 1"):
        stratified_split(img, "image_id", {"a": 0.5, "b": 0.4})
    with pytest.raises(ValueError, match="fraction"):
        deterministic_sample(img, "image_id", 1.5)


def test_percentiles_approx_close_to_exact(spark):
    """A3 scale path: percentile_approx(accuracy=10000) must agree with the
    exact variant within sketch error on the fixture (rank error ≤ n/1e4 —
    effectively exact at sf0.001)."""
    from tiff_enrichment_pipeline_spark.queries import (
        q_percentiles,
        q_percentiles_approx,
    )

    sf = "/root/testdata/sf0.001"
    exact = {r["event_type"]: (r["p25"], r["p50"], r["p75"])
             for r in q_percentiles(spark, sf).collect()}
    approx = {r["event_type"]: (r["p25"], r["p50"], r["p75"])
              for r in q_percentiles_approx(spark, sf).collect()}
    assert exact.keys() == approx.keys()
    for et in exact:
        for a, b in zip(exact[et], approx[et]):
            # percentile_approx returns an observed value near the exact
            # interpolated quantile; tolerance = a small value-space band
            assert abs(a - b) <= max(0.5, 0.01 * abs(a)), (et, exact[et], approx[et])


def test_percentiles_udaf_kind_inferred_without_warning(spark):
    """The grouped-agg pandas UDF kind comes from its type hints, not the
    deprecated PandasUDFType argument (which warns at plan build)."""
    import warnings

    from conftest import SF_SMALL

    from tiff_enrichment_pipeline_spark.queries import q_percentiles_udaf

    with warnings.catch_warnings():
        warnings.simplefilter("error")
        df = q_percentiles_udaf(spark, SF_SMALL)
    # grouped-agg kind: Arrow partial aggregation, not a scalar projection
    assert "ArrowAggregatePython" in df._jdf.queryExecution().executedPlan().toString()


def test_upsert_preserves_partition_layout(spark, tmp_path):
    """Upserting into a partitioned image table must keep the p_* layout
    (a flattening rewrite would silently kill partition pruning)."""
    import os

    from tiff_enrichment_pipeline_spark import geotables
    from tiff_enrichment_pipeline_spark.sources.images import (
        upsert_by_key,
        write_images,
    )

    img = geotables.images_geo(spark, "/root/testdata/sf0.001").filter(
        F.col("image_id") < 300
    )
    n = img.count()
    path = str(tmp_path / "tbl")
    write_images(img, path, mode="overwrite", buckets=4)
    upd = img.filter(F.col("image_id") % 7 == 0).withColumn("alt", F.lit(0.0))
    n_upd = upd.count()
    upsert_by_key(spark, path, upd, key="image_id")
    # partition dirs survive the merge
    assert any(d.startswith("p_bucket=") for d in os.listdir(path)), os.listdir(path)
    back = spark.read.parquet(path)
    assert back.count() == n
    assert back.filter(F.col("alt") == 0.0).count() == n_upd


def test_export_geotiff_sink(spark, tmp):
    """S6 proper: the sink writes REAL GeoTIFF files (stdlib baseline
    encoder) that decode bit-exact, carry EPSG:4326 georeferencing derived
    from the same camera model as the engine's affine_from_center, and
    skip geo tags for no-GPS rows (reference: rasterio_utils.py:235-255)."""
    import numpy as np

    from tiff_enrichment_pipeline_spark.raster import codec
    from tiff_enrichment_pipeline_spark.sources.images import export_geotiff

    df = images_df(spark, 8)  # capture 7 ≡ no-GPS (fixtures.image_geotag)
    out = str(tmp / "tifs")
    manifest = export_geotiff(df, out).collect()
    assert len(manifest) == df.count()
    rows = {r["image_id"]: r for r in df.collect()}
    # engine-side truth for the affine origin, via the Spark columns
    eng = {
        r["image_id"]: r
        for r in df.filter(F.col("lat").isNotNull())
        .withColumns(
            dict(
                zip(
                    ("px_deg", "py_deg"),
                    pixel_size_deg(F.col("alt"), F.col("lat")),
                )
            )
        )
        .withColumn(
            "affine",
            affine_from_center(
                F.col("lon"), F.col("lat"), F.col("w"), F.col("h"),
                F.col("px_deg"), F.col("py_deg"),
            ),
        )
        .select("image_id", "affine.c", "affine.f", "px_deg", "py_deg")
        .collect()
    }
    n_geo = 0
    for m in manifest:
        src = rows[m["image_id"]]
        payload = Path(m["path"]).read_bytes()
        assert len(payload) == m["nbytes"]
        arr, meta = codec.decode_geotiff(payload)
        want = codec.decode(bytes(src["bytes"]), src["w"], src["h"], src["fmt"])
        assert np.array_equal(arr, want)
        if m["georeferenced"]:
            n_geo += 1
            e = eng[m["image_id"]]
            assert meta["epsg"] == 4326
            # sink's scalar math ≡ engine's Column math (same formulas)
            assert meta["pixel_scale"][0] == pytest.approx(e["px_deg"], rel=1e-12)
            assert meta["origin"][0] == pytest.approx(e["c"], rel=1e-12)
            assert meta["origin"][1] == pytest.approx(e["f"], rel=1e-12)
        else:
            assert src["lat"] is None and "pixel_scale" not in meta
    assert n_geo == 35 and len(manifest) - n_geo == 5  # capture 7's 5 bands


def test_export_geotiff_tar_archive(spark, tmp):
    """archive='tar' (the small-files escape hatch): file count is
    O(partitions) not O(images), every member decodes bit-exact, and the
    manifest path points into its tar."""
    import tarfile

    import numpy as np

    from tiff_enrichment_pipeline_spark.raster import codec
    from tiff_enrichment_pipeline_spark.sources.images import export_geotiff

    df = images_df(spark, 6).repartition(3)
    out = str(tmp / "tars")
    manifest = export_geotiff(df, out, archive="tar").collect()
    assert len(manifest) == 30
    tars = sorted(Path(out).glob("part-*.tar"))
    assert 1 <= len(tars) <= 3  # O(partitions)
    assert not list(Path(out).glob("*.tif"))  # no loose per-image files
    members = {}
    for t in tars:
        with tarfile.open(t) as tf:
            for m in tf.getmembers():
                members[m.name] = tf.extractfile(m).read()
    src = {r["image_id"]: r for r in df.collect()}
    assert len(members) == 30
    for mrow in manifest:
        tar_path, member = mrow["path"].split("#")
        assert Path(tar_path).parent == Path(out)
        payload = members[member]
        assert len(payload) == mrow["nbytes"]
        r = src[mrow["image_id"]]
        arr, _ = codec.decode_geotiff(payload)
        want = codec.decode(bytes(r["bytes"]), r["w"], r["h"], r["fmt"])
        assert np.array_equal(arr, want)

    with pytest.raises(ValueError):
        export_geotiff(df, out, archive="zip")


def test_export_geotiff_partial_gps_is_not_georeferenced(spark, tmp):
    """A row with lat but no lon (or NaN lon) must export as a plain TIFF,
    not crash or bake NaN geo tags."""
    from tiff_enrichment_pipeline_spark.raster import codec
    from tiff_enrichment_pipeline_spark.sources.images import export_geotiff

    base = images_df(spark, 1).limit(1)
    rows = []
    for lat, lon in [(52.0, None), (52.0, float("nan")), (None, 5.0)]:
        rows.append(
            base.withColumn("lat", F.lit(lat).cast("double"))
            .withColumn("lon", F.lit(lon).cast("double"))
        )
    df = rows[0].unionByName(rows[1]).unionByName(rows[2])
    out = str(tmp / "partial")
    manifest = export_geotiff(df, out).collect()
    assert len(manifest) == 3
    for m in manifest:
        assert m["georeferenced"] is False
        _, meta = codec.decode_geotiff(Path(m["path"]).read_bytes())
        assert "pixel_scale" not in meta


def test_compact_images_preserves_layout_and_values(spark, tmp):
    """Operational compaction (the rewrite_data_files/OPTIMIZE analog):
    repeated appends accumulate small files; compact_images rewrites to
    one file per partition directory with identical values, layout dirs,
    and recorded bucket modulus."""
    from tiff_enrichment_pipeline_spark.sources.images import (
        _count_data_files,
        _read_layout_meta,
        compact_images,
        read_images,
        write_images,
    )

    loc = str(tmp / "imgtab")
    a = images_df(spark, 4)
    write_images(a.repartition(4), loc, mode="overwrite", buckets=4)
    for i in range(3):  # three appends → small-file pileup
        write_images(images_df(spark, 8).filter(
            F.col("capture_id") == f"IMG_000{4 + i}"
        ).repartition(2), loc, mode="append", buckets=4)
    before_rows = {r["image_id"]: r["phash"] for r in read_images(spark, loc).collect()}
    files_before = _count_data_files(spark, loc)

    stats = compact_images(spark, loc)
    assert stats["files_before"] == files_before
    assert stats["files_after"] < stats["files_before"]

    after = read_images(spark, loc)
    got = {r["image_id"]: r["phash"] for r in after.collect()}
    assert got == before_rows  # values byte-identical by key
    assert _read_layout_meta(spark, loc) == 4  # modulus survives
    # directory layout intact: p_bucket dirs still present
    assert any(p.name.startswith("p_bucket=") for p in Path(loc).iterdir())
    # one file per leaf directory
    leaves = {f.parent for f in Path(loc).rglob("*.parquet")}
    for leaf in leaves:
        assert len(list(leaf.glob("*.parquet"))) == 1


def test_split_thirds_leaves_no_row_unlabeled(spark):
    """1/3+1/3+1/3 passes the sum==1 check but cumulative rounded ranges
    top out at 9999 — the last split must be an unconditional ELSE so no
    hash bucket is ever unlabeled."""
    from tiff_enrichment_pipeline_spark.operators.sampling import (
        split_column,
        split_column_sql,
    )

    thirds = {"a": 1 / 3, "b": 1 / 3, "c": 1 / 3}
    df = spark.range(20_000).select(
        split_column(F.col("id"), thirds).alias("s")
    )
    assert df.filter(F.col("s").isNull()).count() == 0
    assert "ELSE 'c'" in split_column_sql("id", thirds)


def test_export_geotiff_null_or_zero_alt_not_georeferenced(spark, tmp):
    """GPS present but alt NULL/0 → a zero ModelPixelScale would be an
    invalid geotransform; such rows must export as plain TIFFs."""
    from tiff_enrichment_pipeline_spark.raster import codec
    from tiff_enrichment_pipeline_spark.sources.images import export_geotiff

    base = images_df(spark, 1).limit(1)
    for alt in (None, 0.0):
        df = base.withColumn("alt", F.lit(alt).cast("double"))
        m = export_geotiff(df, str(tmp / f"alt_{alt}")).collect()[0]
        assert m["georeferenced"] is False
        _, meta = codec.decode_geotiff(Path(m["path"]).read_bytes())
        assert "pixel_scale" not in meta


def test_orc_source_sink_roundtrip(spark, tmp):
    """ORC — the other columnar format Spark ships natively (a reference
    user migrating from Hive gets it for free): binary payloads and all
    metadata round-trip byte-identically, and the engine's queries read it
    the same as parquet."""
    df = images_df(spark, 4)
    out = str(tmp / "orc_tab")
    df.write.orc(out)
    back = spark.read.orc(out)
    assert back.count() == df.count()
    a = {r["image_id"]: (bytes(r["bytes"]), r["fmt"]) for r in df.collect()}
    b = {r["image_id"]: (bytes(r["bytes"]), r["fmt"]) for r in back.collect()}
    assert a == b


def test_export_geotiff_rejects_unsafe_ids(spark, tmp):
    """ids become filenames verbatim (ADVICE r3): a path separator or
    '..' must be rejected, not written outside out_dir."""
    from pyspark.errors.exceptions.captured import PythonException

    from tiff_enrichment_pipeline_spark.sources.images import export_geotiff

    df = images_df(spark, 1).withColumn(
        "image_id", F.concat(F.lit("../escape/"), F.col("image_id"))
    )
    out = str(tmp / "unsafe")
    with pytest.raises(PythonException, match="not a safe filename"):
        export_geotiff(df, out).collect()
    # nothing escaped out_dir
    assert not (tmp / "escape").exists()


def test_stratified_sample_rebalances_deterministically(spark):
    """Per-stratum fractions (class rebalancing): rare strata keep 100% of
    rows, the downsampled stratum hits its rate within hash tolerance, the
    keep-set is IDENTICAL across repartitioning (retry/resume), and strata
    missing from the fraction map default to drop."""
    from tiff_enrichment_pipeline_spark.operators.sampling import (
        stratified_sample,
    )

    df = spark.range(0, 4000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 4 < 3, "common").otherwise("rare").alias("cls"),
    )
    out = stratified_sample(df, "k", "cls", {"common": 0.25, "rare": 1.0})
    by = {r["cls"]: r["n"] for r in out.groupBy("cls").count().withColumnRenamed("count", "n").collect()}
    assert by["rare"] == 1000  # fraction 1.0 keeps everything
    assert abs(by["common"] - 750) < 120  # 3000 × 0.25, hash tolerance

    # identical keep-set under a different partitioning (resume guarantee)
    a = {r["k"] for r in out.collect()}
    b = {
        r["k"]
        for r in stratified_sample(
            df.repartition(7, "cls"), "k", "cls", {"common": 0.25, "rare": 1.0}
        ).collect()
    }
    assert a == b

    # unlisted stratum → default_fraction (allowlist drop, then opt-in)
    assert stratified_sample(df, "k", "cls", {"rare": 1.0}).filter(
        F.col("cls") == "common"
    ).count() == 0
    kept_half = stratified_sample(
        df, "k", "cls", {"rare": 1.0}, default_fraction=0.5
    ).filter(F.col("cls") == "common").count()
    assert abs(kept_half - 1500) < 150

    with pytest.raises(ValueError, match="not in"):
        stratified_sample(df, "k", "cls", {"rare": 1.5})


def test_hilbert_write_clusters_files_at_least_as_tight_as_zorder(
    spark, tmp_path
):
    """cluster='hilbert' (S2-analog curve): same parquet-footer locality
    guarantee as z-order — a small bbox touches a small fraction of files
    — and never WORSE than z-order on the same input/partition count
    (Hilbert has no row-boundary discontinuities)."""
    import pyarrow.parquet as pq

    from tiff_enrichment_pipeline_spark import geotables
    from tiff_enrichment_pipeline_spark.sources.images import write_images

    img = geotables.images_geo(spark, "/root/testdata/sf0.001", partitions=16)
    hilb = str(tmp_path / "hilb")
    zord = str(tmp_path / "zord")
    for path, strat in ((hilb, "hilbert"), (zord, "zorder")):
        write_images(
            img, path, mode="overwrite", partition=False,
            cluster=strat, cluster_partitions=16,
        )

    box = (5.0, 51.5, 5.5, 52.0)

    def files_intersecting(path: str, box=box) -> tuple[int, int]:
        hits, total = 0, 0
        for f in Path(path).glob("*.parquet"):
            md = pq.ParquetFile(str(f)).metadata
            cols = {
                md.row_group(0).column(i).path_in_schema: i
                for i in range(md.row_group(0).num_columns)
            }

            def stat(name, fn, md=md, cols=cols):
                vals = [
                    getattr(
                        md.row_group(g).column(cols[name]).statistics, fn
                    )
                    for g in range(md.num_row_groups)
                ]
                return min(vals) if fn == "min" else max(vals)

            total += 1
            if not (
                stat("lon", "max") < box[0] or stat("lon", "min") > box[2]
                or stat("lat", "max") < box[1] or stat("lat", "min") > box[3]
            ):
                hits += 1
        return hits, total

    h_hits, h_total = files_intersecting(hilb)
    z_hits, z_total = files_intersecting(zord)
    assert h_total > 4 and z_total > 4
    # absolute tightness bound only: hilbert-vs-morton ordering on ONE
    # arbitrary bbox is not a guaranteed property (ADVICE r4 — a fixture
    # or partition-count change could flip h<=z without any regression),
    # so assert each curve clusters, and compare on average below
    assert h_hits <= h_total // 2, (h_hits, h_total)
    assert z_hits <= z_total // 2, (z_hits, z_total)
    # average-over-bboxes comparison (with one file of slack): Hilbert's
    # no-discontinuity property shows up in the MEAN, not on every box
    boxes = [
        (4.0, 51.0, 4.5, 51.5), (5.0, 51.5, 5.5, 52.0),
        (6.0, 52.0, 6.5, 52.5), (4.5, 52.5, 5.0, 53.0),
    ]
    h_sum = sum(files_intersecting(hilb, b)[0] for b in boxes)
    z_sum = sum(files_intersecting(zord, b)[0] for b in boxes)
    assert h_sum <= z_sum + 1, (h_sum, z_sum)
    # identical logical content regardless of clustering strategy
    a = spark.read.parquet(hilb).select("image_id").orderBy("image_id")
    b = spark.read.parquet(zord).select("image_id").orderBy("image_id")
    assert [r[0] for r in a.collect()] == [r[0] for r in b.collect()]


def test_dem_geotiff_roundtrip_and_elevation_parity(spark, tmp_path):
    """Float32 GeoTIFF DEM source (r6): export the fixture DEM as real
    per-tile GeoTIFFs (SampleFormat 3, north-down rows, EPSG:4326 tags),
    load them back distributively, and prove the loaded table drives
    elevation_join to EXACTLY the same values as the in-memory fixture —
    the external-format ingestion path is value-equivalent."""
    import numpy as np

    from tiff_enrichment_pipeline_spark import geotables
    from tiff_enrichment_pipeline_spark.fixtures import dem_tiles_df
    from tiff_enrichment_pipeline_spark.operators.elevation import (
        elevation_join,
    )
    from tiff_enrichment_pipeline_spark.sources.dem_geotiff import (
        export_dem_geotiffs,
        load_dem_geotiffs,
    )

    dem = dem_tiles_df(spark)
    out = str(tmp_path / "dem")
    manifest = export_dem_geotiffs(dem, out).collect()
    assert len(manifest) == dem.count()
    assert all(r["nbytes"] > 0 for r in manifest)

    loaded = load_dem_geotiffs(
        spark, out, accuracy_m=1.0, source="geotiff"
    ).cache()
    # tile set and grids byte-identical after the double row flip
    ref = {(r["tile_x"], r["tile_y"]): r["grid"] for r in dem.collect()}
    got = {(r["tile_x"], r["tile_y"]): r["grid"] for r in loaded.collect()}
    assert got.keys() == ref.keys()
    assert all(bytes(got[k]) == bytes(ref[k]) for k in ref)

    img = geotables.images_geo(spark, "/root/testdata/sf0.001").select(
        "image_id", "lon", "lat"
    )
    cols = ["image_id", "elevation", "elevation_source"]
    a = {r["image_id"]: (r["elevation"], r["elevation_source"])
         for r in elevation_join(img, dem).select(cols).collect()}
    # loaded table carries source='geotiff' — compare elevations only,
    # then spot-check the source column is the loader's
    b_rows = elevation_join(img, loaded).select(cols).collect()
    b = {r["image_id"]: r["elevation"] for r in b_rows}
    assert set(a) == set(b) and len(a) > 0
    for k in a:
        av = a[k][0]
        assert (av is None and b[k] is None) or av == b[k], k
    assert {r["elevation_source"] for r in b_rows if r["elevation_source"]} \
        == {"geotiff"}
