"""Streaming watcher (S11) + lineage/resume (P11, M13) behavior tests."""

from __future__ import annotations

import tempfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from tiff_enrichment_pipeline_spark.operators.lineage import (
    NULL_REASON_METRICS,
    RunRecorder,
    partition_lineage,
    resume_filter,
    run_metrics,
    surrogate_key,
)
from tiff_enrichment_pipeline_spark.streaming.watcher import watch_images


@pytest.fixture()
def tmpdirs():
    with tempfile.TemporaryDirectory() as d:
        root = Path(d)
        (root / "in").mkdir()
        yield root


def _mini_images(spark, ids):
    return spark.createDataFrame(
        [(i, 5.0 + i * 0.001, 52.0) for i in ids],
        "image_id long, lon double, lat double",
    )


def test_streaming_watcher_incremental(spark, tmpdirs):
    """availableNow drains current files; a restart after new files arrive
    processes ONLY the new ones (checkpointed source — the engine's
    watcher idempotence, reference watcher.py:8-19)."""
    in_dir, out_dir = str(tmpdirs / "in"), str(tmpdirs / "out")
    ckpt = str(tmpdirs / "ckpt")
    schema = "image_id long, lon double, lat double"

    def enrich_batch(df, batch_id):
        return df.withColumn("enriched", F.lit(True))

    _mini_images(spark, range(10)).write.mode("append").parquet(in_dir)
    q = watch_images(spark, in_dir, out_dir, ckpt, enrich_batch, schema)
    q.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == 10

    _mini_images(spark, range(10, 15)).write.mode("append").parquet(in_dir)
    q2 = watch_images(spark, in_dir, out_dir, ckpt, enrich_batch, schema)
    q2.awaitTermination(120)
    out = spark.read.parquet(out_dir)
    assert out.count() == 15  # 10 + 5, no reprocessing
    assert out.select("image_id").distinct().count() == 15


def test_resume_filter_skips_processed(spark):
    imgs = _mini_images(spark, range(20))
    processed = _mini_images(spark, range(8)).select("image_id")
    remaining = resume_filter(imgs, processed)
    assert remaining.count() == 12
    assert resume_filter(imgs, None).count() == 20
    # idempotence: second run with full processed set → empty
    assert resume_filter(imgs, imgs.select("image_id")).count() == 0


def test_lineage_checksum_order_insensitive(spark):
    a = _mini_images(spark, range(100)).repartition(4)
    b = _mini_images(spark, range(99, -1, -1)).repartition(8)
    la = partition_lineage(a, "r1").agg(
        F.sum("rows_out").alias("n"), F.sum("key_checksum").alias("ck")
    ).collect()[0]
    lb = partition_lineage(b, "r2").agg(
        F.sum("rows_out").alias("n"), F.sum("key_checksum").alias("ck")
    ).collect()[0]
    assert la["n"] == lb["n"] == 100
    assert la["ck"] == lb["ck"]  # same content → same global checksum


def test_run_recorder_metrics(spark):
    rec = RunRecorder("RUN_TEST")
    out = _mini_images(spark, range(7))
    counters = {"rows_written": 7, "errors": 1, "no_gps": 2,
                "no_station": 0, "outside_dem": 3, "outside_obs_span": 4}
    lineage, metrics = rec.finish(out, counters)
    m = {r["metric_name"]: r["metric_value"] for r in metrics.collect()}
    assert m["pipeline_processed_files_total"] == 7.0
    assert m["pipeline_errors_total"] == 1.0
    assert m["pipeline_processing_duration_seconds"] >= 0.0
    for k, name in NULL_REASON_METRICS.items():
        assert m[name] == counters[k], name
    assert lineage.agg(F.sum("rows_out")).collect()[0][0] == 7


@pytest.mark.parametrize("cluster", [None, "zorder", "hilbert"])
def test_cli_run_counters_match_written_table(spark, tmp_path, cluster):
    """The CLI's run counters are observed in the enrichment write itself;
    every summary counter must equal a DuckDB recount of the written
    table, and the metrics table must carry them. Hand-written inputs
    cover each NULL reason: world-wide keys (key % 10 >= 8, outside the
    DEM), capture dates outside the 1995–2001 observation history, and a
    NULL key (no GPS). A clustered write range-partitions the rows, whose
    bounds sampling re-runs the plan below the exchange: the counters must
    still see each written row once."""
    import contextlib
    import io
    import json
    from datetime import datetime

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tiff_enrichment_pipeline_spark.__main__ import main

    sf = tmp_path / "sf"
    sf.mkdir()
    rows = [
        (1, "1994-12-31"), (5, "1995-01-01"), (8, "2001-12-31"),
        (9, "2002-01-01"), (18, "1999-03-04"), (29, "1970-01-01"),
        (32, "2010-10-10"), (42, "1996-02-29"), (77, "2001-06-30"),
        (None, "1998-01-01"),
    ]
    keys, dates = zip(*rows)
    pq.write_table(
        pa.table({
            "o_orderkey": pa.array(keys, pa.int64()),
            "o_orderdate": pa.array(
                [datetime.fromisoformat(d) for d in dates], pa.timestamp("us")
            ),
        }),
        sf / "orders.parquet",
    )
    pq.write_table(
        pa.table({"s_suppkey": pa.array(range(1, 6), pa.int64())}),
        sf / "supplier.parquet",
    )
    out = tmp_path / "out"
    conf = tmp_path / "conf.json"
    conf.write_text(json.dumps({"cluster": cluster}))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        assert main([str(sf), str(out), "--config", str(conf)]) == 0
    summary = json.loads(buf.getvalue().strip().splitlines()[-1])
    got = summary["counters"]

    con = duckdb.connect()
    try:
        want = con.execute(f"""
            SELECT count(*) AS rows_written,
              count(*) FILTER (WHERE enrich_status IS NULL OR enrich_status
                NOT IN ('enriched', 'no_gps')) AS errors,
              count(*) FILTER (WHERE enrich_status = 'no_gps') AS no_gps,
              count(*) FILTER (WHERE enrich_status = 'enriched'
                AND weather_station_id IS NULL) AS no_station,
              count(*) FILTER (WHERE enrich_status = 'enriched'
                AND elevation IS NULL) AS outside_dem,
              count(*) FILTER (WHERE enrich_status = 'enriched'
                AND weather_station_id IS NOT NULL
                AND weather.temp_c IS NULL) AS outside_obs_span
            FROM read_parquet('{out}/enriched/p_bucket=*/*/*.parquet',
                              hive_partitioning = false)
        """).df().iloc[0].to_dict()
    finally:
        con.close()
    assert got == {k: int(v) for k, v in want.items()}
    assert summary["enriched_rows"] == got["rows_written"] == len(rows)
    # each NULL reason is exercised, independently of the recount
    assert got["no_gps"] == 1 and got["errors"] == 0
    assert got["outside_dem"] >= 4  # keys 8, 9, 18, 29 are world-wide
    assert got["outside_obs_span"] == sum(
        k is not None and not "1995-01-01" <= d <= "2001-12-31"
        for k, d in rows
    )

    m = {
        r["metric_name"]: r["metric_value"]
        for r in spark.read.parquet(str(out / "metrics")).collect()
    }
    assert m["pipeline_processed_files_total"] == len(rows)
    assert m["pipeline_errors_total"] == got["errors"]
    for k, name in NULL_REASON_METRICS.items():
        assert m[name] == got[k], name
    lineage = spark.read.parquet(str(out / "lineage"))
    assert lineage.agg(F.sum("rows_out")).first()[0] == len(rows)


def test_run_metrics_is_a_local_relation(spark):
    """The metrics table is built from Arrow, planned as a LocalTableScan:
    no Python RDD scan (and no Python worker) for a handful of rows."""
    counters = dict.fromkeys(NULL_REASON_METRICS, 0)
    counters.update(rows_written=3, errors=0)
    plan = run_metrics(
        "RUN_TEST", counters, 0.5, spark=spark
    )._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan
    assert "LocalTableScan" in plan


def test_surrogate_key_deterministic(spark):
    df = _mini_images(spark, [1, 2])
    k1 = df.select(surrogate_key(F.col("image_id"), F.lit("enrich")).alias("k")).collect()
    k2 = df.select(surrogate_key(F.col("image_id"), F.lit("enrich")).alias("k")).collect()
    assert k1 == k2
    assert len({r["k"] for r in k1}) == 2


def test_streaming_windowed_agg_with_watermark(spark, tmpdirs):
    """Streaming flavor of the hourly bucket agg (A7, SURVEY §2.9): tumbling
    event-time window + watermark for late data, availableNow drain."""
    in_dir = str(tmpdirs / "agg_in")
    out_dir = str(tmpdirs / "aggout")
    ckpt = str(tmpdirs / "aggck")

    events = spark.createDataFrame(
        [
            (i, f"2024-01-01 {10 + (i % 3):02d}:15:00", float(i))
            for i in range(60)
        ],
        "event_id long, ts_s string, value double",
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    events.write.parquet(in_dir)

    stream = (
        spark.readStream.schema("event_id long, value double, ts timestamp")
        .parquet(in_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode emits only watermark-closed windows: final watermark =
    # max event time (12:15) − 1h = 11:15 → only [10:00,11:00) has closed;
    # [11,12) and [12,13) stay open awaiting late data — exactly the
    # late-data semantics the reference's batch re-scan never had
    out = spark.read.parquet(out_dir)
    rows = {r["w"]["start"].hour: r["n"] for r in out.collect()}
    assert rows == {10: 20}


def test_stateful_capture_assembly_across_batches(spark, tmp_path):
    """applyInPandasWithState capture assembly: a capture whose bands are
    split across two micro-batches must emit exactly once — complete, in
    the batch where the 5th band lands (SURVEY §2.9 custom stateful op)."""
    import time

    from pyspark.sql import functions as F

    from tiff_enrichment_pipeline_spark.streaming.stateful import (
        stateful_capture_assembly,
    )

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    schema = "capture_id string, band int"

    # batch 1: capture A bands 1-3, capture B bands 1-5 (complete)
    b1 = [("A", b) for b in (1, 2, 3)] + [("B", b) for b in (1, 2, 3, 4, 5)]
    spark.createDataFrame(b1, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{in_dir}/batch=1")

    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(f"{in_dir}/batch=*")
    q = (
        stateful_capture_assembly(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            try:
                done = {
                    r["capture_id"]
                    for r in spark.read.parquet(out_dir).collect()
                }
            except Exception:
                done = set()
            if "B" in done:
                break
            time.sleep(2)
        assert "B" in done and "A" not in done  # A incomplete → held in state

        # batch 2: A's bands 4+5 arrive → A completes exactly once
        b2 = [("A", 4), ("A", 5)]
        spark.createDataFrame(b2, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{in_dir}/batch=2")
        deadline = time.time() + 120
        rows = []
        while time.time() < deadline:
            rows = spark.read.parquet(out_dir).collect()
            if any(r["capture_id"] == "A" for r in rows):
                break
            time.sleep(2)
        a_rows = [r for r in rows if r["capture_id"] == "A"]
        assert len(a_rows) == 1
        assert a_rows[0]["status"] == "complete"
        assert a_rows[0]["bands"] == "1,2,3,4,5"
        b_rows = [r for r in rows if r["capture_id"] == "B"]
        assert len(b_rows) == 1  # still exactly once
    finally:
        q.stop()


def test_hll_sketch_within_rsd(spark):
    """distinct_sketch (HLL++, rsd=0.01) must sit within ~3×rsd of the
    exact distinct counts on the fixture."""
    from pyspark.sql import functions as F

    from tiff_enrichment_pipeline_spark.queries import q_distinct_sketch

    sf = "/root/testdata/sf0.01"
    approx = {r["event_type"]: (r["approx_users"], r["approx_events"])
              for r in q_distinct_sketch(spark, sf).collect()}
    exact = {
        r["event_type"]: (r["nu"], r["ne"])
        for r in spark.read.parquet(f"{sf}/events.parquet")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("nu"),
             F.countDistinct("event_id").alias("ne"))
        .collect()
    }
    assert approx.keys() == exact.keys()
    for et in exact:
        for a, x in zip(approx[et], exact[et]):
            assert abs(a - x) <= max(5, 0.03 * x), (et, a, x)


def test_streaming_drop_duplicates_within_watermark(spark, tmp_path):
    """Streaming exactly-once by key: duplicate image events arriving in a
    later micro-batch (within the watermark) are dropped —
    dropDuplicatesWithinWatermark over the checkpointed state."""
    import time

    from pyspark.sql import functions as F

    in_dir, out_dir, ck = (
        str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    )
    schema = "image_id long, ts timestamp"
    b1 = [(1, "2024-01-01 00:00:00"), (2, "2024-01-01 00:00:10")]
    spark.createDataFrame(b1, "image_id long, ts string").select(
        "image_id", F.col("ts").cast("timestamp").alias("ts")
    ).coalesce(1).write.parquet(f"{in_dir}/b=1")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{in_dir}/b=*")
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["image_id"])
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 90
        while time.time() < deadline:
            try:
                n = spark.read.parquet(out_dir).count()
            except Exception:
                n = 0
            if n >= 2:
                break
            time.sleep(2)
        # batch 2: one duplicate (id=1) + one new (id=3)
        b2 = [(1, "2024-01-01 00:00:20"), (3, "2024-01-01 00:00:30")]
        spark.createDataFrame(b2, "image_id long, ts string").select(
            "image_id", F.col("ts").cast("timestamp").alias("ts")
        ).coalesce(1).write.parquet(f"{in_dir}/b=2")
        deadline = time.time() + 90
        rows = []
        while time.time() < deadline:
            try:
                rows = spark.read.parquet(out_dir).collect()
            except Exception:
                rows = []
            if any(r["image_id"] == 3 for r in rows):
                break
            time.sleep(2)
        ids = sorted(r["image_id"] for r in rows)
        assert ids == [1, 2, 3], ids  # duplicate id=1 dropped exactly once
    finally:
        q.stop()


def test_stream_stream_interval_join(spark, tmp_path):
    """Stream-stream equi+interval join with watermarks on both sides
    (§2.9 depth beyond the reference's batch-rescan loop): band events
    join GPS events for the same capture within ±10 minutes; state is
    bounded by the watermark."""
    import time

    from pyspark.sql import functions as F

    bands_dir = str(tmp_path / "bands")
    gps_dir = str(tmp_path / "gps")
    out_dir, ck = str(tmp_path / "out"), str(tmp_path / "ck")

    b_rows = [("CAP1", 1, "2024-01-01 10:00:00"),
              ("CAP1", 2, "2024-01-01 10:01:00"),
              ("CAP2", 1, "2024-01-01 12:00:00")]
    g_rows = [("CAP1", 5.0, 52.0, "2024-01-01 10:05:00"),
              ("CAP2", 6.0, 51.0, "2024-01-01 13:00:00")]  # 60 min late → no match
    spark.createDataFrame(
        b_rows, "capture_id string, band int, ts string"
    ).select("capture_id", "band", F.col("ts").cast("timestamp").alias("b_ts")
    ).coalesce(1).write.parquet(bands_dir)
    spark.createDataFrame(
        g_rows, "capture_id string, lon double, lat double, ts string"
    ).select("capture_id", "lon", "lat", F.col("ts").cast("timestamp").alias("g_ts")
    ).coalesce(1).write.parquet(gps_dir)

    b_stream = (
        spark.readStream.schema("capture_id string, band int, b_ts timestamp")
        .parquet(bands_dir).withWatermark("b_ts", "30 minutes")
    )
    g_stream = (
        spark.readStream.schema(
            "capture_id string, lon double, lat double, g_ts timestamp"
        ).parquet(gps_dir).withWatermark("g_ts", "30 minutes")
    )
    joined = b_stream.join(
        g_stream,
        (b_stream.capture_id == g_stream.capture_id)
        & (b_stream.b_ts >= g_stream.g_ts - F.expr("INTERVAL 10 MINUTES"))
        & (b_stream.b_ts <= g_stream.g_ts + F.expr("INTERVAL 10 MINUTES")),
    ).select(b_stream.capture_id, "band", "lon", "lat")
    q = (
        joined.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.read.parquet(out_dir).collect()
    got = {(r["capture_id"], r["band"]) for r in rows}
    # CAP1's two bands match its GPS fix (within 10 min); CAP2's fix is
    # 60 min after the band → no row
    assert got == {("CAP1", 1), ("CAP1", 2)}


def test_streaming_session_window(spark, tmp_path):
    """Session windows (gap-based) on a stream — the dynamic-window shape
    the reference's fixed hourly buckets can't express: events within a
    5-minute gap merge into one session per user."""
    import time

    from pyspark.sql import functions as F

    in_dir, ck = str(tmp_path / "in"), str(tmp_path / "ck")
    rows = [
        (1, "2024-01-01 10:00:00"), (1, "2024-01-01 10:03:00"),  # session A
        (1, "2024-01-01 10:20:00"),                               # session B
        (2, "2024-01-01 10:00:00"),
    ]
    spark.createDataFrame(rows, "user_id long, ts string").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    ).coalesce(1).write.parquet(in_dir)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .parquet(in_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "5 minutes"), "user_id")
        .agg(F.count("*").alias("n"))
    )
    import uuid

    qname = f"sess_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory").queryName(qname)
        .outputMode("complete")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["n"])
        for r in spark.table(qname).collect()
    }
    # user 1: one 2-event session + one 1-event session; user 2: one session
    assert got == {(1, 2), (1, 1), (2, 1)}


def test_streaming_upsert_sink_replay_idempotent(spark, tmpdirs):
    """sink='upsert': a REPLAYED micro-batch (lost checkpoint — the case
    append cannot survive) converges to the same table instead of
    duplicating; updated values win by key."""
    in_dir, out_dir = str(tmpdirs / "in"), str(tmpdirs / "out")
    schema = "image_id long, lon double, lat double"

    def enrich_batch(df, batch_id):
        return df.withColumn("enriched", F.lit(True))

    _mini_images(spark, range(8)).write.mode("append").parquet(in_dir)
    q = watch_images(
        spark, in_dir, out_dir, str(tmpdirs / "ck1"), enrich_batch, schema,
        sink="upsert",
    )
    q.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == 8

    # fresh checkpoint → the SAME input replays from scratch; upsert
    # leaves exactly one row per key where append would give 16
    q2 = watch_images(
        spark, in_dir, out_dir, str(tmpdirs / "ck2"), enrich_batch, schema,
        sink="upsert",
    )
    q2.awaitTermination(120)
    out = spark.read.parquet(out_dir)
    assert out.count() == 8
    assert out.select("image_id").distinct().count() == 8

    with pytest.raises(ValueError):
        watch_images(
            spark, in_dir, out_dir, str(tmpdirs / "ck3"), enrich_batch,
            schema, sink="replace",
        )
