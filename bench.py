#!/usr/bin/env python
"""Benchmark harness — one JSON line on stdout.

Default: runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (default 32) and prints
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "guard_total": <sec — sum of medians ≥ the 0.1 s regression floor>,
   "queries": {name: sec}, "sf": ..., "throughput_img_per_sec": ...,
   "load_start"/"load_end": <1-min loadavg stamps>,
   "quiet_wait_sec": <bounded pre-bench quiet-gate wait>,
   "retried": {name: extra_runs}, # noise-triggered retries (median>1.5x min)
   "calib_gemm_sec"/"calib_spark_sec": <fixed-work machine-speed probes —
       scale totals by the calib ratio across rounds before calling a
       delta a regression; see _calibrate for the r6 host-slowdown case>}

Evidence modes (each appends its table to BENCH.md):
--scaling     identical job at two taskset-pinned core counts
              ($SPARK_GRAFT_SCALE_LO/_HI, evidence pair 2/8) → scaling
              efficiency (the BASELINE.json two-cluster-size criterion,
              evidenced via two parallelism levels per the sandbox rule)
--skew        flagship + cell aggregation, uniform vs 50%-on-one-point
--skew-joins  the shuffle-strategy spatial joins (the within join salted
              + unsalted, the DEM join unsalted) on the same hot fixture
--dedup-scale MinHash-LSH→pairs→CC chain at ≥1M docs, CC round counts
              (label-prop vs star) incl. a high-diameter chain arm
--ann-scale   IVF write + partition-pruned probe vs the exact all-lists probe
              at $SPARK_GRAFT_ANN_N (default 10M) vectors — recall@10,
              per-stage wall, PartitionFilters evidence
--multimodal-scale  $SPARK_GRAFT_MM_N (default 1M) mixed-format band
              payloads through resize_and_extract / band_pixel_stats —
              decode images/sec at scale, fixture-encode cost separated
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# one BLAS thread per Python worker: N workers × M BLAS threads thrashes
# (workers inherit the driver env in local mode)
for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")


def _noop_write(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return 0


def build_session(cores: str):
    from tiff_enrichment_pipeline_spark.session import get_spark

    return get_spark(f"bench-local-{cores}", master=f"local[{cores}]")


def flagship(spark, sf_dir: str):
    from tiff_enrichment_pipeline_spark import geotables
    from tiff_enrichment_pipeline_spark.fixtures import dem_tiles_df
    from tiff_enrichment_pipeline_spark.plans.enrich import enrich

    images = geotables.images_geo(spark, sf_dir)
    return enrich(
        images,
        landcover=geotables.landcover_polygons(spark),
        stations=geotables.stations(spark, sf_dir),
        dem_tiles=dem_tiles_df(spark),
    )


def _median(xs: list[float]) -> float:
    import statistics

    return statistics.median(xs)


def _load1() -> float:
    """1-minute load average (-1.0 if the platform can't report it)."""
    try:
        return round(os.getloadavg()[0], 2)
    except OSError:  # pragma: no cover
        return -1.0


def _quiet_gate() -> float:
    """Bounded wait for the 1-min load average to fall below the quiet
    threshold (VERDICT r5 #1: the driver runs the headline bench
    unattended, exactly when manual quiet-gating can't happen; the r5
    record inflated ~21% under a co-tenant burst). Returns the seconds
    actually waited — recorded in the JSON so a still-noisy record is
    self-diagnosing. The wait is capped so an unlucky sustained co-tenant
    load can never hang the driver's bench step."""
    thresh = float(os.environ.get("SPARK_GRAFT_QUIET_LOAD", "2.0"))
    budget = float(os.environ.get("SPARK_GRAFT_QUIET_WAIT", "240"))
    t0 = time.time()
    while _load1() > thresh and time.time() - t0 < budget:
        time.sleep(5)
    return round(time.time() - t0, 1)


def _best_median(runs: list[float], reps: int) -> float:
    """Median of the `reps` fastest runs — the quiet-machine estimate,
    recorded SEPARATELY (``queries_bestk``) since round 7. The headline
    ``queries`` value is the plain median over ALL runs (incl. retries),
    restoring metric-definition comparability with the r1-r5 records
    (ADVICE r6: best-k as the headline biased records downward vs prior
    rounds' plain median-of-3)."""
    return _median(sorted(runs)[:reps])


def _calibrate(spark) -> dict[str, float]:
    """Fixed-work machine-speed probes, recorded in the headline JSON so
    records taken under different HOST conditions are comparable.

    Round-6 finding: loadavg/steal stamps are not enough — a control run
    of the UNCHANGED r5-close code measured knn_weather at 2.0-2.3 s
    steady on an idle-by-loadavg VM where the r5 record (taken under
    visible co-tenant load!) read 0.964 s, i.e. the host itself (sibling
    VMs sharing DRAM bandwidth / SMT siblings) can halve effective
    per-core throughput with zero guest-visible load or steal time.
    These two probes pin the machine state in-band: `calib_gemm_sec` is
    a DRAM+FPU-bound numpy matmul (the same resource the chord-GEMM kNN
    and raster kernels burn), `calib_spark_sec` a JVM-side all-core
    range aggregation (what the pure-Catalyst queries burn). Each is
    min-of-3 of a fixed workload — scale a round's totals by the calib
    ratio before calling a delta a regression."""
    import numpy as np

    rng = np.random.default_rng(0)
    a = rng.random((1500, 1500))
    b = rng.random((1500, 1500))
    gemm = min(
        _timed(lambda: [a @ b for _ in range(4)]) for _ in range(3)
    )
    jvm = min(
        _timed(
            lambda: spark.range(200_000_000)
            .selectExpr("sum(id * 2 + 1) s")
            .collect()
        )
        for _ in range(3)
    )
    # DRAM-bandwidth probe (r6 correction): the GEMM probe is
    # cache-resident (18 MB working set) and OPENBLAS is pinned to one
    # thread in this process, so it CANNOT see sibling-VM memory
    # contention — the very phenomenon that halves Spark throughput with
    # no guest-visible load. A 512 MB streaming copy is bandwidth-bound
    # and does.
    big = np.zeros(64_000_000, dtype=np.float64)  # 512 MB
    src = np.ones_like(big)
    stream = min(_timed(lambda: big.__setitem__(slice(None), src))
                 for _ in range(3))
    return {
        "calib_gemm_sec": round(gemm, 3),
        "calib_spark_sec": round(jvm, 3),
        "calib_stream_sec": round(stream, 3),
    }


def _timed(fn) -> float:
    t0 = time.time()
    fn()
    return time.time() - t0


def run_default() -> None:
    """Headline bench. Per VERDICT r3 #4 the recorded per-query number is
    the MEDIAN of 3 cold runs (each run re-builds the DataFrame, so the
    plan/broadcast work re-executes; session-level warmth — JVM JIT,
    Python workers — persists, as it did for prior rounds' single cold
    runs, keeping the series comparable). min/max accompany it so a
    co-tenant noise spike is visible in the driver file itself instead of
    needing BENCH.md footnotes.

    Round-6 load accounting (VERDICT r5 #1): a bounded quiet-gate before
    the session starts, os.getloadavg() stamps at start/end, and a
    noise-triggered retry — a query whose median exceeds 1.5x its own min
    (the co-tenant-burst signature: min is a clean run, median is not)
    gets up to SPARK_GRAFT_BENCH_RETRIES extra cold runs. The headline
    per-query value is the PLAIN median over all recorded runs (r1-r5
    definition, restored per ADVICE r6); `queries_bestk` carries the
    quiet-machine best-k median separately. Reps run in a rotated query
    order (VERDICT r6 #3) so host drift spreads instead of concentrating
    in the fixed-last queries. All raw evidence stays in the JSON: tmax
    keeps the outlier, `retried` lists which queries needed extra runs,
    and the load stamps let a reader judge the record without BENCH.md
    narrative."""
    from tiff_enrichment_pipeline_spark.queries import QUERIES

    quiet_wait = _quiet_gate()
    load_start = _load1()
    spark = build_session(CPUS)
    calib = _calibrate(spark)
    n_images = spark.read.parquet(f"{SF_DIR}/orders.parquet").count()

    headline = [
        "cell_encode", "pip_landcover", "knn_weather", "knn_weather_dated",
        "elevation", "status_summary", "hourly_api_stats", "capture_assembly",
        "dedup_checksum", "percentiles",
        # round-3 breadth: the dedup/multimodal stack gets the same
        # regression guard the geo stack has (VERDICT r2 #8)
        "lsh_dedup_clusters", "phash_neardup", "multimodal_features",
        # round-3 batch 9: terrain derivatives (UDF-heavy raster path)
        "terrain",
        # round-4 breadth: radius join, zonal stats, stratified sampling
        "within_radius", "zonal_elevation", "stratified_sample",
    ]
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    max_retries = int(os.environ.get("SPARK_GRAFT_BENCH_RETRIES", "2"))
    noise_ratio = 1.5  # median > 1.5x min == co-tenant-burst signature
    times: dict[str, float] = {}
    tmin: dict[str, float] = {}
    tmax: dict[str, float] = {}
    steady: dict[str, float] = {}
    retried: dict[str, int] = {}

    # steady-state flagship throughput: build plan once, warm up (JIT,
    # Python workers, broadcasts), then median-of-reps timed runs
    flag_df = flagship(spark, SF_DIR)
    _noop_write(flag_df)
    flag_runs = []
    for _ in range(reps):
        t0 = time.time()
        _noop_write(flag_df)
        flag_runs.append(time.time() - t0)
    extra = 0
    while (
        extra < max_retries
        and _median(flag_runs) > noise_ratio * min(flag_runs)
    ):
        t0 = time.time()
        _noop_write(flag_df)
        flag_runs.append(time.time() - t0)
        extra += 1
    if extra:
        retried["enrich_flagship"] = extra
    t_flag = _median(flag_runs)
    times["enrich_flagship"] = steady["enrich_flagship"] = round(t_flag, 3)
    tmin["enrich_flagship"] = round(min(flag_runs), 3)
    tmax["enrich_flagship"] = round(max(flag_runs), 3)
    bestk = {"enrich_flagship": round(_best_median(flag_runs, reps), 3)}

    # Rotated rep order (VERDICT r6 #3): prior rounds ran each query's
    # reps back-to-back in a FIXED sequence, so mid-run host drift
    # concentrated in whichever queries sat last (terrain / multimodal /
    # zonal — the entries every round's record had to excuse). Running
    # rep r over the whole list at rotation offset (seed + r) spreads any
    # drift across all queries instead. Seeded by SPARK_GRAFT_BENCH_ROT
    # (default: repo round counter surrogate 7) — deterministic, stamped
    # in the JSON as rep_order_offsets.
    rot = int(os.environ.get("SPARK_GRAFT_BENCH_ROT", "7"))
    cold: dict[str, list[float]] = {n: [] for n in headline}
    dfs: dict[str, object] = {}
    offsets = []

    def _cold_run(name: str) -> None:
        df = QUERIES[name](spark, SF_DIR)  # fresh plan → cold run
        dfs[name] = df
        t0 = time.time()
        _noop_write(df)
        cold[name].append(time.time() - t0)

    for r in range(reps):
        off = (rot * 5 + r * 7) % len(headline)
        offsets.append(off)
        for name in headline[off:] + headline[:off]:
            _cold_run(name)
    for name in headline:
        extra = 0
        while (
            extra < max_retries
            and _median(cold[name]) > noise_ratio * min(cold[name])
        ):
            _cold_run(name)
            extra += 1
        if extra:
            retried[name] = extra
        times[name] = round(_median(cold[name]), 3)
        bestk[name] = round(_best_median(cold[name], reps), 3)
        tmin[name] = round(min(cold[name]), 3)
        tmax[name] = round(max(cold[name]), 3)
        # steady state: re-execute the last (already-run) plan
        t0 = time.time()
        _noop_write(dfs[name])
        steady[name] = round(time.time() - t0, 3)

    total = round(sum(times.values()), 3)
    # regression-guard floor (VERDICT r4 #9): sub-0.1 s entries sit at the
    # scheduler noise floor, and their jitter can mask a real regression
    # in a big query inside the all-query total. `guard_total` sums only
    # the queries at/above the floor — THAT is the round-over-round
    # regression signal; `value` stays the full total for continuity.
    guard_floor = float(os.environ.get("SPARK_GRAFT_GUARD_FLOOR", "0.1"))
    guard_total = round(
        sum(v for v in times.values() if v >= guard_floor), 3
    )
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "reps": reps,
                "load_start": load_start,
                "load_end": _load1(),
                "quiet_wait_sec": quiet_wait,
                "quiet_load_threshold": float(
                    os.environ.get("SPARK_GRAFT_QUIET_LOAD", "2.0")
                ),
                **calib,
                "retried": retried,
                "guard_floor_sec": guard_floor,
                "guard_total": guard_total,
                "n_below_floor": sum(
                    1 for v in times.values() if v < guard_floor
                ),
                "rep_order_offsets": offsets,
                "queries": times,
                "queries_bestk": bestk,
                "queries_min": tmin,
                "queries_max": tmax,
                "steady_total": round(sum(steady.values()), 3),
                "queries_steady": steady,
                "sf": SF_DIR,
                "n_images": n_images,
                "throughput_img_per_sec": round(n_images / t_flag, 1),
            }
        )
    )
    spark.stop()


def _scaled_flagship(spark, sf_dir: str, mult: int):
    """Flagship DAG over the probe replicated ×mult (distinct image ids) —
    the scaling run needs enough work per core that fixed overhead (Python
    workers, planning) doesn't dominate a 3-second job."""
    from pyspark.sql import functions as F

    from tiff_enrichment_pipeline_spark import geotables
    from tiff_enrichment_pipeline_spark.fixtures import dem_tiles_df
    from tiff_enrichment_pipeline_spark.plans.enrich import enrich

    images = geotables.images_geo(spark, sf_dir)
    if mult > 1:
        images = (
            images.withColumn(
                "_r", F.explode(F.sequence(F.lit(0), F.lit(mult - 1)))
            )
            .withColumn("image_id", F.col("image_id") * mult + F.col("_r"))
            .drop("_r")
        )
    return enrich(
        images,
        landcover=geotables.landcover_polygons(spark),
        stations=geotables.stations(spark, sf_dir),
        dem_tiles=dem_tiles_df(spark),
    )


def _scaled_pip_only(spark, sf_dir: str, mult: int):
    """JVM-only enrichment slice (cells + PIP, no Python boundary) — the
    second scaling datapoint separating the engine's relational core from
    the fixed Arrow-crossing cost."""
    from pyspark.sql import functions as F

    from tiff_enrichment_pipeline_spark import geotables, grid
    from tiff_enrichment_pipeline_spark.operators.pip_join import landcover_pip_join

    images = geotables.images_geo(spark, sf_dir)
    if mult > 1:
        images = (
            images.withColumn(
                "_r", F.explode(F.sequence(F.lit(0), F.lit(mult - 1)))
            )
            .withColumn("image_id", F.col("image_id") * mult + F.col("_r"))
            .drop("_r")
        )
    cells = images.withColumn(
        "cell_r7", grid.cell_of(F.col("lon"), F.col("lat"), grid.RES7)
    ).withColumn("cell_r9", grid.cell_of(F.col("lon"), F.col("lat"), grid.RES9))
    return landcover_pip_join(cells, geotables.landcover_polygons(spark), res=grid.RES8)


def run_scaling_worker(cores: str, mult: int, reps: int = 3) -> None:
    """One pinned measurement (invoked under ``taskset -c 0-{cores-1}``):
    plan once, warm up, time ``reps`` runs, print best wall sec."""
    spark = build_session(cores)
    n_images = spark.read.parquet(f"{SF_DIR}/orders.parquet").count() * mult
    job = os.environ.get("SPARK_GRAFT_SCALE_JOB", "flagship")
    build = _scaled_pip_only if job == "pip" else _scaled_flagship
    df = build(spark, SF_DIR, mult)
    _noop_write(df)  # warm-up: JIT, Python workers, broadcasts
    best = float("inf")
    for _ in range(reps):
        t0 = time.time()
        _noop_write(df)
        best = min(best, time.time() - t0)
    print(json.dumps({"cores": cores, "sec": round(best, 3), "n_images": n_images}))
    spark.stop()


def run_scaling() -> None:
    """Two-cluster-size evidence (BASELINE.json north rule): the identical
    job at 8 vs 32 cores. ``local[N]`` bounds only JVM task slots — pandas-
    UDF workers are extra OS processes — so each measurement is pinned with
    ``taskset`` to a true N-core machine, like real cluster containers."""
    import subprocess

    mult = int(os.environ.get("SPARK_GRAFT_SCALE_MULT", "320"))
    lo = os.environ.get("SPARK_GRAFT_SCALE_LO", "8")
    hi = os.environ.get("SPARK_GRAFT_SCALE_HI", "32")
    results = {}
    n_images = None
    for cores in (lo, hi):
        cmd = [
            "taskset", "-c", f"0-{int(cores) - 1}",
            sys.executable, __file__, "--scaling-worker", cores, str(mult),
        ]
        # the low-core arm at mult=320 runs ~400 s of measured work alone;
        # under co-tenant load 560 s was killing it silently
        proc = subprocess.run(
            cmd, capture_output=True, text=True,
            timeout=int(os.environ.get("SPARK_GRAFT_SCALE_TIMEOUT", "900")),
        )
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            raise RuntimeError(
                f"scaling worker ({cores} cores) failed rc={proc.returncode}: "
                f"{proc.stderr.strip()[-500:]}"
            )
        r = json.loads(lines[-1])
        n_images = r["n_images"]
        results[cores] = {
            "sec": r["sec"],
            "img_per_sec": round(n_images / r["sec"], 1),
        }
    ratio = int(hi) / int(lo)
    eff = results[hi]["img_per_sec"] / (ratio * results[lo]["img_per_sec"])
    out = {
        "metric": f"scaling_efficiency_{lo}_to_{hi}_cores",
        "value": round(eff, 3),
        "unit": "ratio",
        "sf": SF_DIR,
        "n_images": n_images,
        f"local{lo}": results[lo],
        f"local{hi}": results[hi],
    }
    job = os.environ.get("SPARK_GRAFT_SCALE_JOB", "flagship")
    out["job"] = job
    print(json.dumps(out))
    with open(REPO / "BENCH.md", "a") as f:
        f.write(
            f"\n## Scaling run — {job} ({time.strftime('%Y-%m-%d %H:%M:%S')}, {SF_DIR}, "
            f"{n_images} images)\n\n"
            f"| cores | wall sec | img/s |\n|---|---|---|\n"
            f"| local[{lo}] (taskset {lo} cores) | {results[lo]['sec']} | {results[lo]['img_per_sec']} |\n"
            f"| local[{hi}] (taskset {hi} cores) | {results[hi]['sec']} | {results[hi]['img_per_sec']} |\n\n"
            f"Scaling efficiency ({lo}->{hi} cores, throughput/{ratio:.0f}x): **{eff:.3f}**\n"
        )


def _skew_images(spark, sf_dir: str, mult: int, shape: str):
    """Image table for the skew stress: ``uniform`` = the normal fixture;
    ``hot`` = HALF of all images forced onto ONE exact point (one res-8/9
    cell) — the worst-case urban pileup SURVEY §7.3 names, far beyond the
    fixture's ~20%-in-a-few-cells cluster."""
    from pyspark.sql import functions as F

    from tiff_enrichment_pipeline_spark import geotables

    images = geotables.images_geo(spark, sf_dir)
    if mult > 1:
        images = (
            images.withColumn(
                "_r", F.explode(F.sequence(F.lit(0), F.lit(mult - 1)))
            )
            .withColumn("image_id", F.col("image_id") * mult + F.col("_r"))
            .drop("_r")
        )
    if shape == "hot":
        hot = F.col("image_id") % 2 == 0
        images = images.withColumn(
            "lon", F.when(hot, F.lit(geotables.HOT_LON)).otherwise(F.col("lon"))
        ).withColumn(
            "lat", F.when(hot, F.lit(geotables.HOT_LAT)).otherwise(F.col("lat"))
        )
    return images


def run_skew_worker(cores: str, mult: int, shape: str, reps: int = 3) -> None:
    """One pinned skew measurement: flagship + per-cell aggregation over
    the (possibly hot-cell-skewed) image table; best-of-reps each."""
    from pyspark.sql import functions as F

    from tiff_enrichment_pipeline_spark import geotables, grid
    from tiff_enrichment_pipeline_spark.fixtures import dem_tiles_df
    from tiff_enrichment_pipeline_spark.plans.enrich import enrich

    spark = build_session(cores)
    images = _skew_images(spark, SF_DIR, mult, shape)
    n_images = spark.read.parquet(f"{SF_DIR}/orders.parquet").count() * mult
    jobs = {
        "flagship": enrich(
            images,
            landcover=geotables.landcover_polygons(spark),
            stations=geotables.stations(spark, SF_DIR),
            dem_tiles=dem_tiles_df(spark),
        ),
        # the shuffle-bearing aggregation shape: groupBy CELL — the one
        # key geography reaches; partial (map-side) aggregation is the
        # defense under test
        "cell_agg": images.groupBy(
            grid.cell_of(F.col("lon"), F.col("lat"), grid.RES8).alias("cell")
        ).agg(
            F.count("*").alias("n"),
            F.avg("alt").alias("avg_alt"),
            F.min("lat").alias("mn"),
            F.max("lat").alias("mx"),
        ),
    }
    out = {"shape": shape, "cores": cores, "n_images": n_images}
    for name, df in jobs.items():
        _noop_write(df)  # warm-up
        best = float("inf")
        for _ in range(reps):
            t0 = time.time()
            _noop_write(df)
            best = min(best, time.time() - t0)
        out[name] = round(best, 3)
    print(json.dumps(out))
    spark.stop()


def run_skew() -> None:
    """Hot-cell skew stress evidence (VERDICT r3 #6): the same jobs at the
    same pinned core count on a uniform vs a 50%-in-one-cell input; the
    claim under test is that geography never reaches a shuffle key
    (flagship: broadcast joins only) or is absorbed map-side (cell_agg:
    partial aggregation), so hot-input throughput stays within ~1.3× of
    uniform. (capture_assembly is structurally immune — its shuffle key is
    capture_id, a uniform surrogate; its input carries no geography — so
    it is not an arm here.)"""
    import subprocess

    mult = int(os.environ.get("SPARK_GRAFT_SKEW_MULT", "64"))
    cores = os.environ.get("SPARK_GRAFT_SKEW_CORES", "8")
    results = {}
    for shape in ("uniform", "hot"):
        cmd = [
            "taskset", "-c", f"0-{int(cores) - 1}",
            sys.executable, __file__, "--skew-worker", cores, str(mult), shape,
        ]
        proc = subprocess.run(
            cmd, capture_output=True, text=True,
            timeout=int(os.environ.get("SPARK_GRAFT_SCALE_TIMEOUT", "900")),
        )
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            raise RuntimeError(
                f"skew worker ({shape}) failed rc={proc.returncode}: "
                f"{proc.stderr.strip()[-500:]}"
            )
        results[shape] = json.loads(lines[-1])
    rec = {
        "metric": f"hot_cell_skew_slowdown_{cores}_cores",
        "unit": "ratio (hot/uniform wall time; 1.0 = skew-immune)",
        "sf": SF_DIR,
        "n_images": results["uniform"]["n_images"],
        "uniform": results["uniform"],
        "hot": results["hot"],
    }
    for job in ("flagship", "cell_agg"):
        rec[f"{job}_slowdown"] = round(
            results["hot"][job] / results["uniform"][job], 3
        )
    print(json.dumps(rec))
    with open(REPO / "BENCH.md", "a") as f:
        f.write(
            f"\n## Hot-cell skew stress ({time.strftime('%Y-%m-%d %H:%M:%S')}, "
            f"{SF_DIR}, {rec['n_images']} images, taskset {cores} cores, "
            f"50% of images on ONE point)\n\n"
            f"| job | uniform sec | hot sec | slowdown (hot/uniform) |\n|---|---|---|---|\n"
            + "".join(
                f"| {job} | {results['uniform'][job]} | {results['hot'][job]} "
                f"| {rec[f'{job}_slowdown']} |\n"
                for job in ("flagship", "cell_agg")
            )
            + "\ncapture_assembly is structurally immune (shuffle key = "
            "capture_id, a uniform surrogate; no geography in its input) "
            "and is therefore not an arm.\n"
        )


def run_skew_join_worker(
    cores: str, mult: int, shape: str, reps: int = 3
) -> None:
    """One pinned measurement of the SHUFFLE-strategy spatial joins whose
    key IS geographic — the jobs the r4 skew table could not stress
    (flagship is broadcast-only; cell_agg absorbs skew map-side). Both
    are sort-merge joins with AQE's skew-join split (session.py); the
    within join's opt-in salt is measured against its unsalted control."""
    from tiff_enrichment_pipeline_spark.fixtures import dem_tiles_df
    from tiff_enrichment_pipeline_spark.operators.distance_join import (
        within_distance_join,
    )
    from tiff_enrichment_pipeline_spark.operators.elevation import (
        elevation_join,
    )
    from tiff_enrichment_pipeline_spark import geotables

    spark = build_session(cores)
    images = _skew_images(spark, SF_DIR, mult, shape)
    n_images = spark.read.parquet(f"{SF_DIR}/orders.parquet").count() * mult
    jobs = {
        # shuffle join keyed by the probe CELL, hot cell scattered across
        # `salt` shuffle partitions (cover side replicated ×salt)
        "within_salted": within_distance_join(
            images,
            geotables.stations(spark, SF_DIR),
            25_000.0,
            broadcast_build=False,
            salt=8,
            probe_id="image_id",
        ),
        # control arm: the SAME shuffle join with no salt — isolates what
        # the salt (vs AQE's runtime skew split, which stays on) buys
        "within_unsalted": within_distance_join(
            images,
            geotables.stations(spark, SF_DIR),
            25_000.0,
            broadcast_build=False,
        ),
        # partitioned DEM strategy: sort-merge join keyed by the DEM TILE
        "elevation_part": elevation_join(
            images, dem_tiles_df(spark), broadcast_dem=False
        ),
    }
    out = {"shape": shape, "cores": cores, "n_images": n_images}
    for name, df in jobs.items():
        _noop_write(df)  # warm-up
        best = float("inf")
        for _ in range(reps):
            t0 = time.time()
            _noop_write(df)
            best = min(best, time.time() - t0)
        out[name] = round(best, 3)
    print(json.dumps(out))
    spark.stop()


def run_skew_joins() -> None:
    """Skew stress for the shuffle-strategy spatial joins (VERDICT r4 #4):
    uniform vs 50%-of-images-on-ONE-point, same pinned cores; claim =
    hot/uniform stays within ~1.3× (AQE's skew-join split for the DEM
    join; the within join salted and unsalted)."""
    import subprocess

    # a big probe mult only pads wall time without changing the
    # hot/uniform ratio under test — keep the arm quick
    mult = int(os.environ.get("SPARK_GRAFT_SKEWJOIN_MULT", "2"))
    cores = os.environ.get("SPARK_GRAFT_SKEW_CORES", "8")
    results = {}
    for shape in ("uniform", "hot"):
        cmd = [
            "taskset", "-c", f"0-{int(cores) - 1}",
            sys.executable, __file__, "--skew-join-worker",
            cores, str(mult), shape,
        ]
        proc = subprocess.run(
            cmd, capture_output=True, text=True,
            timeout=int(os.environ.get("SPARK_GRAFT_SCALE_TIMEOUT", "900")),
        )
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            raise RuntimeError(
                f"skew-join worker ({shape}) failed rc={proc.returncode}: "
                f"{proc.stderr.strip()[-500:]}"
            )
        results[shape] = json.loads(lines[-1])
    rec = {
        "metric": f"shuffle_join_skew_slowdown_{cores}_cores",
        "unit": "ratio (hot/uniform wall time; 1.0 = skew-immune)",
        "sf": SF_DIR,
        "n_images": results["uniform"]["n_images"],
        "uniform": results["uniform"],
        "hot": results["hot"],
    }
    for job in ("within_salted", "within_unsalted", "elevation_part"):
        rec[f"{job}_slowdown"] = round(
            results["hot"][job] / results["uniform"][job], 3
        )
    print(json.dumps(rec))
    with open(REPO / "BENCH.md", "a") as f:
        f.write(
            f"\n## Shuffle-join skew stress "
            f"({time.strftime('%Y-%m-%d %H:%M:%S')}, {SF_DIR}, "
            f"{rec['n_images']} images, taskset {cores} cores, "
            f"50% of images on ONE point)\n\n"
            f"| job | uniform sec | hot sec | slowdown (hot/uniform) |\n"
            f"|---|---|---|---|\n"
            + "".join(
                f"| {job} | {results['uniform'][job]} "
                f"| {results['hot'][job]} | {rec[f'{job}_slowdown']} |\n"
                for job in ("within_salted", "within_unsalted",
                            "elevation_part")
            )
            + "\nThese are the two joins whose shuffle key IS geographic "
            "(probe cell / DEM tile) — the arm the r4 skew table could "
            "not cover; both are sort-merge joins with AQE's skew-join "
            "split, the within join also salted ×8 against its unsalted "
            "control.\n"
        )


def run_dedup_scale() -> None:
    """Scaled dedup-chain evidence (VERDICT r4 #5): the full MinHash-LSH →
    candidate-pairs → connected-components chain at ≥1M documents.

    Replication gives each copy of the corpus a DISJOINT vocabulary
    (every word suffixed with the replica id) so cross-replica LSH
    collisions are impossible and the pair graph is the original corpus's
    graph ×mult — cluster structure (and therefore CC round behavior) is
    preserved while node/edge counts scale linearly. Records wall time
    per stage and CC ROUNDS for min-label propagation vs the
    large-star/small-star variant (the O(log² n) claim)."""
    from pyspark.sql import functions as F

    from tiff_enrichment_pipeline_spark.operators.dedup import (
        connected_components,
        connected_components_star,
        lsh_candidate_pairs,
    )

    mult = int(os.environ.get("SPARK_GRAFT_DEDUP_MULT", "200"))
    spark = build_session(CPUS)
    # shared synthesis (also used by --dedup-profile): the cross-mode
    # comparison in BENCH.md is only valid while both modes replicate the
    # corpus identically (r6 review finding)
    docs, n_docs = _replicated_docs(spark, mult)

    t0 = time.time()
    pairs = lsh_candidate_pairs(docs).localCheckpoint()
    n_pairs = pairs.count()
    t_pairs = time.time() - t0

    rec = {
        "metric": "dedup_chain_scaled",
        "sf": SF_DIR,
        "n_docs": n_docs,
        "n_pairs": n_pairs,
        "pairs_sec": round(t_pairs, 3),
    }
    for name, fn in (
        ("labelprop", connected_components),
        ("star", connected_components_star),
    ):
        rounds: list[int] = []
        t0 = time.time()
        cc = fn(pairs, rounds_out=rounds)
        n_clusters = cc.filter(F.col("node") == F.col("comp")).count()
        rec[f"cc_{name}_sec"] = round(time.time() - t0, 3)
        rec[f"cc_{name}_rounds"] = rounds[0] if rounds else None
        # per-variant (ADVICE r5): a label-prop/star cluster-count
        # disagreement is the most interesting possible signal — don't
        # let the second variant overwrite the first's count
        rec[f"cc_{name}_clusters"] = n_clusters
    rec["n_clusters"] = rec["cc_star_clusters"]
    if rec["cc_labelprop_clusters"] != rec["cc_star_clusters"]:
        rec["cc_clusters_disagree"] = True
    # deep-chain arm: real near-dup clusters are shallow (both variants
    # converge in ~2 rounds above), so the O(log² n) star claim needs a
    # HIGH-DIAMETER graph — chains of `chain_len` nodes at the same total
    # node count; label-prop moves labels one hop per round (rounds ≈
    # diameter), star contracts exponentially
    chain_len = int(os.environ.get("SPARK_GRAFT_DEDUP_CHAIN", "24"))
    n_nodes = n_docs
    chain_edges = (
        spark.range(n_nodes)
        .filter((F.col("id") % chain_len) != chain_len - 1)
        .select(
            F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
        )
        .localCheckpoint()
    )
    rec["chain_len"] = chain_len
    rec["chain_nodes"] = n_nodes
    for name, fn in (
        ("labelprop", connected_components),
        ("star", connected_components_star),
    ):
        rounds = []
        t0 = time.time()
        cc = fn(chain_edges, max_iter=chain_len + 2, rounds_out=rounds)
        cc.filter(F.col("node") == F.col("comp")).count()
        rec[f"chain_{name}_sec"] = round(time.time() - t0, 3)
        rec[f"chain_{name}_rounds"] = rounds[0] if rounds else None
    print(json.dumps(rec))
    with open(REPO / "BENCH.md", "a") as f:
        f.write(
            f"\n## Scaled dedup chain ({time.strftime('%Y-%m-%d %H:%M:%S')}, "
            f"{SF_DIR} ×{mult} replicas, local[{CPUS}])\n\n"
            f"| n_docs | LSH pairs | pairs sec | CC label-prop sec (rounds) "
            f"| CC star sec (rounds) | clusters |\n|---|---|---|---|---|---|\n"
            f"| {n_docs} | {n_pairs} | {rec['pairs_sec']} "
            f"| {rec['cc_labelprop_sec']} ({rec['cc_labelprop_rounds']}) "
            f"| {rec['cc_star_sec']} ({rec['cc_star_rounds']}) "
            f"| {rec['n_clusters']} |\n\n"
            "Replicas carry disjoint vocabularies (per-word replica "
            "suffix), so the pair graph is the base corpus's graph "
            "×mult — linear edge growth, preserved cluster diameter.\n\n"
            f"Deep-chain arm ({n_nodes} nodes in {chain_len}-node chains — "
            "the high-diameter case LSH clusters don't produce): "
            f"label-prop {rec['chain_labelprop_sec']} s "
            f"({rec['chain_labelprop_rounds']} rounds) vs star "
            f"{rec['chain_star_sec']} s ({rec['chain_star_rounds']} "
            "rounds) — rounds ∝ diameter vs O(log²).\n"
        )
    spark.stop()


def _replicated_docs(spark, mult: int):
    """The --dedup-scale corpus synthesis, shared by the profiler."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    n0 = docs.count()
    if mult > 1:
        docs = (
            docs.withColumn(
                "_r", F.explode(F.sequence(F.lit(0), F.lit(mult - 1)))
            )
            .repartition(spark.sparkContext.defaultParallelism)
            .select(
                (F.col("doc_id") * mult + F.col("_r")).alias("doc_id"),
                F.array_join(
                    F.transform(
                        F.split(F.col("text"), " "),
                        lambda w: F.concat(
                            w, F.lit("_r"), F.col("_r").cast("string")
                        ),
                    ),
                    " ",
                ).alias("text"),
            )
        )
    return docs, n0 * mult


def run_dedup_profile() -> None:
    """Stage attribution for the 1M-doc LSH pairs cost (VERDICT r5 #5):
    the r5 record has pairs at 131 s of the 147 s chain with no
    breakdown. Materializes each stage behind a localCheckpoint barrier
    and times: corpus synthesis, shingle-explode+hash (probe aggregate —
    forces the md5 map work without the 8 permutation minima), the full
    minhash signature aggregate, the band table, the band self-join
    pre-distinct, and the pair distinct. Barriered stage sums exceed the
    fused pipeline's wall time (the fused plan never materializes the
    intermediates) — the RATIOS are the signal, not the absolute sum."""
    from pyspark.sql import functions as F

    from tiff_enrichment_pipeline_spark.operators.dedup import (
        MINHASH_P,
        band_table,
        minhash_signature_df,
    )
    from tiff_enrichment_pipeline_spark.functions.text import (
        md5_prefix_long,
        word_shingles,
    )

    mult = int(os.environ.get("SPARK_GRAFT_DEDUP_MULT", "200"))
    spark = build_session(CPUS)
    rec: dict = {"metric": "dedup_pairs_profile", "sf": SF_DIR,
                 "load_start": _load1()}

    t0 = time.time()
    docs, n_docs = _replicated_docs(spark, mult)
    docs = docs.localCheckpoint()
    docs.count()
    rec["n_docs"] = n_docs
    rec["synth_sec"] = round(time.time() - t0, 3)

    # probe: shingle explode + md5 WITHOUT the minima aggregate
    t0 = time.time()
    sh = word_shingles(F.col("text"), 3)
    ex = docs.select("doc_id", F.explode_outer(sh).alias("_s"))
    probe = ex.agg(
        F.count("_s").alias("n_shingles"),
        F.sum(md5_prefix_long(F.col("_s")) % MINHASH_P).alias("_chk"),
    ).collect()[0]
    rec["n_shingles"] = probe["n_shingles"]
    rec["shingle_hash_sec"] = round(time.time() - t0, 3)

    t0 = time.time()
    sig = minhash_signature_df(docs).localCheckpoint()
    sig.count()
    rec["signature_sec"] = round(time.time() - t0, 3)

    t0 = time.time()
    bt = band_table(sig).localCheckpoint()
    rec["n_band_rows"] = bt.count()
    rec["band_table_sec"] = round(time.time() - t0, 3)

    a = bt.select(F.col("doc").alias("doc_a"), "band", "band_key")
    b = bt.select(F.col("doc").alias("doc_b"), "band", "band_key")
    joined = a.join(b, ["band", "band_key"]).filter(
        F.col("doc_a") < F.col("doc_b")
    )
    t0 = time.time()
    rec["n_candidates_predistinct"] = joined.count()
    rec["band_join_sec"] = round(time.time() - t0, 3)

    t0 = time.time()
    rec["n_pairs"] = joined.select("doc_a", "doc_b").distinct().count()
    rec["join_plus_distinct_sec"] = round(time.time() - t0, 3)
    rec["load_end"] = _load1()
    print(json.dumps(rec))
    with open(REPO / "BENCH.md", "a") as f:
        f.write(
            f"\n## LSH pairs stage profile "
            f"({time.strftime('%Y-%m-%d %H:%M:%S')}, {SF_DIR} ×{mult}, "
            f"local[{CPUS}], {n_docs} docs, "
            f"{rec['n_shingles']} shingles)\n\n"
            f"| stage | sec |\n|---|---|\n"
            f"| corpus synthesis (checkpointed) | {rec['synth_sec']} |\n"
            f"| shingle explode + md5 (no minima agg) "
            f"| {rec['shingle_hash_sec']} |\n"
            f"| full minhash signature agg | {rec['signature_sec']} |\n"
            f"| band table | {rec['band_table_sec']} |\n"
            f"| band self-join pre-distinct "
            f"({rec['n_candidates_predistinct']} cands) "
            f"| {rec['band_join_sec']} |\n"
            f"| join + pair distinct ({rec['n_pairs']} pairs) "
            f"| {rec['join_plus_distinct_sec']} |\n"
        )
    spark.stop()



def run_ann_scale() -> None:
    """Scaled ANN evidence (VERDICT r6 #6, mirroring --dedup-scale): a
    synthetic clustered corpus of $SPARK_GRAFT_ANN_N vectors (default
    10M, dim 64, 64 latent clusters), IVF index write (parquet
    partitioned by list), partition-pruned probe at nprobe=4/8/16, and
    the same probe over every list (nprobe=n_lists, exact) as ground
    truth — recall@10, wall time per stage and the PartitionFilters line
    land in the JSON + BENCH.md. Every stage is the package's production
    path (write_ivf_index / ivf_probe_pruned); nothing is special-cased
    for the bench."""
    import shutil
    import tempfile

    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from tiff_enrichment_pipeline_spark.operators.ann import (
        ivf_probe_pruned,
        write_ivf_index,
    )

    n = int(os.environ.get("SPARK_GRAFT_ANN_N", "10000000"))
    dim, n_clusters, n_lists, k = 64, 64, 64, 10
    n_queries = int(os.environ.get("SPARK_GRAFT_ANN_Q", "512"))
    spark = build_session(CPUS)
    work = tempfile.mkdtemp(prefix="ann_scale_")
    rec = {"metric": "ann_scaled", "n_vectors": n, "dim": dim,
           "n_lists": n_lists, "k": k, "n_queries": n_queries,
           "load_start": _load1()}
    try:
        # clustered synthesis: center(id % n_clusters) + noise, unit-ish
        # scale; per-batch rng seeded by the first id (determinism across
        # RUNS is irrelevant — every stage below reads the WRITTEN file)
        cents0 = np.random.default_rng(7).normal(size=(n_clusters, dim))
        cents0 /= np.linalg.norm(cents0, axis=1)[:, None]
        bc = spark.sparkContext.broadcast(cents0)

        def _synth(it):
            C = bc.value
            for pdf in it:
                ids = pdf["id"].to_numpy(np.int64)
                rng = np.random.default_rng(int(ids[0]) + 1)
                v = C[ids % n_clusters] + 0.35 * rng.normal(
                    size=(len(ids), dim)
                )
                yield pd.DataFrame(
                    {"vec_id": ids, "embedding": list(v)}
                )

        t0 = time.time()
        corpus = (
            spark.range(n)
            .repartition(int(CPUS) * 2)
            .mapInPandas(_synth, "vec_id long, embedding array<double>")
        )
        corpus.write.mode("overwrite").parquet(f"{work}/corpus")
        rec["synth_write_sec"] = round(time.time() - t0, 3)
        corpus = spark.read.parquet(f"{work}/corpus")

        t0 = time.time()
        write_ivf_index(corpus, f"{work}/ivf", n_lists=n_lists,
                        sample_n=16384)
        rec["index_build_sec"] = round(time.time() - t0, 3)

        stride = max(1, n // n_queries)
        queries = corpus.filter(
            (F.col("vec_id") % stride == 0)
            & (F.col("vec_id") < stride * n_queries)
        ).localCheckpoint()
        rec["n_queries"] = queries.count()

        t0 = time.time()
        exact = ivf_probe_pruned(
            queries, f"{work}/ivf", k=k, nprobe=n_lists
        )
        truth = {}
        for r in exact.collect():
            truth.setdefault(r["vec_id"], set()).add(r["neighbor_id"])
        rec["exact_sec"] = round(time.time() - t0, 3)

        for nprobe in (4, 8, 16):
            t0 = time.time()
            out = ivf_probe_pruned(
                queries, f"{work}/ivf", k=k, nprobe=nprobe
            )
            got = {}
            for r in out.collect():
                got.setdefault(r["vec_id"], set()).add(r["neighbor_id"])
            dt = time.time() - t0
            hits = sum(
                len(truth[q] & got.get(q, set())) for q in truth
            )
            rec[f"probe{nprobe}_sec"] = round(dt, 3)
            rec[f"recall_at_{k}_nprobe{nprobe}"] = round(
                hits / (len(truth) * k), 4
            )
            if nprobe == 4:
                plan = out._jdf.queryExecution().executedPlan().toString()
                pf = [
                    l.strip() for l in plan.splitlines()
                    if "PartitionFilters" in l
                ]
                rec["partition_filters"] = pf[0][:220] if pf else None
        rec["load_end"] = _load1()
        print(json.dumps(rec))
        with open(REPO / "BENCH.md", "a") as f:
            f.write(
                f"\n## Scaled ANN arm ({time.strftime('%Y-%m-%d %H:%M:%S')}, "
                f"{n} vectors x dim {dim}, {n_lists} lists, local[{CPUS}])\n\n"
                f"| stage | wall sec |\n|---|---|\n"
                f"| synth+write corpus | {rec['synth_write_sec']} |\n"
                f"| IVF index build (train+assign+partitioned write) "
                f"| {rec['index_build_sec']} |\n"
                f"| exact: probe all {n_lists} lists ({rec['n_queries']} "
                f"queries) | {rec['exact_sec']} |\n"
                f"| pruned probe nprobe=4 | {rec['probe4_sec']} |\n"
                f"| pruned probe nprobe=8 | {rec['probe8_sec']} |\n"
                f"| pruned probe nprobe=16 | {rec['probe16_sec']} |\n\n"
                f"recall@{k}: nprobe=4 {rec[f'recall_at_{k}_nprobe4']}, "
                f"nprobe=8 {rec[f'recall_at_{k}_nprobe8']}, "
                f"nprobe=16 {rec[f'recall_at_{k}_nprobe16']}; "
                f"PartitionFilters on the probe scan: "
                f"`{rec['partition_filters']}`\n"
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


def run_multimodal_scale() -> None:
    """Scaled multimodal-decode evidence (VERDICT r6 #3's second half,
    mirroring --ann-scale): $SPARK_GRAFT_MM_N (default 1M) 64x64 u16
    band payloads encoded across the PRODUCTION format rotation
    (raw-u16 / lossy-q12 / png / tiff incl. LZW-tiled-BigTIFF-PackBits
    container residues / tiff-rgb incl. planar-2) written to parquet,
    then timed through the two production decode paths:

      - ``resize_and_extract`` (decode -> bilinear resize -> features,
        ONE Arrow crossing) -- the headline images/sec;
      - ``band_pixel_stats`` (decode -> integer stats, no resize) --
        attributes decode cost vs resize+feature cost.

    Synthesis/encode is timed separately (the r7 fixture-LZW lesson:
    encode cost is a fixture variable, not engine cost). The
    map-stage plan is checked Exchange-free and the per-format mix is
    recorded. Nothing is special-cased for the bench -- both timed
    stages are the exact operators the driver queries run."""
    import shutil
    import tempfile

    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from tiff_enrichment_pipeline_spark.raster import codec
    from tiff_enrichment_pipeline_spark.raster.multimodal import (
        band_pixel_stats,
        resize_and_extract,
    )

    n = int(os.environ.get("SPARK_GRAFT_MM_N", "1000000"))
    w = h = 64
    spark = build_session(CPUS)
    work = tempfile.mkdtemp(prefix="mm_scale_")
    rec = {"metric": "multimodal_scaled", "n_images": n, "w": w, "h": h,
           "load_start": _load1()}
    try:
        def _fmt_for(i: int) -> str:
            r = i % 11
            if r == 3:
                return "lossy-q12"
            if r == 7:
                return "png"
            if r == 5:
                return "tiff-rgb" if (i // 11) % 2 == 1 else "tiff"
            return "raw-u16"

        def _encode(px: np.ndarray, i: int, fmt: str) -> bytes:
            if fmt == "tiff":
                # the production container rotation (fixtures.py r7
                # rebalance): LZW 3/16, tiled/BigTIFF/PackBits residues
                c = i // 11
                r = c % 8
                if r == 1:
                    comp, tile, big = "lzw", None, False
                elif r == 3:
                    comp, tile, big = "deflate", None, True
                elif r == 5:
                    comp = "lzw" if c % 16 == 5 else "deflate"
                    tile, big = 16, False
                elif r == 7:
                    comp, tile, big = "deflate", 16, False
                elif r == 2 and c % 16 == 2:
                    comp, tile, big = "packbits", None, False
                else:
                    comp, tile, big = "deflate", None, False
                return codec.encode_tiff_u16(
                    px, compression=comp, tile=tile, bigtiff=big
                )
            if fmt == "tiff-rgb":
                return codec.encode_tiff_rgb(
                    np.stack([px, px, px], axis=-1),
                    planar=2 if (i // 11) % 4 == 1 else 1,
                )
            if fmt == "lossy-q12":
                return codec.encode_lossy_q12(px)
            if fmt == "png":
                return codec.encode_png_u16(px)
            return codec.encode_raw_u16(px)

        # deterministic 12-bit pixels: shared gradient + per-image phase
        base = (
            np.add.outer(np.arange(h) * 13, np.arange(w) * 7) % 4096
        ).astype(np.uint16)

        def _synth(it):
            for pdf in it:
                ids = pdf["id"].to_numpy(np.int64)
                rows = {"image_id": ids, "bytes": [], "w": w, "h": h,
                        "fmt": []}
                for i in ids:
                    i = int(i)
                    fmt = _fmt_for(i)
                    px = ((base + (i * 2654435761) % 4096) % 4096).astype(
                        np.uint16
                    )
                    rows["fmt"].append(fmt)
                    rows["bytes"].append(_encode(px, i, fmt))
                yield pd.DataFrame(rows)

        t0 = time.time()
        (
            spark.range(n)
            .repartition(int(CPUS) * 4)
            .mapInPandas(
                _synth, "image_id long, bytes binary, w int, h int, fmt string"
            )
            .write.mode("overwrite")
            .parquet(f"{work}/images")
        )
        rec["synth_write_sec"] = round(time.time() - t0, 3)
        images = spark.read.parquet(f"{work}/images")
        rec["fmt_mix"] = {
            r["fmt"]: r["count"]
            for r in images.groupBy("fmt").count().collect()
        }
        rec["parquet_mb"] = round(
            sum(
                f.stat().st_size
                for f in Path(f"{work}/images").glob("*.parquet")
            )
            / 1e6,
            1,
        )

        feats = resize_and_extract(images, 16, 12)
        plan = feats._jdf.queryExecution().executedPlan().toString()
        rec["map_stage_exchanges"] = plan.count("Exchange")

        def _passthrough(it):
            # scan + Arrow transfer + pandas materialization of the
            # payload column, NO decode/kernels — the floor every
            # decode stage pays; lets the record attribute engine cost
            # vs transport cost
            for pdf in it:
                yield pd.DataFrame(
                    {
                        "image_id": pdf["image_id"],
                        "n": [len(b) for b in pdf["bytes"]],
                    }
                )

        sel = images.select("image_id", "bytes", "w", "h", "fmt")
        for name, df_fn in (
            ("arrow_floor", lambda: sel.mapInPandas(
                _passthrough, "image_id long, n long"
            )),
            ("resize_extract", lambda: resize_and_extract(images, 16, 12)),
            ("decode_stats", lambda: band_pixel_stats(
                images.withColumn(
                    "image_id", F.col("image_id").cast("string")
                )
            )),
        ):
            runs = []
            for _ in range(2):
                t0 = time.time()
                df_fn().write.format("noop").mode("overwrite").save()
                runs.append(time.time() - t0)
            sec = min(runs)
            rec[f"{name}_sec"] = round(sec, 3)
            rec[f"{name}_img_per_sec"] = round(n / sec, 1)
        rec["load_end"] = _load1()
        print(json.dumps(rec))
        mix = ", ".join(
            f"{k} {v}" for k, v in sorted(rec["fmt_mix"].items())
        )
        with open(REPO / "BENCH.md", "a") as f:
            f.write(
                f"\n## Scaled multimodal arm "
                f"({time.strftime('%Y-%m-%d %H:%M:%S')}, {n} images "
                f"{w}x{h} u16, {rec['parquet_mb']} MB parquet, "
                f"local[{CPUS}])\n\n"
                f"| stage | wall sec | img/s |\n|---|---|---|\n"
                f"| synth+encode+write (fixture cost, not engine) "
                f"| {rec['synth_write_sec']} | - |\n"
                f"| arrow floor (scan+transfer only, no decode) "
                f"| {rec['arrow_floor_sec']} "
                f"| {rec['arrow_floor_img_per_sec']} |\n"
                f"| resize_and_extract (decode+resize+features, fused) "
                f"| {rec['resize_extract_sec']} "
                f"| {rec['resize_extract_img_per_sec']} |\n"
                f"| band_pixel_stats (decode+integer stats, no resize) "
                f"| {rec['decode_stats_sec']} "
                f"| {rec['decode_stats_img_per_sec']} |\n\n"
                f"Format mix (production rotation): {mix}. Map-stage "
                f"plan Exchange count: {rec['map_stage_exchanges']} "
                f"(payload never shuffles). min-of-2 per stage; loads "
                f"{rec['load_start']} -> {rec['load_end']}.\n"
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    if "--scaling-worker" in sys.argv:
        i = sys.argv.index("--scaling-worker")
        run_scaling_worker(sys.argv[i + 1], int(sys.argv[i + 2]))
    elif "--scaling" in sys.argv:
        run_scaling()
    elif "--skew-worker" in sys.argv:
        i = sys.argv.index("--skew-worker")
        run_skew_worker(sys.argv[i + 1], int(sys.argv[i + 2]), sys.argv[i + 3])
    elif "--skew" in sys.argv:
        run_skew()
    elif "--skew-join-worker" in sys.argv:
        i = sys.argv.index("--skew-join-worker")
        run_skew_join_worker(
            sys.argv[i + 1], int(sys.argv[i + 2]), sys.argv[i + 3]
        )
    elif "--skew-joins" in sys.argv:
        run_skew_joins()
    elif "--dedup-scale" in sys.argv:
        run_dedup_scale()
    elif "--dedup-profile" in sys.argv:
        run_dedup_profile()
    elif "--ann-scale" in sys.argv:
        run_ann_scale()
    elif "--multimodal-scale" in sys.argv:
        run_multimodal_scale()
    else:
        run_default()
