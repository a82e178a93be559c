"""Benchmark of the enrichment engine: one seeded workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root; the engine package is imported from there.
One process, one job at a time (closed loop, one client), ``local[nproc]``,
one BLAS thread per Python worker.

A run:

1. generates the workload's inputs from ``--seed`` into a scratch directory
   under ``.perfbench_work/`` (removed at exit);
2. sets up twice: SparkSession start plus the first (warm-up) execution
   of the workload's job. The first set-up also launches the JVM, the
   second restarts the session on it; ``setup_s`` is their median. Two,
   not more: each set-up costs a full cold execution, and the run budget
   of the whole benchmark allows no third;
3. repeats the job for ``--seconds`` seconds (each rep is one operation;
   a rep in progress when the time is up completes) and checks every
   rep's output outside the timed region;
4. checks the values of one rep's output on a seeded sample;
5. with ``--trace 1`` only: records spans around the calls into each layer,
   keeps Spark's event log, runs the workload's direct per-layer probes,
   and writes the per-layer JSON.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it carries the
run's details (input properties, every sample, nproc, load average and,
for a traced run, every per-layer metric). Both are also written to
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "tiff_enrichment_pipeline_spark"
SETUPS = 2
UNITS = {"rows_per_s": "1/s", "cpu_s": "s", "peak_rss_mb": "MB", "setup_s": "s"}
PER_LAYER = {
    "session.start_s": "s", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.task_s_p90": "s", "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s", "spark.shuffle_write_mb": "MB",
    "spark.broadcast_build_s": "s", "spark.broadcast_mb": "MB",
    "python.worker_s": "s", "python.arrow_sent_mb": "MB",
    "python.arrow_returned_mb": "MB", "driver.self_s": "s",
}


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(root: str, work: str) -> None:
    """Before the JVM starts: Python workers import the package from the
    checkout, BLAS runs one thread per worker, Spark scratch and every
    temporary file stay in the work directory."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[v] = "1"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    sys.path[:0] = [HERE, root]


def _spark_conf(work: str, trace: bool) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # native-library extraction and JVM perf data default to /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        })
    return conf


def _shutdown_jvm() -> None:
    """Stop the py4j gateway's JVM and wait for the whole process tree."""
    from pyspark import SparkContext

    import procmon

    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        with contextlib.suppress(Exception):
            gw.shutdown()
        if proc is not None:
            with contextlib.suppress(Exception):
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 20
    me = str(os.getpid())
    while time.time() < deadline:
        left = [p for p in procmon.tree_pids(os.getpid()) if p != me]
        if not left:
            return
        time.sleep(0.2)
    for p in left:
        with contextlib.suppress(OSError):
            os.kill(int(p), signal.SIGKILL)


def run(args, root: str, work: str) -> tuple[dict, dict]:
    import numpy as np

    import procmon
    from eventlog import EventLog
    from spans import Tracer, self_times
    from workloads import GLUE_SPANS, WORKLOADS

    from tiff_enrichment_pipeline_spark.session import get_spark

    info: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                  "nproc": procmon.nproc(), "loadavg_start": procmon.loadavg()}
    t0 = time.perf_counter()
    wl = WORKLOADS[args.workload](np.random.default_rng(args.seed), work)
    info["inputs"] = wl.props
    info["gen_s"] = time.perf_counter() - t0

    trace = bool(args.trace)
    tracer = Tracer(trace)
    conf = _spark_conf(work, trace)
    master = f"local[{procmon.nproc()}]"
    me = os.getpid()
    errors: list[str] = []
    setups, starts = [], []
    walls, cpus, reps = [], [], []
    failed = 0
    spark = None
    with procmon.PeakSampler(me) as sampler:
        try:
            wl.wrap(tracer)
            for i in range(SETUPS):
                t0 = time.perf_counter()
                with tracer.span("session.start"):
                    spark = get_spark("perfbench", master=master, extra_conf=conf)
                starts.append(time.perf_counter() - t0)
                tracer.bind(spark)
                wl.prepare(spark)
                tracer.rep = f"setup{i}"
                with tracer.span("rep"):
                    wl.rep(spark, tracer)
                setups.append(time.perf_counter() - t0)
                if i < SETUPS - 1:
                    spark.stop()
            out, out_ok = None, False
            sampler.resume()
            t_loop = time.perf_counter()
            while not walls or time.perf_counter() - t_loop < args.seconds:
                tracer.rep = f"rep{len(walls)}"
                c0 = procmon.tree_cpu_s(me)
                t0 = time.perf_counter()
                try:
                    with tracer.span("rep"):
                        res = wl.rep(spark, tracer)
                    ok = True
                except Exception as e:  # a failed operation, counted below
                    ok, res = False, None
                    errors.append(f"{tracer.rep}: {type(e).__name__}: {e}")
                walls.append(time.perf_counter() - t0)
                cpus.append(procmon.tree_cpu_s(me) - c0)
                sampler.pause()
                if ok:
                    errs = wl.check_rep(res)
                    reps.append(res)
                    ok = not errs
                    out, out_ok = res, ok
                    errors.extend(f"{tracer.rep}: {m}" for m in errs)
                failed += not ok
                sampler.resume()
            sampler.pause()
            tracer.rep = "check"
            if out is not None:
                # the sampled value check reads the last completed rep's
                # output; if it fails, that rep counts as failed
                errs = wl.check_values(spark, out)
                errors.extend(f"values: {m}" for m in errs)
                failed += bool(errs) and out_ok
            tracer.rep = "probe"
            probes = wl.probe(spark, tracer) if trace else {}
        finally:
            tracer.unwrap()
            if spark is not None:
                spark.stop()
    info["loadavg_end"] = procmon.loadavg()
    info["setup_samples_s"] = setups
    info["session_start_samples_s"] = starts
    info["rep_wall_samples_s"] = walls
    info["rep_cpu_samples_s"] = cpus
    info["reps"] = len(walls)
    info["error_rate"] = failed / len(walls)
    info["errors"] = errors[:20]
    med_wall = statistics.median(walls)
    metrics = {
        "rows_per_s": wl.rows / med_wall,
        "cpu_s": statistics.median(cpus),
        "peak_rss_mb": sampler.peak_mb,
        "setup_s": statistics.median(setups),
    }
    info["peak_rss_by_pid_mb"] = sampler.peak_detail
    if not trace:
        return metrics, {"correct": not errors, "attempted": len(walls),
                         "failed": failed, "info": info}

    spans = self_times(tracer.spans)
    timed = [s for s in spans if s["rep"] and s["rep"].startswith("rep")]
    ev = EventLog(os.path.join(work, "eventlog"))
    per_rep, gaps = [], []
    for i, wall in enumerate(walls):
        mine = [s for s in timed if s["rep"] == f"rep{i}"]
        per_rep.append({
            **ev.summary({str(s["id"]) for s in mine}),
            "driver.self_s": sum(s["self"] for s in mine if s["name"] in GLUE_SPANS),
        })
        # self times partition the spanned interval; against the wall the
        # timed loop measured, the gap is the part no span saw
        gaps.append(abs(sum(s["self"] for s in mine) - wall) / wall)
    every = {k: statistics.median(r[k] for r in per_rep) for k in per_rep[0]}
    every["session.start_s"] = statistics.median(starts[1:])
    self_s: dict[str, float] = {}
    for s in timed:
        self_s[s["name"]] = self_s.get(s["name"], 0.0) + s["self"] / len(walls)
    info["per_layer"] = {**every, **wl.layers(ev, reps, timed), **probes}
    info["self_s_per_rep"] = self_s
    info["reconcile_err"] = max(gaps)
    info["traced_rows_per_s"] = metrics["rows_per_s"]
    layer = {k: every[k] for k in PER_LAYER}
    return layer, {"correct": not errors, "attempted": len(walls), "failed": failed,
                   "info": info}


def main(argv=None) -> int:
    args = _args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ in {root}; run from the repository root",
              file=sys.stderr)
        return 2
    base = os.path.join(root, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    try:
        _environment(root, work)
        from workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}; "
                  f"one of {sorted(WORKLOADS)}", file=sys.stderr)
            return 2
        metrics, result = run(args, root, work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        with contextlib.suppress(Exception):
            _shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(base)
    units = PER_LAYER if args.trace else UNITS
    final = {
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    info = result["info"]
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    if args.trace:
        untraced = stem[:-1] + "0.json"
        if os.path.exists(untraced):
            with open(untraced) as f:
                base_rps = json.load(f)["metrics"]["rows_per_s"]["value"]
            info["tracing_overhead_frac"] = 1.0 - info["traced_rows_per_s"] / base_rps
    with open(stem + ".json", "w") as f:
        json.dump({**final, "info": info}, f, indent=1, default=str)
    print(json.dumps(info, default=str))
    print(json.dumps(final))
    return 0


if __name__ == "__main__":
    sys.exit(main())
