"""Spark event-log parser, run from outside the engine.

Reads the uncompressed JSON-lines event log(s) under a directory and
returns, per span id (the ``perfbench.span`` job property) and for the
whole application:

- jobs, stages, tasks, task durations (p90), executor run/CPU time,
  JVM GC time, shuffle bytes written;
- SQL-node metrics of every execution: Python-worker time and Arrow bytes
  sent/returned (ArrowEvalPython, MapInPandas, ...), broadcast size and
  build time (BroadcastExchange), and per-node output rows.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

from spans import SPAN_PROP

_PY_RUN = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PY_RET = "data returned from Python workers"
_BC_TIMES = ("time to collect", "time to build", "time to broadcast")


def _unit_scale(metric_type: str) -> float:
    """SQL metric value → seconds (timings) or bytes (sizes)."""
    return {"timing": 1e-3, "nsTiming": 1e-9}.get(metric_type, 1.0)


class EventLog:
    def __init__(self, log_dir: str):
        files = sorted(
            f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
            if os.path.isfile(f) and not os.path.basename(f).startswith((".", "appstatus"))
        )
        if not files:
            raise FileNotFoundError(f"no event log under {log_dir}")
        self._fi = 0
        self.job_span: dict[tuple, str | None] = {}
        self.stage_job: dict[tuple, tuple] = {}
        self.tasks: list[dict] = []
        self.exec_span: dict[tuple, str | None] = {}
        self.nodes: dict[tuple, dict[int, dict]] = {}
        self.acc_val: dict[tuple, float] = defaultdict(float)
        # one file per application (the run restarts its SparkContext):
        # job, stage, execution and accumulator ids restart per
        # application, so every id is keyed by (file index, id)
        for self._fi, f in enumerate(files):
            with open(f) as fh:
                for line in fh:
                    self._event(json.loads(line))

    # -- ingest --------------------------------------------------------------
    def _event(self, e: dict) -> None:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jid = (self._fi, e["Job ID"])
            self.job_span[jid] = props.get(SPAN_PROP)
            xid = props.get("spark.sql.execution.id")
            if xid is not None:
                self.exec_span.setdefault((self._fi, int(xid)), props.get(SPAN_PROP))
            for sid in e.get("Stage IDs", []):
                self.stage_job[(self._fi, sid)] = jid
        elif ev == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            self.tasks.append({
                "stage": (self._fi, e["Stage ID"]),
                "dur": (info["Finish Time"] - info["Launch Time"]) / 1e3,
                "run": m.get("Executor Run Time", 0) / 1e3,
                "cpu": m.get("Executor CPU Time", 0) / 1e9,
                "gc": m.get("JVM GC Time", 0) / 1e3,
                "shuffle_w": (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0),
            })
            # SQL metrics ride as accumulables with Metadata "sql" and the
            # update serialized as a string
            for a in info.get("Accumulables", []):
                if a.get("Metadata") == "sql" and "Update" in a:
                    self.acc_val[(self._fi, a["ID"])] += float(a["Update"])
        elif ev.endswith("SQLExecutionStart") or ev.endswith("SQLAdaptiveExecutionUpdate"):
            self._plan((self._fi, e["executionId"]), e["sparkPlanInfo"])
        elif ev.endswith("SparkListenerDriverAccumUpdates"):
            for aid, v in e["accumUpdates"]:
                self.acc_val[(self._fi, aid)] += v

    def _plan(self, xid: tuple, root: dict) -> None:
        nodes = self.nodes.setdefault(xid, {})

        def walk(p: dict, parent: int | None) -> None:
            nid = len(nodes)
            nodes[nid] = {"name": p["nodeName"], "desc": p.get("simpleString", ""),
                          "parent": parent, "metrics": {}}
            for m in p.get("metrics", []):
                nodes[nid]["metrics"][m["name"]] = ((self._fi, m["accumulatorId"]),
                                                    m["metricType"])
            for ch in p.get("children", []):
                walk(ch, nid)

        walk(root, None)

    # -- queries -------------------------------------------------------------
    def metric(self, node: dict, name: str) -> float:
        aid, mtype = node["metrics"].get(name, (None, ""))
        return self.acc_val.get(aid, 0.0) * _unit_scale(mtype) if aid is not None else 0.0

    def exec_nodes(self, spans: set[str] | None = None):
        """(execution id, node) for every plan node; duplicates from AQE
        re-plans share accumulator ids, so each accumulator counts once."""
        seen: set[tuple] = set()
        for xid, nodes in self.nodes.items():
            if spans is not None and self.exec_span.get(xid) not in spans:
                continue
            for node in nodes.values():
                ids = {a for a, _ in node["metrics"].values()}
                if ids and ids <= seen:
                    continue
                seen |= ids
                yield xid, node

    def summary(self, spans: set[str] | None = None) -> dict:
        """Engine-wide counters, restricted to jobs of ``spans`` if given."""
        jobs = {j for j, s in self.job_span.items() if spans is None or s in spans}
        stages = {s for s, j in self.stage_job.items() if j in jobs}
        tasks = [t for t in self.tasks if t["stage"] in stages]
        durs = sorted(t["dur"] for t in tasks)
        p90 = durs[min(len(durs) - 1, int(0.9 * len(durs)))] if durs else 0.0
        out = {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": len(tasks),
            "spark.task_s_p90": p90,
            "spark.executor_run_s": sum(t["run"] for t in tasks),
            "spark.executor_cpu_s": sum(t["cpu"] for t in tasks),
            "spark.jvm_gc_s": sum(t["gc"] for t in tasks),
            "spark.shuffle_write_mb": sum(t["shuffle_w"] for t in tasks) / 2**20,
            "spark.broadcast_build_s": 0.0,
            "spark.broadcast_mb": 0.0,
            "python.worker_s": 0.0,
            "python.arrow_sent_mb": 0.0,
            "python.arrow_returned_mb": 0.0,
        }
        for _, node in self.exec_nodes(spans):
            if node["name"] == "BroadcastExchange":
                out["spark.broadcast_build_s"] += sum(
                    self.metric(node, m) for m in _BC_TIMES)
                out["spark.broadcast_mb"] += self.metric(node, "data size") / 2**20
            if _PY_RUN in node["metrics"]:
                out["python.worker_s"] += self.metric(node, _PY_RUN)
                out["python.arrow_sent_mb"] += self.metric(node, _PY_SENT) / 2**20
                out["python.arrow_returned_mb"] += self.metric(node, _PY_RET) / 2**20
        return out

    def rows(self, spans: set[str], name: str, desc_has: str = "",
             above: str | None = None) -> float:
        """Summed 'number of output rows' of nodes named ``name`` (whose
        description contains ``desc_has`` and, if given, that have an
        ``above`` node at most three levels below them) in executions of
        ``spans``."""
        total = 0.0
        for xid, node in self.exec_nodes(spans):
            if node["name"] != name or desc_has not in node["desc"]:
                continue
            if above is not None and not self._below(xid, node, above, 3):
                continue
            total += self.metric(node, "number of output rows")
        return total

    def _below(self, xid, node: dict, name: str, depth: int) -> bool:
        nodes = self.nodes[xid]
        kids = [n for n in nodes.values()
                if n["parent"] is not None and nodes[n["parent"]] is node]
        return any(k["name"] == name or (depth > 1 and self._below(xid, k, name, depth - 1))
                   for k in kids)

    def broadcast_mb(self, spans: set[str], min_rows: float = 0.0) -> list[float]:
        return [self.metric(n, "data size") / 2**20
                for _, n in self.exec_nodes(spans)
                if n["name"] == "BroadcastExchange"
                and self.metric(n, "number of output rows") >= min_rows]
