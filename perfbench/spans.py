"""In-memory spans recorded around calls into the engine's layers.

A span is (id, name, rep, parent, start, end). Spans are kept in a list and
written out once, when the run ends. While a span is open its id is the
SparkContext local property ``perfbench.span``; every Spark job started on
this thread carries it in the event log, which ties job, stage, task and
SQL-node metrics back to the span that caused them.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager

SPAN_PROP = "perfbench.span"


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.rep: str | None = None
        self._stack: list[int] = []
        self._sc = None
        self._patched: list[tuple[object, str, object]] = []

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext if spark is not None else None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "rep": self.rep,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_prop(str(sid))
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_prop(str(self._stack[-1]) if self._stack else None)

    def _set_prop(self, value: str | None) -> None:
        if self._sc is not None and self._sc._jsc is not None:  # not stopped
            self._sc.setLocalProperty(SPAN_PROP, value)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a spanned wrapper until ``unwrap``.
        Callers that import the attribute at call time (as the CLI does)
        pick the wrapper up."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def spanned(*a, **kw):
            with self.span(name):
                return orig(*a, **kw)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, spanned)

    def unwrap(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)


def self_times(spans: list[dict]) -> list[dict]:
    """Each span with ``wall`` and ``self`` (wall minus the part of its
    interval that its direct children cover)."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = []
    for s in spans:
        wall = s["end"] - s["start"]
        covered, edge = 0.0, s["start"]
        for c in sorted(kids.get(s["id"], ()), key=lambda c: c["start"]):
            lo, hi = max(c["start"], edge), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                edge = hi
        out.append({**s, "wall": wall, "self": wall - covered})
    return out
