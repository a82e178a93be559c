"""Process-tree CPU and memory from /proc.

The tree is this Python process plus every descendant: the JVM that
spark-submit launches, the PySpark daemon and its forked Python workers.
CPU time is summed over live processes as utime+stime+cutime+cstime, so a
worker that exits and is reaped moves its time into its parent's cutime
instead of vanishing. Resident memory is sampled by a background thread
as the summed proportional set size (Pss): forked Python workers share
most of their pages with the daemon, and summing their Rss counted those
pages once per idle worker, so the figure moved with how many idle
workers happened to be alive. The peak is the largest sum seen while
sampling was on.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # comm may hold spaces and parentheses: split after the last ')'
    return s[s.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[str]:
    children: dict[str, list[str]] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st is not None:
                children.setdefault(st[1], []).append(pid)
    out, todo = [], [str(root)]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds of the tree rooted at ``root``."""
    cpu = 0
    for pid in tree_pids(root):
        st = _stat(pid)
        if st is not None:
            # fields after comm: state=0 ppid=1 ... utime=11 stime=12
            # cutime=13 cstime=14
            cpu += int(st[11]) + int(st[12]) + int(st[13]) + int(st[14])
    return cpu / _TICK


def _pss_kb(pid: str) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_pss_mb(root: int, detail: list | None = None) -> float:
    """Summed Pss of the tree in MB; with ``detail``, appends (pid, MB)
    of every process."""
    total = 0
    for pid in tree_pids(root):
        kb = _pss_kb(pid)
        total += kb
        if detail is not None:
            detail.append((int(pid), round(kb / 1024, 1)))
    return total / 1024


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


class PeakSampler:
    """Background sampler of the tree's resident memory."""

    def __init__(self, root: int, interval_s: float = 0.2):
        self.root = root
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.peak_detail: list = []
        self._on = threading.Event()
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "PeakSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def resume(self) -> None:
        self._on.set()

    def pause(self) -> None:
        self._on.clear()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            if self._on.is_set():
                detail: list = []
                rss = tree_pss_mb(self.root, detail)
                with self._lock:
                    if rss > self.peak_mb:
                        self.peak_mb, self.peak_detail = rss, detail
