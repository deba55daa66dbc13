"""Spans, process-tree counters and Spark event-log parsing.

Spans are kept in memory; the caller writes them out when the run ends.
While a span is open, Spark jobs submitted from this thread carry the span
name as the ``kgbench.span`` local property, which the event log records in
each ``SparkListenerJobStart``; ``engine_metrics`` folds the task metrics of
those jobs back onto the spans. Only the stdlib reads the log.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time

_CLK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """Records (name, start, end, parent) spans. With ``enabled`` false the
    spans still time their bodies (the benchmark reads some walls from
    them) but tag no Spark jobs."""

    def __init__(self, spark=None, enabled: bool = False):
        self.spark, self.enabled = spark, enabled
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext if (self.enabled and self.spark) else None
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        if sc is not None:
            sc.setLocalProperty("kgbench.span", name)
        rec = {"name": name, "parent": parent, "start": time.perf_counter()}
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.spans.append(rec)
            self._stack.pop()
            if sc is not None:
                sc.setLocalProperty("kgbench.span", parent)

    def walls(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]


def uncovered_share(spans: list[dict], outer: str, layers: set[str]) -> float:
    """Share of the ``outer`` spans' wall that no span named in ``layers``
    covers (interval union, so nested or overlapping layers count once)."""
    total = uncovered = 0.0
    for o in (s for s in spans if s["name"] == outer):
        iv = sorted(
            (max(s["start"], o["start"]), min(s["end"], o["end"]))
            for s in spans if s["name"] in layers and s["end"] > o["start"]
            and s["start"] < o["end"]
        )
        cov, cur = 0.0, None
        for a, b in iv:
            if cur is None or a > cur[1]:
                if cur:
                    cov += cur[1] - cur[0]
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        if cur:
            cov += cur[1] - cur[0]
        total += o["end"] - o["start"]
        uncovered += o["end"] - o["start"] - cov
    return uncovered / total if total else 0.0


# -- the process tree, from /proc -------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    kids, out, todo = _children(), [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def become_subreaper() -> None:
    """Make orphaned descendants (Python workers whose JVM has exited) come
    back to this process, so that it can wait for them and see them in
    ``tree_pids``."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    with contextlib.suppress(OSError, AttributeError):
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of the live process tree plus its reaped
    children (so Python workers that already exited still count)."""
    tot = 0
    for p in tree_pids(root):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        tot += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return tot / _CLK


def worker_hwm_mb(root: int | None = None) -> float:
    """Largest VmHWM among the Python worker processes (descendants of the
    JVM that run ``pyspark.daemon`` / ``pyspark.worker``)."""
    best = 0
    for p in tree_pids(root):
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                cmd = f.read()
            if b"pyspark.daemon" not in cmd and b"pyspark.worker" not in cmd:
                continue
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        best = max(best, int(line.split()[1]))
        except OSError:
            continue
    return best / 1024.0


# -- the event log -----------------------------------------------------------

ENGINE_FIELDS = ("jobs", "tasks", "executor_cpu_s", "gc_s", "shuffle_read_mb",
                 "shuffle_write_mb", "spill_mb", "task_skew", "python_s")


def engine_metrics(log_dir: str) -> dict[str, dict[str, float]]:
    """span name -> engine totals of the jobs the span submitted: tasks,
    executor CPU s, JVM GC s, shuffle read/write MB, memory+disk spill MB,
    max/median task run time, and the SQL metric "time to run Python
    workers" (Python UDF and mapInPandas time)."""
    stage_span: dict[int, str] = {}
    per: dict[str, dict] = {}
    run_ms: dict[str, list[float]] = {}
    files = sorted(os.path.join(d, f) for d, _s, fs in os.walk(log_dir)
                   for f in fs if f.startswith("events"))
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    span = (ev.get("Properties") or {}).get("kgbench.span")
                    if span:
                        per.setdefault(span, dict.fromkeys(ENGINE_FIELDS, 0.0))["jobs"] += 1
                        for sid in ev.get("Stage IDs", []):
                            stage_span[sid] = span
                elif kind == "SparkListenerTaskEnd":
                    span = stage_span.get(ev.get("Stage ID"))
                    tm = ev.get("Task Metrics")
                    if not span or not tm:
                        continue
                    m = per.setdefault(span, dict.fromkeys(ENGINE_FIELDS, 0.0))
                    m["tasks"] += 1
                    m["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    sr = tm.get("Shuffle Read Metrics", {})
                    m["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                             + sr.get("Local Bytes Read", 0)) / 2**20
                    m["shuffle_write_mb"] += tm.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0) / 2**20
                    m["spill_mb"] += (tm.get("Memory Bytes Spilled", 0)
                                      + tm.get("Disk Bytes Spilled", 0)) / 2**20
                    run_ms.setdefault(span, []).append(tm.get("Executor Run Time", 0))
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        if acc.get("Name") == "time to run Python workers":  # ms
                            try:
                                m["python_s"] += float(acc.get("Update", 0)) / 1e3
                            except (TypeError, ValueError):
                                pass
    for span, xs in run_ms.items():
        med = statistics.median(xs)
        per[span]["task_skew"] = max(xs) / med if med else 1.0
    return per
