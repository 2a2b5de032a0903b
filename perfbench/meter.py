"""Measurement helpers: spans, Spark's own metrics per operation, and the
peak resident memory of the process tree.

Everything here observes sparktext from outside. Spans wrap the benchmark's
calls into the engine; Spark metrics come from the driver's status store
(jobs and stages) and the SQL status store (per-operator metrics such as
the Python-worker times of ``MapInPandas``).
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder: (name, start, end, parent, op id).

    Disabled tracers record nothing, so the untraced run pays one
    attribute check per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.op_id: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append([name, time.perf_counter(), None, parent, self.op_id])
        self._stack.append(idx)
        try:
            yield
        finally:
            self.spans[idx][2] = time.perf_counter()
            self._stack.pop()

    def self_seconds(self, op_ids: set[int]) -> dict[str, float]:
        """Self time per layer (the span name before the first dot) over
        the spans of ``op_ids``: each span's duration minus the time its
        children cover."""
        child_s = [0.0] * len(self.spans)
        for name, t0, t1, parent, _ in self.spans:
            if parent is not None and t1 is not None:
                child_s[parent] += t1 - t0
        out: dict[str, float] = {}
        for i, (name, t0, t1, _, op) in enumerate(self.spans):
            if op in op_ids and t1 is not None:
                layer = name.split(".", 1)[0]
                out[layer] = out.get(layer, 0.0) + (t1 - t0) - child_s[i]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [dict(zip(("name", "start", "end", "parent", "op"), s))
                 for s in self.spans], f)


class RssSampler:
    """Samples the summed RSS of this process and all its descendants
    (the Spark JVM and its Python workers) and keeps the peak."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _loop(self):
        while not self._stop.wait(self.interval_s):
            self.sample()

    def sample(self) -> None:
        self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(os.getpid()))


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(pid: int) -> int:
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            continue
    return total


def cpu_jiffies() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user nice system idle
    iowait irq softirq steal ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


# ------------------------------------------------------------ Spark meter ---

_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "B": 1.0,
          "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
          "TiB": 1024.0 ** 4}
_VALUE_RE = re.compile(r"^\s*([\d,.]+)\s*([A-Za-z]*)")

#: SQL metric display names of the Python boundary (``MapInPandas`` and the
#: other Arrow-based Python operators) -> the names reported here.
PYTHON_METRICS = {
    "time to run Python workers": "python.total_s",
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}


def sql_metric_value(text: str) -> float:
    """Parse a SQL metric's display string into seconds, bytes or a count.
    Aggregated metrics read ``total (min, med, max ...)\\n<total> (...)``;
    the total is the first value on the last line."""
    m = _VALUE_RE.match(text.strip().splitlines()[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class SparkMeter:
    """Reads Spark's job, stage and SQL metrics for one operation.

    ``begin`` tags the calling thread with a fresh job group; ``end`` waits
    for the listener bus to drain and returns the metrics of every job the
    operation started: the tagged ones, plus untagged jobs submitted by
    helper threads meanwhile (``collect_results`` fans out over a thread
    pool whose JVM threads do not inherit the job group)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._tracker = self.sc.statusTracker()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._seq = 0
        self._last_job = self._last_exec = -1
        self.skip_to_now()

    def _list(self, seq) -> list:
        return list(self._conv.asJava(seq))

    def skip_to_now(self) -> None:
        """Leave every job and SQL execution so far unmetered."""
        self._bus.waitUntilEmpty()
        self._last_job = max([self._last_job, *self._tracker.getJobIdsForGroup(None)])
        while self._sql.execution(self._last_exec + 1).isDefined():
            self._last_exec += 1

    def begin(self) -> str:
        self._seq += 1
        group = f"perfbench-{self._seq}"
        self.sc.setJobGroup(group, group)
        return group

    def end(self, group: str, t0: float, t1: float, decode_nodes: bool) -> dict:
        """Metrics of the operation that ran between epoch times t0..t1."""
        self.sc._jsc.clearJobGroup()
        self._bus.waitUntilEmpty()
        ids = set(self._tracker.getJobIdsForGroup(group))
        ids |= {j for j in self._tracker.getJobIdsForGroup(None) if j > self._last_job}
        self._last_job = max([self._last_job, *ids])
        out = {"spark.jobs": len(ids), "spark.stages": 0, "spark.tasks": 0,
               "spark.executor_run_s": 0.0, "spark.executor_cpu_s": 0.0,
               "spark.gc_s": 0.0, "spark.shuffle_bytes": 0.0}
        spans = []
        for jid in ids:
            j = self._store.job(jid)
            if j.submissionTime().isDefined() and j.completionTime().isDefined():
                spans.append((j.submissionTime().get().getTime() / 1e3,
                              j.completionTime().get().getTime() / 1e3))
            for sid in self._list(j.stageIds()):
                info = self._tracker.getStageInfo(sid)
                if info is None or info.numCompletedTasks == 0:
                    continue  # skipped: its output was reused
                st = self._store.lastStageAttempt(sid)
                out["spark.stages"] += 1
                out["spark.tasks"] += st.numCompleteTasks()
                out["spark.executor_run_s"] += st.executorRunTime() / 1e3
                out["spark.executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["spark.gc_s"] += st.jvmGcTime() / 1e3
                out["spark.shuffle_bytes"] += st.shuffleWriteBytes()
        out["spark.driver_gap_s"] = (t1 - t0) - _covered(spans, t0, t1)
        out.update(self._sql_metrics(ids, decode_nodes))
        return out

    def _sql_metrics(self, job_ids: set[int], decode_nodes: bool) -> dict:
        out = {v: 0.0 for v in PYTHON_METRICS.values()}
        out["blocks_decoded"] = 0.0
        while True:
            e = self._sql.execution(self._last_exec + 1)
            if not e.isDefined():
                return out
            self._last_exec += 1
            e = e.get()
            if not job_ids & set(self._list(e.jobs().keySet())):
                continue
            values = dict(self._conv.asJava(self._sql.executionMetrics(self._last_exec)))
            graph = self._sql.planGraph(self._last_exec)
            nodes = {n.id(): n for n in self._list(graph.allNodes())}

            def value(metric) -> float | None:
                v = values.get(metric.accumulatorId())
                return None if v is None else sql_metric_value(v)

            for n in nodes.values():
                for m in self._list(n.metrics()):
                    key = PYTHON_METRICS.get(m.name())
                    if key:
                        out[key] += value(m) or 0.0
            if not decode_nodes:
                continue
            # Blocks decoded = rows entering the decode MapInPandas node:
            # the output rows of its nearest descendant that counts rows
            # (a codegen'd Project in between counts none).
            kids: dict[int, list[int]] = {}
            for edge in self._list(graph.edges()):
                kids.setdefault(edge.toId(), []).append(edge.fromId())
            for nid, node in nodes.items():
                if node.name() != "MapInPandas":
                    continue
                todo = list(kids.get(nid, []))
                while todo:
                    child = nodes[todo.pop()]
                    rows = [m for m in self._list(child.metrics())
                            if m.name() == "number of output rows"]
                    if rows:
                        out["blocks_decoded"] += value(rows[0]) or 0.0
                    else:
                        todo.extend(kids.get(child.id(), []))


def _covered(spans: list[tuple[float, float]], t0: float, t1: float) -> float:
    """Length of the union of ``spans`` clipped to [t0, t1]."""
    total, end = 0.0, t0
    for a, b in sorted(spans):
        a, b = max(a, end), min(b, t1)
        if b > a:
            total += b - a
            end = b
    return total
