"""Spans around the benchmark's calls into engine layers, and the Spark
counters attached to them.

Spans are kept in memory and written out when the benchmark ends. Each
has a name, start, end, the span that caused it, the workload and the
iteration it belongs to. A span's self time is its duration minus the
part of its interval covered by its child spans.

Spark's own counters come from the application status store: the task
metrics (run time, CPU, GC, shuffle) of every stage an action ran, and the
SQL node metrics (sort time, Python-worker time and bytes) of its
executed plans.
"""

from __future__ import annotations

import contextlib
import itertools
import re
import threading
import time
from collections import defaultdict
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    workload: str
    iteration: int | None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans; a disabled tracer records nothing. Nesting is
    tracked per thread, so spans opened on a callback thread start their
    own tree."""

    def __init__(self, workload: str, enabled: bool = True):
        self.workload = workload
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, iteration: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        if iteration is None and parent is not None:
            iteration = parent.iteration
        sp = Span(next(self._ids), name, time.time(), 0.0,
                  parent.id if parent else None, self.workload, iteration, dict(attrs))
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(sp)

    def records(self) -> list[dict]:
        return [asdict(s) for s in sorted(self.spans, key=lambda s: s.id)]


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans) -> dict[int, float]:
    """Span id → self time in seconds."""
    children = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return {s.id: s.duration - _covered(children[s.id], s.start, s.end) for s in spans}


def layer_self_times(spans, root_id: int) -> dict[str, float]:
    """Self time summed by span name over the subtree rooted at ``root_id``
    (the root included)."""
    by_parent = defaultdict(list)
    for s in spans:
        by_parent[s.parent].append(s)
    own = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    todo = [s for s in spans if s.id == root_id]
    while todo:
        s = todo.pop()
        out[s.name] += own[s.id]
        todo.extend(by_parent[s.id])
    return dict(out)


# stage task metrics: StageData getter → (metric name, scale to the unit)
STAGE_METRICS = {
    "executorRunTime": ("spark.executor_run_ms", 1.0),
    "executorCpuTime": ("spark.executor_cpu_ms", 1e-6),
    "jvmGcTime": ("spark.gc_ms", 1.0),
    "shuffleWriteBytes": ("spark.shuffle_write_bytes", 1.0),
    "shuffleWriteTime": ("spark.shuffle_write_ms", 1e-6),
}

# SQL node metric name → benchmark metric name
SQL_METRICS = {
    "sort time": "spark.sort_ms",
    "time to start Python workers": "arrow.python_boot_ms",
    "time to initialize Python workers": "arrow.python_init_ms",
    "time to run Python workers": "arrow.python_total_ms",
    "data sent to Python workers": "arrow.bytes_sent",
    "data returned from Python workers": "arrow.bytes_received",
}
# plan nodes that run Python over Arrow; their output rows come back
# from the Python workers
PYTHON_NODES = (
    "MapInArrow", "MapInPandas", "FlatMapGroupsInPandas", "FlatMapGroupsInArrow",
    "FlatMapGroupsInPandasWithState", "ArrowEvalPython", "FlatMapCoGroupsInPandas",
)
COUNTER_NAMES = (
    [name for name, _ in STAGE_METRICS.values()]
    + list(SQL_METRICS.values())
    + ["arrow.rows_received", "spark.tasks", "spark.stages"]
)

_UNITS = {
    "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3, "TiB": 1024.0 ** 4,
}


def parse_sql_metric(text: str) -> float:
    """Total of a SQL metric as the status store renders it: ``"58,000"``,
    ``"12 ms"`` or ``"total (min, med, max ...)\n1.5 s (...)"``; times in
    ms, sizes in bytes."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]*)", line)
    if m is None:
        raise ValueError(f"unparseable SQL metric {text!r}")
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit and unit not in _UNITS:
        raise ValueError(f"unknown unit {unit!r} in SQL metric {text!r}")
    return value * _UNITS.get(unit, 1.0)


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class SparkCounters:
    """Task metrics of the stages, and SQL node metrics of the executions,
    that ran the jobs after a mark, read from the application status
    store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        self._empty = self.sc._jvm.java.util.ArrayList()

    def _drain(self) -> None:
        # the status listeners run asynchronously on the listener bus
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def mark(self) -> int:
        """Highest job id so far; jobs after it belong to what runs next."""
        self._drain()
        return max((j.jobId() for j in _iter(self._store.jobsList(None))), default=-1)

    def since(self, mark: int) -> dict[str, float]:
        self._drain()
        jobs = {}
        for j in _iter(self._store.jobsList(None)):
            if j.jobId() > mark:
                jobs[j.jobId()] = [int(s) for s in _iter(j.stageIds())]
        out = dict.fromkeys(COUNTER_NAMES, 0.0)
        for sid in sorted({s for stages in jobs.values() for s in stages}):
            for st in _iter(self._store.stageData(sid, False, self._empty, False, self._no_quantiles)):
                if st.status().toString() != "COMPLETE":
                    continue  # skipped stages reuse shuffle output
                out["spark.stages"] += 1
                out["spark.tasks"] += st.numCompleteTasks()
                for getter, (name, scale) in STAGE_METRICS.items():
                    out[name] += getattr(st, getter)() * scale
        for ex in _iter(self._sql.executionsList()):
            if not any(int(j) in jobs for j in _iter(ex.jobs().keys())):
                continue
            values = ex.metricValues()
            if values is None:
                continue
            for node in _iter(self._sql.planGraph(ex.executionId()).allNodes()):
                python_node = node.name() in PYTHON_NODES
                for m in _iter(node.metrics()):
                    name = SQL_METRICS.get(m.name())
                    if name is None and python_node and m.name() == "number of output rows":
                        name = "arrow.rows_received"
                    if name is None:
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        out[name] += parse_sql_metric(v.get())
        return out
