"""Spans and Spark-side counters for the traced benchmark run.

``Tracer`` keeps spans in memory (name, layer, start, end, parent, run
id) and writes them once, at the end. ``self_times`` turns spans into
per-layer self time. ``SparkProbe`` reads Spark's own bookkeeping from
outside the program: the status store (jobs, stages, task metrics),
the SQL status store (per-node SQL metrics, including the Python
worker metrics), ``CodegenMetrics`` and ``CodeGenerator.compileTime``.
A disabled tracer records nothing and costs one branch per call.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.run_id = "setup"

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, layer, time.perf_counter(), 0.0, parent, self.run_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span], run_ids: set[str] | None = None) -> dict[str, float]:
    """Per-layer self time: each span's duration minus the part of its
    interval that its child spans cover, summed by layer."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            p = spans[s.parent]
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                children.setdefault(s.parent, []).append((lo, hi))
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        if run_ids is not None and s.run_id not in run_ids:
            continue
        own = (s.end - s.start) - _covered(children.get(i, []))
        out[s.layer] = out.get(s.layer, 0.0) + own
    return out


# Python-worker SQL metric names, as the SQL status store labels them.
PY_RUN = "time to run Python workers"
PY_BOOT = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_SENT = "data sent to Python workers"
ROWS_OUT = "number of output rows"

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def _parse_metric_string(text: str) -> float:
    """Total of a formatted SQL metric ('1,234', '1.2 s', or 'total (min,
    med, max ...)\\n3.4 MiB (...)'), in bytes, seconds or a count. Used
    only when the raw accumulator is no longer registered."""
    line = text.split("\n")[1] if text.startswith("total") else text
    head = line.split(" (")[0].strip().replace(",", "")
    parts = head.split()
    if len(parts) == 2 and parts[1] in _UNITS:
        return float(parts[0]) * _UNITS[parts[1]]
    return float(parts[0]) if parts else 0.0


class SparkProbe:
    """Reads Spark's status stores for the jobs and SQL executions that
    one benchmark call caused. The client is single-threaded, so the
    jobs and executions numbered after ``begin`` belong to the call."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        self._status = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._acc = jvm.org.apache.spark.util.AccumulatorContext
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._compiler = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

    def _last_execution_id(self) -> int:
        ex = self._sql.executionsList()
        n = ex.size()
        return ex.apply(n - 1).executionId() if n else -1

    def _jobs(self):
        jobs = self._status.jobsList(None)
        return [jobs.apply(i) for i in range(jobs.size())]

    def begin(self) -> dict:
        """Mark the current point; nested marks are fine."""
        return {
            "job_id": max((j.jobId() for j in self._jobs()), default=-1),
            "exec_id": self._last_execution_id(),
            "compiles": self._codegen.METRIC_COMPILATION_TIME().getCount(),
            "compile_ns": self._compiler.compileTime(),
        }

    def end(self, mark: dict) -> dict:
        """Counters for everything launched since ``mark``."""
        out = {
            "codegen_compiles": self._codegen.METRIC_COMPILATION_TIME().getCount()
            - mark["compiles"],
            "codegen_compile_s": (self._compiler.compileTime() - mark["compile_ns"]) / 1e9,
        }
        out.update(self._stage_counters(mark["job_id"]))
        out["nodes"] = self._node_metrics(mark["exec_id"])
        return out

    def jobs_since(self, mark: dict) -> int:
        return sum(1 for j in self._jobs() if j.jobId() > mark["job_id"])

    def _stage_counters(self, after_job_id: int) -> dict:
        jobs = [j for j in self._jobs() if j.jobId() > after_job_id]
        stage_ids = set()
        for j in jobs:
            ids = j.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        c = dict(jobs=len(jobs), stages=0, tasks=0, task_cpu_s=0.0, task_gc_s=0.0,
                 shuffle_write_bytes=0, shuffle_read_bytes=0, spill_bytes=0)
        for sid in stage_ids:
            try:
                sd = self._status.lastStageAttempt(sid)
            except Exception:  # evicted or never submitted: nothing ran
                continue
            done = sd.numCompleteTasks()
            if done == 0:
                continue  # skipped stage (shuffle output reused)
            c["stages"] += 1
            c["tasks"] += done
            c["task_cpu_s"] += sd.executorCpuTime() / 1e9
            c["task_gc_s"] += sd.jvmGcTime() / 1e3
            c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            c["shuffle_read_bytes"] += sd.shuffleReadBytes()
            c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return c

    def _metric_value(self, metric, formatted) -> float:
        acc = self._acc.get(metric.accumulatorId())
        kind = metric.metricType()
        if acc.isDefined():
            raw = float(acc.get().value())
            if kind == "timing":
                return raw / 1e3
            if kind == "nsTiming":
                return raw / 1e9
            return raw
        text = formatted.get(metric.accumulatorId())
        return _parse_metric_string(text.get()) if text.isDefined() else 0.0

    def _node_metrics(self, after_exec_id: int) -> list[dict]:
        """Python-worker and row metrics of every plan node of the SQL
        executions newer than ``after_exec_id``: [{name, desc, metrics}]."""
        wanted = {PY_RUN, PY_BOOT, PY_INIT, PY_SENT, ROWS_OUT}
        nodes = []
        ex = self._sql.executionsList()
        for i in range(ex.size()):
            e = ex.apply(i)
            eid = e.executionId()
            if eid <= after_exec_id:
                continue
            formatted = self._sql.executionMetrics(eid)
            graph = self._sql.planGraph(eid).allNodes()
            for k in range(graph.size()):
                n = graph.apply(k)
                ms = n.metrics()
                vals = {}
                for m in (ms.apply(j) for j in range(ms.size())):
                    if m.name() in wanted:
                        vals[m.name()] = vals.get(m.name(), 0.0) + self._metric_value(
                            m, formatted
                        )
                if vals:
                    nodes.append({"name": n.name(), "desc": n.desc(), "metrics": vals})
        return nodes


def planning_phases(df) -> dict[str, float]:
    """Seconds per QueryPlanningTracker phase of ``df``'s own
    QueryExecution (analysis, optimization, planning)."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        if p.isDefined():
            p = p.get()
            out[name] = (p.endTimeMs() - p.startTimeMs()) / 1e3
    return out
