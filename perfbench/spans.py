"""Spans and Spark-side layer counters for the traced run.

Spans are kept in memory: (name, parent, start, end). A span's self
time is its duration minus the part of its interval its children
cover. Spark's own bookkeeping supplies the layers below the Python
calls, read once per operation after it completes:

- the query tracker of an action's QueryExecution (Catalyst analysis,
  optimization and planning times);
- the always-on status store (jobs of the operation's job group, and
  per stage its run, CPU and GC time, shuffle bytes, spill and input
  records);
- the SQL status store (per-node SQL metrics of the Python operators).

Nothing here changes the package: functions are wrapped from the
outside and the wrappers are removed when tracing stops.
"""

from __future__ import annotations

import os
import re
import time
from collections import defaultdict
from contextlib import contextmanager

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_PY_METRICS = {
    "data sent to Python workers": "py.to_worker_bytes",
    "data returned from Python workers": "py.from_worker_bytes",
    "time to run Python workers": "py.worker_run_s",
    "number of output rows": "py.rows_received",
}


def parse_metric(text: str) -> float:
    """A SQL metric's display string as a number (bytes, seconds or a
    count). Multi-task metrics print 'total (min, med, max ...)\\n<total>
    (...)'; the total is the first value on the last line."""
    line = text.strip().splitlines()[-1]
    head = line.split(" (")[0].strip().replace(",", "")
    parts = head.split()
    if len(parts) == 2 and parts[1] in _UNITS:
        return float(parts[0]) * _UNITS[parts[1]]
    return float(parts[0]) if parts else 0.0


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def union_s(intervals: list[tuple[float, float]], lo: float = float("-inf"),
            hi: float = float("inf")) -> float:
    """Length of the union of [start, end) intervals, clipped to [lo, hi)."""
    total, cur_s, cur_e = 0.0, None, None
    clipped = [(max(s, lo), min(e, hi)) for s, e in intervals]
    for s, e in sorted((s, e) for s, e in clipped if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Collects spans and per-operation Spark counters.

    While `enabled` is False spans are not recorded and wrapped
    functions call straight through.
    """

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        # extra per-operation values an operation records for the runner
        self.layers: dict[str, float] = {}
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self._last_execution = -1

    # -- spans ---------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        # epoch seconds, comparable with the JVM's stage timestamps
        rec = {"id": sid, "name": name, "parent": parent, "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Self time per span name, summed."""
        kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["end"] is None:
                continue
            out[s["name"]] += (s["end"] - s["start"]) - union_s(kids[s["id"]])
        return out

    def totals(self) -> dict[str, list[float]]:
        """Wall time of every span, grouped by name."""
        out: dict[str, list[float]] = defaultdict(list)
        for s in self.spans:
            if s["end"] is not None:
                out[s["name"]].append(s["end"] - s["start"])
        return out

    # -- wrapping package functions ------------------------------------
    def wrap(self, module, attr: str, span_name: str, count: str | None = None) -> None:
        """Replace `module.attr` with a wrapper that records a span (and
        counts calls) while tracing is enabled, until `unwrap`."""
        fn = getattr(module, attr)
        tracer = self

        def wrapper(*a, **kw):
            if not tracer.enabled:
                return fn(*a, **kw)
            if count:
                tracer.counters[count] += 1
            with tracer.span(span_name):
                return fn(*a, **kw)

        self._patched.append((module, attr, fn))
        setattr(module, attr, wrapper)

    def wrap_everywhere(self, package: str, fn, span_name: str, count: str | None = None) -> None:
        """Wrap every module-level reference to `fn` inside `package`
        (callers that did `from x import fn` hold their own name)."""
        import sys

        for name, mod in list(sys.modules.items()):
            if mod is None or not (name == package or name.startswith(package + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    self.wrap(mod, attr, span_name, count)

    def unwrap(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()

    # -- Spark-side layers ---------------------------------------------
    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def mark(self) -> None:
        """Forget SQL executions that ran before now (set-up, warm-up,
        untraced operations, checks), whether or not tracing is on."""
        ex = self._sql_store().executionsList()
        if ex.size():
            self._last_execution = ex.apply(ex.size() - 1).executionId()

    def catalyst(self, df) -> dict[str, float]:
        """Tracker phases (ms) and AQE query stages of an executed
        DataFrame's QueryExecution."""
        qe = df._jdf.queryExecution()
        out = {"catalyst.analysis_ms": 0.0, "catalyst.optimization_ms": 0.0, "catalyst.planning_ms": 0.0}
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            key = f"catalyst.{kv._1()}_ms"
            if key in out:
                out[key] += float(kv._2().durationMs())
        plan = qe.executedPlan().toString()
        out["catalyst.aqe_replans"] = float(len(re.findall(r"\w+QueryStage \d+", plan)))
        return out

    def harvest(self, group: str) -> tuple[dict[str, float], list[tuple[float, float]]]:
        """Execution counters of every job tagged `group` and every SQL
        execution since `mark`, and the (start, end) epoch
        seconds of each completed stage."""
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        m: dict[str, float] = defaultdict(float)
        intervals = []
        for jid in sc.statusTracker().getJobIdsForGroup(group):
            m["exec.jobs"] += 1
            for sid in _seq(store.job(jid).stageIds()):
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() != "COMPLETE":
                    continue
                m["exec.stages"] += 1
                m["exec.tasks"] += sd.numTasks()
                m["exec.single_task_stages"] += sd.numTasks() == 1
                m["exec.run_s"] += sd.executorRunTime() / 1e3
                m["exec.cpu_s"] += sd.executorCpuTime() / 1e9
                m["exec.gc_s"] += sd.jvmGcTime() / 1e3
                m["exec.shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
                m["exec.shuffle_read_mb"] += sd.shuffleReadBytes() / 2**20
                m["exec.spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 2**20
                m["exec.input_rows"] += sd.inputRecords()
                if sd.submissionTime().isDefined() and sd.completionTime().isDefined():
                    intervals.append((sd.submissionTime().get().getTime() / 1e3,
                                      sd.completionTime().get().getTime() / 1e3))
        self._sql_metrics(m)
        return m, intervals

    def _sql_metrics(self, m: dict[str, float]) -> None:
        sq = self._sql_store()
        ex = sq.executionsList()
        for i in range(ex.size() - 1, -1, -1):
            eid = ex.apply(i).executionId()
            if eid <= self._last_execution:
                break
            values = sq.executionMetrics(eid)
            for node in _seq(sq.planGraph(eid).allNodes()):
                if not any(k in node.name() for k in ("Python", "Pandas", "Arrow")):
                    continue
                for metric in _seq(node.metrics()):
                    key = metric.name()
                    if key in _PY_METRICS:
                        v = values.get(metric.accumulatorId())
                        if v.isDefined():
                            m[_PY_METRICS[key]] += parse_metric(v.get())


def dir_files(path: str) -> dict[str, int]:
    """{relative path: size} of every file under `path`."""
    out = {}
    for root, _dirs, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            try:
                out[os.path.relpath(p, path)] = os.path.getsize(p)
            except OSError:
                pass
    return out
