"""Spans recorded from outside the library, plus Spark's own counters.

``Recorder`` wraps library functions (``SparkTrainer`` methods,
``Adam.step``) with span recorders. Spans (name, start, end, parent, op
id) stay in memory; a span's self time is its duration minus that of its
child spans. The ``step`` wrapper is on in every run, because the
end-to-end step latency is read from it; the rest record only while
``Recorder.enabled`` is set.

After the timed region, ``spark_counters`` reads the AppStatusStore
(jobs, stages) and the SQLAppStatusStore (per-operator SQL metrics) and
attributes them to ops by job group, or by time window for the jobs a
streaming query runs on its own threads. ``ProgressListener`` keeps the
progress events of streaming queries.
"""

from __future__ import annotations

import functools
import re
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    name: str
    op: int | None
    parent: "Span | None"
    t0: float
    epoch0: float
    t1: float = 0.0
    epoch1: float = 0.0
    child_s: float = 0.0
    result: object = None

    @property
    def wall(self) -> float:
        return self.t1 - self.t0

    @property
    def self_s(self) -> float:
        return self.wall - self.child_s


@dataclass
class Recorder:
    enabled: bool = False
    op: int | None = None
    op_span: Span | None = None
    spans: list = field(default_factory=list)
    _local: threading.local = field(default_factory=threading.local)

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, fn, args, kwargs, keep_result=False):
        stack = self._stack()
        parent = stack[-1] if stack else self.op_span
        s = Span(name, self.op, parent, time.perf_counter(), time.time())
        stack.append(s)
        try:
            out = fn(*args, **kwargs)
            if keep_result:
                s.result = out
            return out
        finally:
            stack.pop()
            s.t1, s.epoch1 = time.perf_counter(), time.time()
            if parent is not None:
                parent.child_s += s.wall
            self.spans.append(s)

    def wrap(self, owner, attr: str, name: str, always=False, keep_result=False):
        fn = getattr(owner, attr)
        rec = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not (always or rec.enabled):
                return fn(*args, **kwargs)
            return rec.span(name, fn, args, kwargs, keep_result)

        setattr(owner, attr, wrapper)

    def begin_op(self, op: int, name: str):
        self.op = op
        self.op_span = Span(name, op, None, time.perf_counter(), time.time())

    def end_op(self) -> Span:
        s = self.op_span
        s.t1, s.epoch1 = time.perf_counter(), time.time()
        self.spans.append(s)
        self.op, self.op_span = None, None
        return s


def instrument(rec: Recorder):
    """Wrap the training layers. ``_evaluate_batch`` is swapped in only
    while ``_job_local`` runs: the distributed ``_job`` ships a closure
    that calls it on the workers, which must get the original."""
    from henbun_spark import model, spark_exec

    T = spark_exec.SparkTrainer
    rec.wrap(T, "fit", "spark_exec.fit")
    rec.wrap(T, "step", "spark_exec.step", always=True)
    rec.wrap(T, "__init__", "spark_exec.init")
    rec.wrap(T, "_job", "spark_exec.job")
    rec.wrap(T, "_fetch_local_batches", "spark_exec.fetch", keep_result=True)
    rec.wrap(T, "_sampled_batches", "spark_exec.sample_replay")
    rec.wrap(T, "_global_terms", "spark_exec.global_terms")
    rec.wrap(model.Adam, "step", "model.adam")
    evaluate = spark_exec._evaluate_batch
    job_local = T._job_local

    def traced_evaluate(*args, **kwargs):
        return rec.span("spark_exec.evaluate_batch", evaluate, args, kwargs)

    @functools.wraps(job_local)
    def traced_job_local(*args, **kwargs):
        if not rec.enabled:
            return job_local(*args, **kwargs)
        spark_exec._evaluate_batch = traced_evaluate
        try:
            return rec.span("spark_exec.job_local", job_local, args, kwargs)
        finally:
            spark_exec._evaluate_batch = evaluate

    T._job_local = traced_job_local


# -- Spark's own counters -----------------------------------------------------

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^\s*([-\d.,]+)\s*([A-Za-z]*)")

#: SQL metric name -> per-layer name; summed over every Python-boundary
#: node (MapInPandas, ArrowEvalPython, FlatMapGroupsInPandasWithState, ...)
PY_METRICS = {
    "time to start Python workers": "pyboundary.start_s",
    "time to initialize Python workers": "pyboundary.init_s",
    "time to run Python workers": "pyboundary.run_s",
    "data sent to Python workers": "pyboundary.bytes_sent",
    "data returned from Python workers": "pyboundary.bytes_returned",
}


def parse_metric(text: str) -> float:
    """Total of one formatted SQL metric: "12", "1,024", "3.1 s",
    "1.5 KiB", or the "total (min, med, max ...)\\n<total> (...)" form.
    Times come back in seconds, sizes in bytes."""
    line = text.strip().splitlines()[-1]
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _seq(x) -> list:
    return [x.apply(i) for i in range(x.size())]


def _opt_s(opt) -> float | None:
    return opt.get().getTime() / 1e3 if opt.isDefined() else None


def drain_listener_bus(sc):
    try:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
    except Exception:
        time.sleep(1.0)


def spark_counters(spark, ops: list, group_prefix: str) -> list:
    """Per-op JVM, shuffle, source and Python-boundary counters.

    ``ops`` holds (op id, epoch start, epoch end). A job tagged with
    ``<group_prefix><op id>`` belongs to that op; an untagged job belongs
    to the op whose window holds its submission time. Returns one dict
    of counters per op; its "intervals" are the op's job spans in epoch
    seconds, for the driver residual."""
    sc = spark.sparkContext
    drain_listener_bus(sc)
    store = sc._jsc.sc().statusStore()

    def owner(group: str | None, t: float | None):
        if group and group.startswith(group_prefix):
            op = int(group[len(group_prefix):])
            return op if any(o == op for o, _, _ in ops) else None
        if t is None:
            return None
        for op, t0, t1 in ops:
            if t0 <= t <= t1:
                return op
        return None

    out = {op: {"jobs": 0, "stages": 0, "intervals": [], **dict.fromkeys(
        ["tasks", "result_bytes", "run_s", "cpu_s", "gc_s", "shuffle_write",
         "shuffle_read", "fetch_wait_s", "input_bytes", "input_rows"], 0.0),
        **dict.fromkeys(PY_METRICS.values(), 0.0)} for op, _, _ in ops}
    stage_op = {}
    for job in _seq(store.jobsList(None)):
        group = job.jobGroup().get() if job.jobGroup().isDefined() else None
        t0, t1 = _opt_s(job.submissionTime()), _opt_s(job.completionTime())
        op = owner(group, t0)
        if op is None:
            continue
        out[op]["jobs"] += 1
        if t0 is not None and t1 is not None:
            out[op]["intervals"].append((t0, t1))
        for sid in _seq(job.stageIds()):
            stage_op[sid] = op
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    for st in _seq(store.stageList(None, False, False, no_quantiles, None)):
        op = stage_op.get(st.stageId())
        if op is None or st.numCompleteTasks() == 0:
            continue
        c = out[op]
        c["stages"] += 1
        c["tasks"] += st.numCompleteTasks()
        c["result_bytes"] += st.resultSize()
        c["run_s"] += st.executorRunTime() / 1e3
        c["cpu_s"] += st.executorCpuTime() / 1e9
        c["gc_s"] += st.jvmGcTime() / 1e3
        c["shuffle_write"] += st.shuffleWriteBytes()
        c["shuffle_read"] += st.shuffleReadBytes()
        c["fetch_wait_s"] += st.shuffleFetchWaitTime() / 1e3
        c["input_bytes"] += st.inputBytes()
        c["input_rows"] += st.inputRecords()
    sql = spark._jsparkSession.sharedState().statusStore()
    for ex in _seq(sql.executionsList()):
        op = owner(None, ex.submissionTime() / 1e3)
        if op is None:
            continue
        values = ex.metricValues()
        if values is None:
            continue
        for m in _seq(ex.metrics()):
            name = PY_METRICS.get(m.name())
            if name is None:
                continue
            v = values.get(m.accumulatorId())
            if v.isDefined():
                out[op][name] += parse_metric(v.get())
    return [out[op] for op, _, _ in ops]


def union_s(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class ProgressListener(StreamingQueryListener):
    """Keeps (epoch of trigger start, durationMs, state rows) for every
    micro-batch of every streaming query."""

    def __init__(self):
        self.batches = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        t = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
        rows = sum(s.numRowsTotal for s in p.stateOperators)
        self.batches.append((t.timestamp(), dict(p.durationMs), rows))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass
