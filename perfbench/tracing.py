"""Spans and Spark status-store readings for the traced run (``--trace 1``).

Everything here observes the engine from outside:

- ``Tracer`` records spans (name, start, end, parent, operation id) in
  memory around the benchmark's own calls into each layer; a disabled
  tracer records nothing.
- ``SparkProbe`` reads Spark's in-process status stores through Py4J:
  the ``AppStatusStore`` for jobs, stages and task metrics, and the SQL
  status store for the Python-eval nodes' metrics.
- ``plan_listener`` registers a ``QueryExecutionListener`` that reports
  the Catalyst phase times of every query execution that ran (the sink's
  write command, ``head()``'s ``limit(1).collect()``), read from that
  execution's own tracker: nothing is planned a second time.
- ``batch_listener`` builds a ``StreamingQueryListener`` that keeps every
  micro-batch progress report.

Span names are ``<layer>.<what>``; a layer's self time is its spans'
duration minus the part covered by their child spans.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


class Tracer:
    """In-memory span recorder; parents follow a per-thread stack."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        # wall clock ↔ perf_counter offset, for listener timestamps
        self.epoch = time.time() - time.perf_counter()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        """Time the block as span ``name`` of operation ``op`` (default:
        the enclosing span's operation)."""
        if not self.enabled:
            yield
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            if op is None and parent is not None:
                op = self.spans[parent].op
            idx = len(self.spans)
            self.spans.append(Span(name, time.perf_counter(), 0.0, parent, op))
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx].end = time.perf_counter()

    def add(self, name: str, start: float, end: float, parent: int | None, op: int | None) -> None:
        """Record a span measured elsewhere (a listener's batch report)."""
        if self.enabled:
            with self._lock:
                self.spans.append(Span(name, start, end, parent, op))

    def self_times(self) -> dict[str, float]:
        """Summed self time per layer (span-name prefix)."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            covered, reach = 0.0, s.start
            for c in sorted(children.get(i, ()), key=lambda c: c.start):
                lo, hi = max(c.start, reach), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    reach = hi
            layer = s.name.split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s.end - s.start) - covered
        return out

    def dump(self) -> list[dict]:
        return [vars(s) for s in self.spans]


#: per-stage metric → output key (all summed over non-skipped attempts)
_STAGE_FIELDS = {
    "numTasks": "tasks",
    "numFailedTasks": "failed_tasks",
    "executorRunTime": "executor_run_ms",
    "executorCpuTime": "executor_cpu_ns",
    "jvmGcTime": "gc_ms",
    "inputBytes": "input_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "spill_bytes",
    "diskBytesSpilled": "spill_bytes",
    "outputBytes": "output_bytes",
}

_UDF_NODE_MARKS = ("Python", "Pandas", "InArrow", "PySpark")
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _metric_number(text: str) -> float:
    """A SQL-metric display string → number: ``"1,234"`` or the total
    line of a size metric (``"total (min, med, max …)\\n1.2 MiB (…)"``)."""
    line = text.split("\n")[-1].split(" (")[0].strip()
    parts = line.replace(",", "").split()
    if not parts:
        return 0.0
    scale = _SIZE_UNITS.get(parts[1], 1) if len(parts) > 1 else 1
    return float(parts[0]) * scale


class SparkProbe:
    """Counters read from the driver JVM's status stores."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        gw = sc._gateway
        self._stage_args = (
            False,
            gw.jvm.java.util.ArrayList(),
            False,
            gw.new_array(gw.jvm.double, 0),
        )
        self._accumulators = gw.jvm.org.apache.spark.util.AccumulatorContext
        # a later job lists a stage it reuses from an earlier one
        self._counted: set[int] = set()

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self._bus.waitUntilEmpty()

    def job_mark(self) -> int:
        """Id the next job will get (job ids are sequential)."""
        return self._dag.numTotalJobs()

    def sql_mark(self) -> int:
        """Id the next SQL execution will get."""
        n = self._sql.executionsCount()
        if n == 0:
            return 0
        return self._sql.executionsList(n - 1, 1).apply(0).executionId() + 1

    def jobs(self, lo: int, hi: int) -> dict[str, float]:
        """Stage and task totals over jobs ``lo`` … ``hi - 1``."""
        out = {v: 0.0 for v in _STAGE_FIELDS.values()}
        out.update(jobs=float(hi - lo), stages=0.0, skipped_stages=0.0)
        for job_id in range(lo, hi):
            try:
                job = self._store.job(job_id)
            except Py4JJavaError:  # evicted from the store
                continue
            out["skipped_stages"] += job.numSkippedStages()
            ids = job.stageIds()
            for k in range(ids.size()):
                stage_id = ids.apply(k)
                if stage_id in self._counted:
                    continue
                self._counted.add(stage_id)
                attempts = self._store.stageData(stage_id, *self._stage_args)
                for a in range(attempts.size()):
                    stage = attempts.apply(a)
                    if stage.status().toString() == "SKIPPED":
                        continue
                    out["stages"] += 1
                    for field, key in _STAGE_FIELDS.items():
                        out[key] += getattr(stage, field)()
        return out

    def udf(self, lo: int, hi: int) -> dict[str, float]:
        """Rows and bytes across the Python-eval nodes of SQL executions
        ``lo`` … ``hi - 1``."""
        out = {"rows": 0.0, "bytes_sent": 0.0, "bytes_received": 0.0}
        names = {
            "data sent to Python workers": "bytes_sent",
            "data returned from Python workers": "bytes_received",
        }
        for eid in range(lo, hi):
            try:
                nodes = self._sql.planGraph(eid).allNodes()
                it = self._sql.executionMetrics(eid).iterator()
            except Py4JJavaError:
                continue
            # keys are boxed Longs: a lookup with a Python int would miss
            values = {}
            while it.hasNext():
                pair = it.next()
                values[pair._1()] = pair._2()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                if not any(m in node.name() for m in _UDF_NODE_MARKS):
                    continue
                metrics = node.metrics()
                rows = 0.0
                for m in range(metrics.size()):
                    metric = metrics.apply(m)
                    acc_id = metric.accumulatorId()
                    if acc_id in values:
                        number = _metric_number(values[acc_id])
                    else:
                        # a micro-batch's metrics often never reach the
                        # SQL store; its live accumulator still holds them
                        live = self._accumulators.get(acc_id)
                        if not live.isDefined():
                            continue
                        number = float(live.get().value())
                    if metric.name() == "number of output rows":
                        rows = max(rows, number)
                    elif metric.name() in names:
                        out[names[metric.name()]] += number
                out["rows"] += rows
        return out



def plan_listener(spark, tracer: Tracer, on_plan) -> None:
    """Register a ``QueryExecutionListener`` that hands ``on_plan`` the
    Catalyst phases of each query execution that completes, as
    ``{phase: (start, end)}`` on the tracer's clock. It is called on a
    listener thread; its own cost is recorded as a ``trace`` span."""
    from pyspark.java_gateway import ensure_callback_server_started

    ensure_callback_server_started(spark.sparkContext._gateway)

    class PlanListener:
        def onSuccess(self, func_name, qe, duration_ns) -> None:
            with tracer.span("trace.plan_read"):
                phases = qe.tracker().phases()
                out = {}
                for name in ("analysis", "optimization", "planning"):
                    summary = phases.get(name)
                    if summary.isDefined():
                        summary = summary.get()
                        out[name] = (
                            summary.startTimeMs() / 1e3 - tracer.epoch,
                            summary.endTimeMs() / 1e3 - tracer.epoch,
                        )
            on_plan(out)

        def onFailure(self, func_name, qe, exception) -> None:
            pass

        class Java:
            implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    spark._jsparkSession.listenerManager().register(PlanListener())


def batch_listener(on_progress):
    """A ``StreamingQueryListener`` that hands each progress report to
    ``on_progress``. Built lazily: importing pyspark's streaming module
    is only needed by the traced run."""
    from pyspark.sql.streaming import StreamingQueryListener

    class BatchListener(StreamingQueryListener):
        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            on_progress(event.progress)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return BatchListener()


def tree_bytes(root: str) -> int:
    """Total size of the files under ``root``."""
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total
