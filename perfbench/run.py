#!/usr/bin/env python3
"""Layered benchmark of the pricing/analytics engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload in one fresh Spark session on ``local[nproc]`` and
prints, as the last stdout line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones (timed with tracing off); with
``--trace 1`` they are the per-layer ones, from spans recorded around
the calls into each layer and from Spark's status stores (see
``tracing.py`` and README.md). The line before it is a detail record
(seed, sample counts, failed share, per-operation times).

Workloads (closed loops from one process; see README.md for why each
was chosen and which layer metric should move which end-to-end metric):

- ``price_serve``: 2 client threads call ``operators.pricing.score_one``
  (the ``GET /price`` twin) over cached sf0.1 dimensions.
- ``stream_etl_sf0.1``, ``curation_sf0.1``, ``relational_sf1``: one
  client runs a fixed query list in seeded order through the noop sink,
  whole passes until ``--seconds`` have elapsed.

Inputs come from ``gen.py`` (tables from a fixed data seed, request mix
and query order from ``--seed``). Every answer is checked after the
timed window and after the peak-RSS reading: each query's result,
collected in the set-up pass, against its DuckDB oracle twin; price
answers against the batch scorer and the oracle's batch price.
Everything the run writes stays under ``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PACKAGE = "public_projet_data_engineering_tarification_electrique_spark"

#: the reference's load-test SLA for one ``GET /price`` answer
SLA_S = 6.0
#: untimed requests per client before the price_serve window
WARM_REQUESTS = 8


@dataclass(frozen=True)
class Workload:
    kind: str  # "serve" or "queries"
    sf: float
    queries: tuple[str, ...] = ()
    clients: int = 1
    replicate: bool = False  # data = sf × 10 via tools/make_sf1.py


WORKLOADS = {
    "price_serve": Workload("serve", 0.1, clients=2),
    # the ETL/write-path core of the stream family: batch bootstrap,
    # MERGE upsert, stream upsert, CDC feed and a Python-UDF stateful
    # stream. The whole family is "stream_etl_all_sf0.1" (one pass
    # ≈ 60-85 s on 4 cores).
    "stream_etl_sf0.1": Workload(
        "queries",
        0.1,
        ("q10", "q229", "q116", "q241", "q214"),
    ),
    "stream_etl_all_sf0.1": Workload(
        "queries",
        0.1,
        (
            "q10", "q08", "q19", "q116", "q229", "q234", "q235", "q241",
            "q28", "q214", "q230", "q232", "q91", "q92", "q270", "q98",
            "q239",
        ),
    ),
    "curation_sf0.1": Workload(
        "queries",
        0.1,
        (
            "q16", "q47", "q83", "q110", "q134", "q195", "q211", "q256",
            "q304", "q316", "q14", "q322", "q323", "q308",
        ),
    ),
    "relational_sf1": Workload(
        "queries",
        0.1,
        (
            "q01", "q02", "q03", "q09", "q23", "q30", "q41", "q59", "q60",
            "q74", "q75", "q93", "q113", "q121", "q122", "q123", "q124",
            "q125", "q126", "q128", "q309", "q311", "q320", "q321",
        ),
        replicate=True,
    ),
}

E2E_UNITS = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
}


def _prepare_env() -> str:
    """Run hygiene, set before pyspark is imported: every scratch path
    in a per-run directory under .work (returned; the caller removes
    it), all cores, a driver heap that fits a 15 GB host, the stream
    family at bench.py's micro-batch count."""
    tmp = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM (launcher and driver): temp files and no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_STREAM_SLICES"] = "4"
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    return tmp


def _vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def _reset_peak_rss() -> bool:
    """Restart this process's VmHWM at its current RSS, so the peak
    leaves out the input generation and oracle set-up before it."""
    try:
        with open("/proc/self/clear_refs", "w") as fh:
            fh.write("5")
        return True
    except OSError:
        return False


def _descendants(pid: int) -> list[int]:
    parents: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            parents.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        kids = parents.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until each process has ended."""
    proc = spark.sparkContext._gateway.proc
    workers = _descendants(proc.pid)
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def _percentile(values: list[float], q: int) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


@dataclass
class Op:
    """One timed operation: a query built and run, or one request."""

    name: str
    latency: float = 0.0
    error: str | None = None  # raised, or answered wrongly
    late: bool = False  # a request over the SLA
    construct_s: float = 0.0
    execute_s: float = 0.0
    layers: dict = field(default_factory=dict)

    @property
    def failed(self) -> bool:
        return self.error is not None or self.late


def _add(into: dict, prefix: str, values: dict) -> None:
    for k, v in values.items():
        into[f"{prefix}{k}"] = into.get(f"{prefix}{k}", 0.0) + v


class Bench:
    """One workload run: inputs, one session, set-up, timed window,
    checks, metrics."""

    def __init__(self, args, wl: Workload) -> None:
        import gen
        import oracle
        import tracing

        from public_projet_data_engineering_tarification_electrique_spark.sources.tables import (
            TESTDATA_TABLES,
        )

        self.args, self.wl, self.tracing, self.oracle = args, wl, tracing, oracle
        self.tracer = tracing.Tracer(args.trace == 1)
        sf = args.sf if args.sf is not None else wl.sf
        data = os.path.join(WORK, "data")
        self.sf_dir = (
            gen.make_sf1(data, REPO, sf) if wl.replicate else gen.make_tables(data, sf)
        )
        if wl.kind == "serve":
            self.requests = gen.price_requests(self.sf_dir, args.seed, 4096)
        self.con = oracle.connect(self.sf_dir, TESTDATA_TABLES)
        self.gen = gen
        self.ops: list[Op] = []
        self.batches: list = []
        self.plans: list[dict] = []
        self.results: dict[str, object] = {}  # query → pandas frame or error
        self.probe = None

    # -- set-up -------------------------------------------------------

    def setup(self) -> None:
        t0 = time.perf_counter()
        from public_projet_data_engineering_tarification_electrique_spark import (
            get_spark,
        )

        self.spark = get_spark(
            app_name=f"perfbench-{self.args.workload}",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(os.environ["TMPDIR"], "warehouse"),
            },
        )
        t1 = time.perf_counter()
        from public_projet_data_engineering_tarification_electrique_spark.plans import (
            registry,
        )

        t2 = time.perf_counter()
        self.registry = registry
        self.layer_setup = {
            "session.get_spark_s": t1 - t0,
            "registry.import_s": t2 - t1,
        }
        self.fns = {
            n.split("_", 1)[0]: getattr(registry, n)
            for n in dir(registry)
            if n[0] == "q" and n.split("_", 1)[0][1:].isdigit()
        }
        if self.wl.kind == "serve":
            self._setup_serve()
        else:
            # one untimed pass in list order: first calls cost more than
            # later ones (JIT, codegen, the micro-batch and Python-worker
            # start-up), and a seeded order would hand that cost to
            # whichever query a seed puts first. It also collects each
            # result (≤ 1.3 MB at sf0.1) for the oracle check, which runs
            # after the window: building every query once more for the
            # check would add ~12 s to a run.
            for name in self.wl.queries:
                try:
                    self.results[name] = self.fns[name](self.spark, self.sf_dir).toPandas()
                except Exception as exc:
                    self.results[name] = exc
                self._release()
        self.setup_s = time.perf_counter() - t0
        self.layer_setup["setup.warmup_s"] = self.setup_s - (t2 - t0)
        if self.tracer.enabled:
            self.probe = self.tracing.SparkProbe(self.spark)
            self.spark.streams.addListener(
                self.tracing.batch_listener(self.batches.append)
            )
            self.tracing.plan_listener(self.spark, self.tracer, self.plans.append)

    def _setup_serve(self) -> None:
        from public_projet_data_engineering_tarification_electrique_spark.operators import (
            pricing,
        )
        from public_projet_data_engineering_tarification_electrique_spark.plans.constants import (
            ALPHA_YEAR,
            RUN_DATE,
        )

        reg = self.registry
        self.pricing = pricing
        self.dims = (
            reg._daily_region(self.spark, self.sf_dir).persist(),
            reg._annual_city(
                self.spark, self.sf_dir, year_range=(ALPHA_YEAR, ALPHA_YEAR + 1)
            ).persist(),
            RUN_DATE,
            ALPHA_YEAR,
        )
        t0 = time.perf_counter()
        for dim in self.dims[:2]:
            dim.count()
        self.layer_setup["setup.dims_s"] = time.perf_counter() - t0
        # the clients themselves warm up: driver-side planning code is
        # still being compiled for the first ~10 requests of each client
        warm = self.requests[-WARM_REQUESTS * self.wl.clients :]

        def warm_client(part: list[dict]) -> None:
            for req in part:
                try:
                    pricing.score_one(self.spark, req, *self.dims)
                except Exception:  # the timed window records failures
                    pass

        threads = [
            threading.Thread(target=warm_client, args=(warm[k :: self.wl.clients],))
            for k in range(self.wl.clients)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()

    # -- timed window -------------------------------------------------

    @staticmethod
    def _noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def _release(self) -> None:
        # as bench.py: drop persisted intermediates, and let the
        # ContextCleaner free localCheckpoint blocks of dead frames
        self.spark.catalog.clearCache()
        gc.collect()

    def run_queries(self) -> float:
        """Whole passes in seeded order until ``--seconds`` of timed
        operations; returns the timed window (sum of operation times)."""
        window, n_pass = 0.0, 0
        while n_pass == 0 or window < self.args.seconds:
            order = self.gen.query_order(
                list(self.wl.queries), self.args.seed * 1000 + n_pass
            )
            for name in order:
                window += self._query_op(name)
            n_pass += 1
        return window

    def _query_op(self, name: str) -> float:
        tr, probe, oid = self.tracer, self.probe, len(self.ops)
        op = Op(name)
        self.ops.append(op)
        fn = self.fns[name]
        df = t1 = None
        if probe:
            j0, e0 = probe.job_mark(), probe.sql_mark()
            marks = (len(self.batches), len(self.plans), self._scratch_bytes())
        t0 = time.perf_counter()
        try:
            with tr.span("op", oid):
                with tr.span("registry.construct"):
                    df = fn(self.spark, self.sf_dir)
                t1 = time.perf_counter()
                if probe:
                    j1 = probe.job_mark()
                with tr.span("exec.sink"):
                    self._noop(df)
        except Exception as exc:  # a failed operation is counted, not fatal
            op.error = f"{type(exc).__name__}: {str(exc)[:300]}"
            t1 = t1 or time.perf_counter()
        t2 = time.perf_counter()
        op.latency, op.construct_s, op.execute_s = t2 - t0, t1 - t0, t2 - t1
        if probe and op.error is None:
            with tr.span("trace.collect", oid):
                self._collect_query_layers(op, oid, j0, j1, e0, marks)
        del df
        self._release()
        return op.latency

    def _scratch_bytes(self) -> int:
        from public_projet_data_engineering_tarification_electrique_spark.operators.util import (
            scratch_root,
        )

        return self.tracing.tree_bytes(scratch_root())

    def _collect_query_layers(self, op: Op, oid: int, j0, j1, e0, marks) -> None:
        probe, L = self.probe, op.layers
        b0, p0, bytes0 = marks
        probe.settle()
        j2, e2 = probe.job_mark(), probe.sql_mark()
        L["registry.construct_s"] = op.construct_s
        L["registry.construct_jobs"] = j1 - j0
        L["exec.execute_s"] = op.execute_s
        stats = probe.jobs(j0, j2)
        stats["jobs"] = j2 - j1
        _add(L, "exec.", stats)
        _add(L, "udf.", probe.udf(e0, e2))
        sink = [
            i for i, s in enumerate(self.tracer.spans)
            if s.op == oid and s.name == "exec.sink"
        ]
        self._add_plans(L, self.plans[p0:], sink)
        self._collect_batches(op, oid, b0)
        # what this operation added to the package's scratch tree
        # (landing, emitted and checkpoint directories)
        L["stream.checkpoint_bytes"] = self._scratch_bytes() - bytes0

    def _add_plans(self, into: dict, plans: list[dict], parents: list[int]) -> None:
        """Catalyst phases of the executions that began inside one of the
        ``parents`` spans (the sink, or ``head()`` calls): summed into
        ``into`` and recorded as child spans. Executions that began
        elsewhere, such as those inside construction, are left out."""
        spans = self.tracer.spans
        for phases in plans:
            if not phases:
                continue
            start = min(a for a, _ in phases.values())
            parent = next(
                # the JVM's phase clock ticks in milliseconds
                (i for i in parents if spans[i].start - 1e-3 <= start <= spans[i].end),
                None,
            )
            if parent is None:
                continue
            for phase, (a, b) in phases.items():
                _add(into, "catalyst.", {f"{phase}_s": b - a})
                self.tracer.add(f"catalyst.{phase}", a, b, parent, spans[parent].op)

    def _collect_batches(self, op: Op, oid: int, b0: int) -> None:
        import datetime as dt

        L = op.layers
        spans = [
            i
            for i, s in enumerate(self.tracer.spans)
            if s.op == oid and s.name in ("registry.construct", "exec.sink")
        ]
        state_rows = state_mem = 0.0
        for p in self.batches[b0:]:
            d = p.durationMs
            start = (
                dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
                - self.tracer.epoch
            )
            end = start + d.get("triggerExecution", 0) / 1e3
            parent = next(
                (i for i in spans if self.tracer.spans[i].start <= start <= self.tracer.spans[i].end),
                spans[0] if spans else None,
            )
            self.tracer.add("stream.batch", start, end, parent, oid)
            _add(
                L,
                "stream.",
                {
                    "batches": 1,
                    "batch_s": d.get("triggerExecution", 0) / 1e3,
                    "add_batch_s": d.get("addBatch", 0) / 1e3,
                    "planning_s": d.get("queryPlanning", 0) / 1e3,
                    "commit_s": (d.get("commitOffsets", 0) + d.get("walCommit", 0)) / 1e3,
                    "input_rows": p.numInputRows,
                    "state_commit_s": sum(s.commitTimeMs for s in p.stateOperators) / 1e3,
                },
            )
            state_rows = max(state_rows, sum(s.numRowsTotal for s in p.stateOperators))
            state_mem = max(state_mem, sum(s.memoryUsedBytes for s in p.stateOperators))
        L["stream.state_rows"] = state_rows
        L["stream.state_mem_bytes"] = state_mem

    def run_serve(self) -> float:
        """``clients`` closed-loop threads for ``--seconds``; returns the
        wall time from the first request to the last answer."""
        tr, probe = self.tracer, self.probe
        lock = threading.Lock()
        self.answers: dict[int, object] = {}
        local = threading.local()
        frame = type(self.dims[0])  # the concrete (classic) DataFrame class
        head = frame.head
        if tr.enabled:

            def traced_head(df, *a, **k):
                if getattr(local, "inside", False):  # head() calls head(1)
                    return head(df, *a, **k)
                local.inside = True
                try:
                    with tr.span("exec.head"):
                        return head(df, *a, **k)
                finally:
                    local.inside = False

            frame.head = traced_head
            j0, e0, p0 = probe.job_mark(), probe.sql_mark(), len(self.plans)
        start = time.perf_counter()
        deadline = start + self.args.seconds
        crashed: list[BaseException] = []

        def request(i: int, op: Op) -> None:
            req = self.requests[i % len(self.requests)]
            t0 = time.perf_counter()
            try:
                with tr.span("pricing.score_one", i):
                    self.answers[i] = self.pricing.score_one(self.spark, req, *self.dims)
            except Exception as exc:  # counted as a failed request
                op.error = f"{type(exc).__name__}: {str(exc)[:300]}"
            op.latency = time.perf_counter() - t0
            op.late = op.latency > SLA_S

        def client() -> None:
            try:
                while time.perf_counter() < deadline:
                    with lock:
                        i = len(self.ops)
                        op = Op("price", layers={"req": i})
                        self.ops.append(op)
                    request(i, op)
            except BaseException as exc:  # re-raised by the main thread
                crashed.append(exc)

        threads = [threading.Thread(target=client) for _ in range(self.wl.clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        frame.head = head
        if crashed:
            raise crashed[0]
        window = time.perf_counter() - start
        if tr.enabled:
            probe.settle()
            j1, e1 = probe.job_mark(), probe.sql_mark()
            self.window_layers = {
                **{f"exec.{k}": v for k, v in probe.jobs(j0, j1).items()},
                **{f"udf.{k}": v for k, v in probe.udf(e0, e1).items()},
            }
            heads = [i for i, s in enumerate(tr.spans) if s.name == "exec.head"]
            self._add_plans(self.window_layers, self.plans[p0:], heads)
        return window

    def check_queries(self) -> None:
        """Each query's result from the set-up pass against its DuckDB
        oracle twin; a wrong answer fails every timed operation of that
        query."""
        for name in self.wl.queries:
            fn, got = self.fns[name], self.results[name]
            if isinstance(got, Exception):
                bad = f"set-up pass raised {type(got).__name__}: {str(got)[:300]}"
            else:
                try:
                    bad = self.oracle.mismatch(
                        got, self.con, self.registry.ORACLE_SQL[fn.__name__]
                    )
                except Exception as exc:
                    bad = f"check raised {type(exc).__name__}: {str(exc)[:300]}"
            if bad:
                for op in self.ops:
                    if op.name == name and op.error is None:
                        op.error = f"{fn.__name__}: {bad}"

    def check_serve(self) -> None:
        """Each answer against the batch scorer's row for the same
        request, and against the oracle's batch price."""
        from pyspark.sql import types as T

        from public_projet_data_engineering_tarification_electrique_spark.schemas import (
            PRICING_REQUEST,
        )

        done = [op for op in self.ops if op.error is None]
        if not done:
            return
        schema = T.StructType(
            [T.StructField(f.name, f.dataType, True) for f in PRICING_REQUEST.fields]
            + [T.StructField("req_id", T.LongType(), False)]
        )
        rows = []
        for op in done:
            i = op.layers["req"]
            req = self.requests[i % len(self.requests)]
            rows.append(tuple(req[f.name] for f in PRICING_REQUEST.fields) + (i,))
        batch = {
            r.req_id: (r.status, r.price)
            for r in self.pricing.score_requests_with_status(
                self.spark.createDataFrame(rows, schema), *self.dims
            )
            .select("req_id", "status", "price")
            .collect()
        }
        oracle_rows = self.con.execute(
            f"SELECT code_commune, conso30, alpha, price FROM "
            f"({self.registry.ORACLE_SQL['q09_price_batch']})"
        ).fetchall()
        by_code = {r[0]: r[1:] for r in oracle_rows}
        for op in done:
            i = op.layers["req"]
            req = self.requests[i % len(self.requests)]
            got = (self.answers[i].status, self.answers[i].price)
            if None in req.values():
                want = ("missing_field", None)
            else:
                conso30, alpha, price = by_code[req["code_commune"]]
                want = (
                    ("unknown_region", None) if conso30 is None
                    else ("unknown_city", None) if alpha is None
                    else ("ok", price)
                )
            if got != batch[i] or got != want:
                op.error = f"request {i}: answer {got}, batch {batch[i]}, oracle {want}"

    # -- results ------------------------------------------------------

    def metrics(self, window: float, peak_rss_mb: float) -> dict[str, float]:
        lat = [op.latency for op in self.ops]
        good = sum(not op.failed for op in self.ops)
        return {
            "setup_s": self.setup_s,
            "latency_p50_s": statistics.median(lat),
            "latency_p90_s": _percentile(lat, 90),
            "ops_per_s": good / window,
            "peak_rss_mb": peak_rss_mb,
        }

    def layer_metrics(self, e2e: dict[str, float]) -> dict[str, float]:
        n = len(self.ops)
        total: dict[str, float] = {}
        for op in self.ops:
            _add(total, "", {k: v for k, v in op.layers.items() if k != "req"})
        _add(total, "", getattr(self, "window_layers", {}))
        per_op = {k: v / n for k, v in total.items()}
        out = {k: 0.0 for k in LAYER_UNITS}
        out.update({k: v for k, v in per_op.items() if k in LAYER_UNITS})
        for k in ("executor_run", "gc"):
            out[f"exec.{k}_s"] = per_op.get(f"exec.{k}_ms", 0.0) / 1e3
        out["exec.executor_cpu_s"] = per_op.get("exec.executor_cpu_ns", 0.0) / 1e9
        for k in ("stream.state_rows", "stream.state_mem_bytes"):
            out[k] = max((op.layers.get(k, 0.0) for op in self.ops), default=0.0)
        wall = sum(op.latency for op in self.ops)
        out["registry.construct_share"] = total.get("registry.construct_s", 0.0) / wall
        batch_s = total.get("stream.batch_s", 0.0)
        out["stream.rows_per_s"] = total.get("stream.input_rows", 0.0) / batch_s if batch_s else 0.0
        out.update({k: v for k, v in self.layer_setup.items() if k in LAYER_UNITS})
        selfs = self.tracer.self_times()
        for layer in ("op", "registry", "exec", "catalyst", "pricing", "stream"):
            out[f"self.{layer}_s"] = selfs.get(layer, 0.0) / n
        out["trace.overhead_s"] = selfs.get("trace", 0.0) / n
        if self.wl.kind == "serve":
            heads = [s for s in self.tracer.spans if s.name == "exec.head"]
            out["pricing.head_s"] = sum(s.end - s.start for s in heads) / n
            out["pricing.build_s"] = selfs.get("pricing", 0.0) / n
            out["pricing.jobs_per_request"] = out["exec.jobs"]
            out["exec.execute_s"] = out["pricing.head_s"]
        out["trace.latency_p50_s"] = e2e["latency_p50_s"]
        out["trace.ops_per_s"] = e2e["ops_per_s"]
        out["failed_share"] = sum(op.failed for op in self.ops) / n
        return out


LAYER_UNITS = {
    "session.get_spark_s": "s",
    "registry.import_s": "s",
    "registry.construct_s": "s",
    "registry.construct_jobs": "count",
    "registry.construct_share": "ratio",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.execute_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.skipped_stages": "count",
    "exec.failed_tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.input_bytes": "B",
    "exec.shuffle_read_bytes": "B",
    "exec.shuffle_write_bytes": "B",
    "exec.spill_bytes": "B",
    "exec.output_bytes": "B",
    "pricing.build_s": "s",
    "pricing.head_s": "s",
    "pricing.jobs_per_request": "count",
    "udf.rows": "count",
    "udf.bytes_sent": "B",
    "udf.bytes_received": "B",
    "stream.batches": "count",
    "stream.batch_s": "s",
    "stream.add_batch_s": "s",
    "stream.planning_s": "s",
    "stream.commit_s": "s",
    "stream.input_rows": "count",
    "stream.rows_per_s": "1/s",
    "stream.state_rows": "count",
    "stream.state_mem_bytes": "B",
    "stream.state_commit_s": "s",
    "stream.checkpoint_bytes": "B",
    "self.op_s": "s",
    "self.registry_s": "s",
    "self.exec_s": "s",
    "self.catalyst_s": "s",
    "self.pricing_s": "s",
    "self.stream_s": "s",
    "trace.overhead_s": "s",
    "trace.latency_p50_s": "s",
    "trace.ops_per_s": "1/s",
    "failed_share": "ratio",
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--sf", type=float, default=None,
        help="override the workload's data scale (quick self-test)",
    )
    args = ap.parse_args(argv)
    wl = WORKLOADS[args.workload]

    sys.path[:0] = [HERE, REPO]
    import importlib.util

    if importlib.util.find_spec(PACKAGE) is None:
        print(f"error: package {PACKAGE} not found in {REPO}", file=sys.stderr)
        return 2
    run_dir = _prepare_env()
    try:
        return _run(args, wl)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, wl: Workload) -> int:
    bench = Bench(args, wl)
    rss_reset = _reset_peak_rss()
    try:
        bench.setup()
        window = bench.run_serve() if wl.kind == "serve" else bench.run_queries()
        jvm_pid = bench.spark.sparkContext._gateway.proc.pid
        peak = _vm_hwm_mb("self") + _vm_hwm_mb(jvm_pid)
        if wl.kind == "serve":
            bench.check_serve()
        else:
            bench.check_queries()
    finally:
        if hasattr(bench, "spark"):
            _stop_spark(bench.spark)
        bench.con.close()

    e2e = bench.metrics(window, peak)
    failed = [op for op in bench.ops if op.failed]
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "sf_dir": os.path.relpath(bench.sf_dir, REPO),
        "samples": len(bench.ops),
        "setup": {"setup_s": bench.setup_s, **bench.layer_setup},
        "window_s": window,
        "peak_rss_reset": rss_reset,
        "failed_share": len(failed) / len(bench.ops),
        "errors": [op.error or f"over the {SLA_S:g} s SLA" for op in failed][:10],
        "ops": [
            [op.name, round(op.latency, 4), round(op.construct_s, 4), round(op.execute_s, 4)]
            for op in bench.ops
        ],
    }
    if args.trace:
        metrics = bench.layer_metrics(e2e)
        units = LAYER_UNITS
    else:
        metrics, units = e2e, E2E_UNITS
    result = {
        "correct": all(op.error is None for op in bench.ops),
        "attempted": len(bench.ops),
        "failed": len(failed),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    out_dir = os.path.join(WORK, "results", args.workload)
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"trace{args.trace}-seed{args.seed}.json"), "w") as fh:
        json.dump({**detail, "result": result, "spans": bench.tracer.dump()}, fh)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
