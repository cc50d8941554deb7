"""Per-layer tracing for the benchmark, recorded from outside the program.

Spans are taken around calls into each layer's public entry points: the
benchmark times query builders itself, and while a pass is traced it
wraps `TrinoEngine.sql`, every module binding of `dialect.rewrites.translate`
and the DB-API client's request method.  Catalyst phases and the SQLMetrics
of each AQE-final physical plan come from a `QueryExecutionListener` that
sees every SQL execution a statement starts (collects, writes, the jobs
builders and DML run eagerly); Spark jobs, stages and tasks come from the
job ids a statement consumed and `statusTracker`.

Values accumulate per pass.  Layers a workload never enters stay 0.
"""

from __future__ import annotations

import sys
import threading
import time
from collections import defaultdict

# SQLMetric types whose value is a duration, and the factor to milliseconds.
_TO_MS = {"timing": 1.0, "nsTiming": 1e-6}
_SCANS = ("FileSourceScanExec", "BatchScanExec", "RowDataSourceScanExec", "InMemoryTableScanExec")
_REUSED = ("ReusedExchangeExec", "ReusedSubqueryExec")


def _scala_items(seq):
    return [seq.apply(i) for i in range(seq.size())]


def _metrics(node) -> dict[str, tuple[float, str]]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        m = kv._2()
        out[kv._1()] = (float(m.value()), m.metricType())
    return out


def walk_plan(node, acc: dict[str, float]) -> None:
    """Add the SQLMetrics of one executed plan tree to `acc` (exec.* keys).

    AQE wrappers and query stages are looked through; reused exchanges and
    subqueries are skipped so each operator is counted where it ran."""
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        walk_plan(node.executedPlan(), acc)
        return
    if cls.endswith("QueryStageExec"):
        walk_plan(node.plan(), acc)
        return
    if cls in _REUSED:
        return
    mets = _metrics(node)

    def val(key: str) -> float:
        return mets.get(key, (0.0, ""))[0]

    def ms(key: str) -> float:
        value, kind = mets.get(key, (0.0, "timing"))
        return value * _TO_MS.get(kind, 1.0)

    if cls in _SCANS:
        acc["exec.scan_ms"] += ms("scanTime")
        acc["exec.scan_bytes"] += val("filesSize")
        acc["exec.scan_rows"] += val("numOutputRows")
    if cls == "ShuffleExchangeExec":
        acc["exec.shuffle_bytes"] += val("shuffleBytesWritten")
    if cls == "BroadcastExchangeExec":
        acc["exec.broadcast_bytes"] += val("dataSize")
    acc["exec.build_ms"] += ms("buildTime")
    acc["exec.python_rows"] += val("pythonNumRowsReceived")
    acc["exec.python_bytes"] += val("pythonDataSent") + val("pythonDataReceived")
    acc["exec.python_ms"] += ms("pythonTotalTime")
    acc["exec.spill_bytes"] += val("spillSize")
    acc["_peak_mem_bytes"] += val("peakMemory")
    for child in _scala_items(node.children()) + _scala_items(node.subqueries()):
        walk_plan(child, acc)


class _Listener:
    """py4j proxy for org.apache.spark.sql.util.QueryExecutionListener."""

    def __init__(self):
        self.seen = []
        self._lock = threading.Lock()

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 - Java interface
        with self._lock:
            self.seen.append(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 - Java interface
        with self._lock:
            self.seen.append(qe)

    def take(self):
        with self._lock:
            seen, self.seen = self.seen, []
        return seen

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _phases_ms(qe) -> dict[str, float]:
    out = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


class Tracer:
    """Layer spans and counters for the statements of traced passes."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self._jsc = spark.sparkContext._jsc.sc()
        self._status = spark.sparkContext.statusTracker()
        ensure_callback_server_started(spark.sparkContext._gateway)
        self._listener = _Listener()
        self._tls = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        self.active = False
        self.stmt: dict[str, float] = defaultdict(float)
        self.pass_totals: dict[str, float] = defaultdict(float)
        self.pass_statements: list[dict[str, float]] = []

    # -- hooks ------------------------------------------------------------

    def install(self) -> None:
        from trino_spark import client
        from trino_spark.dialect import engine, rewrites

        self._patch(engine.TrinoEngine, "sql", self._wrap_sql(engine.TrinoEngine.sql))
        orig = rewrites.translate
        timed = self._wrap_translate(orig)
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("trino_spark") and getattr(mod, "translate", None) is orig:
                self._patch(mod, "translate", timed)
        self._patch(client.Connection, "_do", self._wrap_request(client.Connection._do))

    def uninstall(self) -> None:
        self.deactivate()
        for owner, name, orig in reversed(self._patches):
            setattr(owner, name, orig)
        self._patches.clear()

    def _patch(self, owner, name: str, new) -> None:
        self._patches.append((owner, name, getattr(owner, name)))
        setattr(owner, name, new)

    def _outermost(self, key: str) -> bool:
        return self.active and getattr(self._tls, key, 0) == 0

    def _wrap_sql(self, orig):
        tr = self

        def sql(engine, text):
            if not tr._outermost("sql"):
                return orig(engine, text)
            tr._tls.sql = 1
            j0, t0 = tr.next_job_id(), time.perf_counter()
            try:
                df = orig(engine, text)
            finally:
                tr._tls.sql = 0
            wall_ms = (time.perf_counter() - t0) * 1000
            ph = _phases_ms(df._jdf.queryExecution())
            tr.stmt["dialect.sql_ms"] += wall_ms - ph.get("parsing", 0.0) - ph.get("analysis", 0.0)
            tr.stmt["dialect.sql_jobs"] += tr.next_job_id() - j0
            tr.stmt["_engine_ms"] += wall_ms
            collect = df.collect

            def timed_collect():
                t1 = time.perf_counter()
                try:
                    return collect()
                finally:
                    tr.stmt["_engine_ms"] += (time.perf_counter() - t1) * 1000

            df.collect = timed_collect
            return df

        return sql

    def _wrap_translate(self, orig):
        tr = self

        def translate(*args, **kwargs):
            if not tr._outermost("translate"):
                return orig(*args, **kwargs)
            tr._tls.translate = 1
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                tr._tls.translate = 0
                tr.stmt["dialect.translate_ms"] += (time.perf_counter() - t0) * 1000

        return translate

    def _wrap_request(self, orig):
        tr = self

        def _do(conn, req):
            if tr.active:
                tr.stmt["server.requests"] += 1
            return orig(conn, req)

        return _do

    def build(self, build, spark, sf_dir):
        """Call a query builder, timing it and counting the jobs it starts."""
        if not self.active:
            return build(spark, sf_dir)
        j0, t0 = self.next_job_id(), time.perf_counter()
        df = build(spark, sf_dir)
        self.stmt["queries.build_ms"] += (time.perf_counter() - t0) * 1000
        self.stmt["queries.build_jobs"] += self.next_job_id() - j0
        return df

    # -- statement and pass accounting -----------------------------------

    def next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    def activate(self) -> None:
        if not self.active:
            self.spark._jsparkSession.listenerManager().register(self._listener)
            self.active = True
        self.pass_totals = defaultdict(float)
        self.pass_statements = []

    def deactivate(self) -> None:
        if self.active:
            self.spark._jsparkSession.listenerManager().unregister(self._listener)
            self.active = False

    def begin_statement(self) -> None:
        self.stmt = defaultdict(float)
        self._job0 = self.next_job_id()

    def end_statement(self, latency_ms: float, via_server: bool) -> None:
        """Fold one statement's spans, plans and jobs into the pass totals."""
        self._jsc.listenerBus().waitUntilEmpty()
        acc = self.stmt
        for qe in self._listener.take():
            ph = _phases_ms(qe)
            acc["catalyst.analysis_ms"] += ph.get("parsing", 0.0) + ph.get("analysis", 0.0)
            acc["catalyst.optimization_ms"] += ph.get("optimization", 0.0)
            acc["catalyst.planning_ms"] += ph.get("planning", 0.0)
            walk_plan(qe.executedPlan(), acc)
        stages = set()
        for job_id in range(self._job0, self.next_job_id()):
            info = self._status.getJobInfo(job_id)
            acc["spark.jobs"] += 1
            stages.update(info.stageIds if info else ())
        for stage_id in stages:
            info = self._status.getStageInfo(stage_id)
            if info is None or info.numCompletedTasks + info.numFailedTasks == 0:
                continue  # skipped: its shuffle output already existed
            acc["spark.stages"] += 1
            acc["spark.tasks"] += info.numCompletedTasks + info.numFailedTasks
            acc["spark.task_retries"] += info.numFailedTasks
        if via_server:
            acc["server.overhead_ms"] += latency_ms - acc["_engine_ms"]
        peak = acc.pop("_peak_mem_bytes", 0.0)
        acc.pop("_engine_ms", None)
        acc["exec.peak_mem_bytes"] = peak
        self.pass_statements.append(dict(acc))
        tot = self.pass_totals
        tot["exec.peak_mem_bytes"] = max(tot["exec.peak_mem_bytes"], peak)
        for k, v in acc.items():
            if k != "exec.peak_mem_bytes":
                tot[k] += v
