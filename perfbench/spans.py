"""Spans around calls into the library's layers, with Spark's counters.

The benchmark, not the library, opens a span around each call it makes
into a layer (``queries.query``, ``operators.merge``, ...). At each span
boundary the tracer reads Spark's own counters:

* jobs and stages by id delta on the DAG scheduler. That counts every job
  the span caused, whatever job group it ran in; streaming micro-batches
  run in their query's own group and would be missed by a group filter.
* per-stage task counts, executor run time, shuffle, spill and I/O bytes
  from the status store, read as soon as the span ends, after the
  listener bus has drained, so no stage has been evicted yet.
* planning time (analysis, optimization, physical planning) of every
  query execution the span ran, the library's own included, from a
  ``QueryExecutionListener`` that reads each execution's planning tracker.

Spans never nest. With tracing off, ``span`` only yields and the listener
is not registered, so untraced passes pay nothing for either.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# counters every span reports
BASE = ("s", "jobs", "tasks", "exec_run_s")
_MB = 1e6


def _planning_ms(qe) -> float:
    """Analysis + optimization + physical planning time of one query
    execution, from its planning tracker."""
    it = qe.tracker().phases().iterator()
    total = 0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return float(total)


class _PlanningListener:
    """Sums the planning time of every query execution the session ends."""

    def __init__(self):
        self.ms = 0.0

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 - Java interface
        self.ms += _planning_ms(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 - Java interface
        self.ms += _planning_ms(qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    """Collects spans for one pass; ``take()`` returns and clears them."""

    def __init__(self, spark):
        self._jsc = spark.sparkContext._jsc.sc()
        self._gateway = spark.sparkContext._gateway
        self._listeners = spark._jsparkSession.listenerManager()
        self._planning = _PlanningListener()
        self._enabled = False
        self._done: list[dict] = []

    @property
    def enabled(self) -> bool:
        return self._enabled

    @enabled.setter
    def enabled(self, on: bool) -> None:
        if on == self._enabled:
            return
        if on:
            from pyspark.java_gateway import ensure_callback_server_started

            ensure_callback_server_started(self._gateway)
            self._listeners.register(self._planning)
        else:
            self._jsc.listenerBus().waitUntilEmpty()
            self._listeners.unregister(self._planning)
        self._enabled = on

    @contextmanager
    def span(self, name: str):
        """Time one call into a layer. Yields a dict the caller may add
        span-specific counters to (``build_s``, ``files_read``, ...)."""
        if not self._enabled:
            yield {}
            return
        bus, dag = self._jsc.listenerBus(), self._jsc.dagScheduler()
        bus.waitUntilEmpty()  # executions before the span are not its own
        rec = {"name": name}
        job0, stage0, plan0 = dag.nextJobId(), dag.nextStageId(), self._planning.ms
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["s"] = time.perf_counter() - t0
            bus.waitUntilEmpty()
            job1, stage1 = dag.nextJobId(), dag.nextStageId()
            rec.update(self._stage_counters(stage0, stage1))
            rec["jobs"] = job1 - job0
            rec["planning_ms"] = self._planning.ms - plan0
            self._done.append(rec)

    def _stage_counters(self, first: int, end: int) -> dict:
        store = self._jsc.statusStore()
        out = dict.fromkeys(
            ("stages", "tasks", "exec_run_s", "shuffle_write_mb", "spill_mb",
             "input_mb", "output_mb"), 0.0)
        for sid in range(first, end):
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # never submitted: a job was cancelled early
                continue
            if st.status().toString() != "COMPLETE":
                continue  # skipped: its map output was reused
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["exec_run_s"] += st.executorRunTime() / 1e3
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
            out["spill_mb"] += st.diskBytesSpilled() / _MB
            out["input_mb"] += st.inputBytes() / _MB
            out["output_mb"] += st.outputBytes() / _MB
        return out

    def take(self) -> list[dict]:
        done, self._done = self._done, []
        return done


def per_pass(spans: list[dict], cores: int) -> dict[str, float]:
    """Sum each span name's counters over one pass, as
    ``<span>.<counter>``; ``busy_ratio`` is computed from the sums."""
    tot: dict[str, dict[str, float]] = {}
    for rec in spans:
        acc = tot.setdefault(rec["name"], {})
        for k, v in rec.items():
            if k != "name":
                acc[k] = acc.get(k, 0.0) + v
    out = {}
    for name, acc in tot.items():
        if acc.get("s"):
            acc["busy_ratio"] = acc["exec_run_s"] / (acc["s"] * cores)
        for k, v in acc.items():
            out[f"{name}.{k}"] = v
    return out


def files_read(df) -> float:
    """Files opened by the file scans of the last action run on ``df``
    (the scans' ``numFiles`` metric, walked through the final AQE plan)."""
    total = 0

    def walk(node):
        nonlocal total
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if cls.endswith("QueryStageExec"):
            return walk(node.plan())
        if cls == "FileSourceScanExec":
            metrics = node.metrics()
            if metrics.contains("numFiles"):
                total += metrics.get("numFiles").get().value()
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return float(total)


def stream_progress(queries) -> dict[str, float]:
    """Trigger and planning time summed over the micro-batches of the
    streaming queries (``StreamingQuery.recentProgress``)."""
    batch = plan = 0.0
    for p in (p for q in queries for p in q.recentProgress):
        d = p["durationMs"] if isinstance(p, dict) else p.durationMs
        batch += d.get("triggerExecution", 0)
        plan += d.get("queryPlanning", 0)
    return {"batch_ms": batch, "plan_ms": plan}


def gc_seconds(spark) -> float:
    """Collection time summed over the Spark driver JVM's garbage collectors."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1e3
