"""One measurement core: the Spark work a call caused, split into its
stages and operators.

``measure(spark, label, fn)`` runs ``fn`` under a job group of its own
and then reads, from Spark's status store and executed plan, what that
work cost: jobs, stages and tasks, executor run and CPU time, shuffle
and spill bytes, the Python Arrow boundary and the codegen pipelines,
JVM GC time, and the micro-batch progress of any stream it ran.  The
keys are the per-layer names of ``BENCHMARK.json``, so bench records
and ``perfbench`` traces read alike.

The status store is read per job and stage (``job``,
``lastStageAttempt``), never as a whole ``stageList``, so the cost
after the timed region grows with the call's own stages, not with the
session's history.
"""

from __future__ import annotations

import time
import uuid
from collections import defaultdict

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQueryListener

# job-scoped local properties that setJobGroup overwrites
_GROUP_PROPS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)


# micro-batch phases of ``StreamingQueryProgress.durationMs``, summed
_PHASES = (
    ("streaming.add_batch_s", "addBatch"),
    ("streaming.query_planning_s", "queryPlanning"),
    ("streaming.wal_commit_s", "walCommit"),
)
# state-operator fields taken at their peak over the micro-batches
_PEAKS = (
    ("streaming.state_rows", "numRowsTotal"),
    ("streaming.state_memory_bytes", "memoryUsedBytes"),
)
_COUNTS = ("streaming.batches", "streaming.state_rows", "streaming.state_memory_bytes")


class _StreamRuns(StreamingQueryListener):
    """Collects the run ids of streams started during a measured call —
    micro-batch jobs run on the stream's own thread under its run id as
    job group, not under the caller's group — and totals their
    micro-batch progress: batch count, phase durations and state-store
    commit time summed, state rows and memory at their peak."""

    def __init__(self):
        self.run_ids: list = []
        self.totals: defaultdict = defaultdict(float)

    def onQueryStarted(self, event):
        self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event):
        p = event.progress
        if str(p.runId) not in self.run_ids:
            return
        d, ops, t = p.durationMs, p.stateOperators or [], self.totals
        t["streaming.batches"] += 1
        for key, phase in _PHASES:
            t[key] += d.get(phase, 0) / 1e3
        t["streaming.state_commit_s"] += sum(o.commitTimeMs for o in ops) / 1e3
        for key, field in _PEAKS:
            t[key] = max(t[key], sum(getattr(o, field) for o in ops))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def _gc_ms(spark: SparkSession) -> int:
    """Cumulative GC time of the driver JVM (all collectors), in ms."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    total = 0
    it = mf.getGarbageCollectorMXBeans().iterator()
    while it.hasNext():
        total += it.next().getCollectionTime()
    return int(total)


def _metric_value(m) -> float:
    """A SQLMetric in SI units: timings are stored in ms ("timing") or
    ns ("nsTiming"); sizes and sums are plain counts."""
    kind = m.metricType()
    v = float(m.value())
    if kind == "timing":
        return v / 1e3
    if kind == "nsTiming":
        return v / 1e9
    return v


def _add_stages(sc, jobs, out) -> None:
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    stage_ids = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    for sid in sorted(stage_ids):
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # evicted from the store
            continue
        # skipped stages (shuffle output reused) ran no task
        if str(st.status()) not in ("COMPLETE", "FAILED"):
            continue
        out["spark.stages"] += 1
        out["spark.tasks"] += st.numCompleteTasks() + st.numFailedTasks()
        out["spark.executor_run_s"] += st.executorRunTime() / 1e3
        out["spark.executor_cpu_s"] += st.executorCpuTime() / 1e9
        out["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
        out["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
        out["spark.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()


def _add_plan(df: DataFrame, out) -> None:
    """Python-exec and codegen-pipeline metrics of ``df``'s executed
    plan, read through AQE's final plan and its query stages."""
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStage"):
            stack.append(node.plan())
            continue
        metrics = node.metrics()
        if metrics.contains("pythonTotalTime"):
            out["operators.python_total_s"] += _metric_value(metrics.apply("pythonTotalTime"))
        if name.startswith("WholeStageCodegen") and metrics.contains("pipelineTime"):
            out["spark.codegen_pipeline_s"] += _metric_value(metrics.apply("pipelineTime"))
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))


def measure(spark: SparkSession, label: str, fn):
    """Run ``fn()`` and return ``(value, totals)``: its value and the
    totals of the Spark work it caused, streams it started included.

    ``fn`` runs under a job group described by ``label``; the calling
    thread's own job group is restored afterwards, also when ``fn``
    raises (the exception propagates, with no totals).  When the value
    is a DataFrame, the metrics of its executed plan are added.

    ``totals`` keys: ``wall_s``; ``spark.jobs``/``stages``/``tasks``;
    ``spark.executor_run_s``/``executor_cpu_s``; shuffle read/write and
    spill bytes; ``spark.codegen_pipeline_s``;
    ``operators.python_total_s``; ``jvm.gc_s``; and
    ``spark.fixed_overhead_share`` = 1 - executor_run_s /
    (defaultParallelism x wall_s), the share of the call's core-seconds
    no task was running in.  When ``fn`` ran a stream on ``spark``:
    ``streaming.batches``, the summed ``streaming.add_batch_s``/
    ``query_planning_s``/``wal_commit_s``/``state_commit_s`` and the
    peak ``streaming.state_rows``/``state_memory_bytes`` of its
    micro-batches.  Executor CPU is the JVM's; Python workers'
    time shows only where a plan node reports ``pythonTotalTime``.
    """
    sc = spark.sparkContext
    saved = {k: sc.getLocalProperty(k) for k in _GROUP_PROPS}
    group = f"measure-{uuid.uuid4().hex}"
    streams = _StreamRuns()
    spark.streams.addListener(streams)
    gc0 = _gc_ms(spark)
    sc.setJobGroup(group, label)
    try:
        t0 = time.perf_counter()
        value = fn()
        wall = time.perf_counter() - t0
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
        # a stream's last progress events may still be queued
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        spark.streams.removeListener(streams)
    gc_s = (_gc_ms(spark) - gc0) / 1e3

    out: defaultdict = defaultdict(float)
    jobs = [j for g in [group, *streams.run_ids] for j in sc.statusTracker().getJobIdsForGroup(g)]
    out["spark.jobs"] = len(jobs)
    _add_stages(sc, jobs, out)
    if isinstance(value, DataFrame):
        _add_plan(value, out)
    slots = sc.defaultParallelism * wall
    share = 1.0 - out["spark.executor_run_s"] / slots if slots > 0 else 0.0
    totals = {"wall_s": round(wall, 3)}
    for key in (
        "spark.jobs", "spark.stages", "spark.tasks",
        "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
    ):
        totals[key] = int(out[key])
    for key in (
        "spark.executor_run_s", "spark.executor_cpu_s",
        "spark.codegen_pipeline_s", "operators.python_total_s",
    ):
        totals[key] = round(out[key], 3)
    totals["jvm.gc_s"] = round(gc_s, 3)
    totals["spark.fixed_overhead_share"] = round(share, 3)
    for key, v in streams.totals.items():
        totals[key] = int(v) if key in _COUNTS else round(v, 3)
    return value, totals
