"""Traced runs: spans recorded in memory around the calls into the
package's layers, plus per-layer counters read from Spark's own job
groups, status store, executed plans and a streaming query listener.

Nothing here changes package code.  Layer functions are wrapped where
their callers look them up (``plans.pipeline`` imports the sink
functions by name; ``plans.catalog`` imports them inside each query
function, from ``sinks.upsert``).
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

PIPELINE_TABLES = ("shop_info", "product_detail", "rating")
PYTHON_METRICS = {
    "pythonTotalTime": "operators.python_total_s",
    "pythonBootTime": "operators.python_boot_s",
    "pythonInitTime": "operators.python_init_s",
    "pythonDataSent": "operators.python_bytes_sent",
    "pythonDataReceived": "operators.python_bytes_received",
}


def _scala_seq(seq):
    return [seq.apply(i) for i in range(seq.size())]


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


class _StreamListener(StreamingQueryListener):
    def __init__(self, tracer: "Tracer"):
        self.tracer = tracer

    def onQueryStarted(self, event):
        self.tracer.stream_run_ids.append(str(event.runId))

    def onQueryProgress(self, event):
        self.tracer.on_progress(event.progress)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def tree_bytes(root: str) -> "dict[tuple, int]":
    """{(path, inode, mtime) -> size} of every file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.lstat(p)
            except OSError:
                continue
            out[(p, st.st_ino, st.st_mtime_ns)] = st.st_size
    return out


def live_bytes(table_path: str) -> int:
    """Bytes of the data files of a table's committed snapshot."""
    with open(os.path.join(table_path, "_LATEST")) as fh:
        snap = os.path.join(table_path, fh.read().strip())
    total = 0
    for d, dirs, files in os.walk(snap, followlinks=True):
        dirs[:] = [x for x in dirs if not x.startswith((".", "_"))]
        total += sum(
            os.path.getsize(os.path.join(d, f))
            for f in files if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
    return total


class Tracer:
    """Span recorder and per-layer counter sink.  Disabled tracers make
    every hook a no-op, so the untraced run pays nothing."""

    def __init__(self, workload: str, run_id: str, enabled: bool):
        self.workload, self.run_id, self.enabled = workload, run_id, enabled
        self.spans: list = []
        self._stack: list = []
        self.active = False  # inside a traced pass
        self.sums: "dict[str, float]" = defaultdict(float)
        self.samples: "dict[str, list]" = defaultdict(list)
        self.stream_run_ids: list = []
        self._extract_pending = None
        self.spark = None

    # -- spans ---------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(None)
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans[sid] = {
                "id": sid, "name": name, "start": start, "end": end,
                "parent": parent, "workload": self.workload, "run": self.run_id,
            }

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")

    @contextlib.contextmanager
    def paused(self):
        """Count nothing inside: output checks are not the workload."""
        active, self.active = self.active, False
        try:
            yield
        finally:
            self.active = active

    def add(self, name: str, value: float) -> None:
        if self.active:
            self.sums[name] += value

    def sample(self, name: str, value: float) -> None:
        if self.active:
            self.samples[name].append(value)

    # -- layer wrappers ------------------------------------------------
    def install(self, spark) -> None:
        """Wrap the layer functions and register the streaming listener."""
        if not self.enabled:
            return
        self.spark = spark
        from etl_tiki_webscraping_spark.plans import pipeline
        from etl_tiki_webscraping_spark.sinks import upsert

        read = upsert.read_parquet_table

        def read_parquet_table(*a, **kw):
            t0 = time.perf_counter()
            with self.span("sinks.read_parquet_table"):
                df = read(*a, **kw)
            self.add("sinks.read_parquet_table_s", time.perf_counter() - t0)
            return df

        write = pipeline.upsert_parquet

        def upsert_parquet(spark, updates, target_path, *a, **kw):
            if self._extract_pending is not None:
                self.add("sources.extract_s", time.perf_counter() - self._extract_pending)
                self._extract_pending = None
            table = os.path.basename(target_path.rstrip("/"))
            t0 = time.perf_counter()
            with self.span(f"sinks.upsert_parquet.{table}"):
                write(spark, updates, target_path, *a, **kw)
            self.add(f"sinks.upsert_parquet.{table}_s", time.perf_counter() - t0)

        run = pipeline.run_pipeline

        def run_pipeline(spark, fetchers, warehouse_dir, *a, **kw):
            before = tree_bytes(warehouse_dir) if self.active else {}
            self._extract_pending = time.perf_counter()
            t0 = time.perf_counter()
            with self.span("plans.pipeline.run_pipeline"):
                res = run(spark, fetchers, warehouse_dir, *a, **kw)
            self.sample("plans.pipeline.run_pipeline_s", time.perf_counter() - t0)
            if self.active:
                new = {k: v for k, v in tree_bytes(warehouse_dir).items() if k not in before}
                self.add("sinks.bytes_written", sum(new.values()))
                self.add("sinks.files_written", len(new))
            return res

        upsert.read_parquet_table = read_parquet_table
        pipeline.read_parquet_table = read_parquet_table
        pipeline.upsert_parquet = upsert_parquet
        pipeline.run_pipeline = run_pipeline
        spark.streams.addListener(_StreamListener(self))

    def on_progress(self, p) -> None:
        if not self.active:
            return
        d = p.durationMs
        self.add("streaming.batches", 1)
        self.sample("streaming.batch_s", d.get("triggerExecution", 0) / 1e3)
        self.add("streaming.add_batch_s", d.get("addBatch", 0) / 1e3)
        self.add("streaming.query_planning_s", d.get("queryPlanning", 0) / 1e3)
        self.add("streaming.wal_commit_s", d.get("walCommit", 0) / 1e3)
        ops = p.stateOperators or []
        self.add("streaming.state_commit_s", sum(o.commitTimeMs for o in ops) / 1e3)
        self.samples["streaming.state_rows"].append(sum(o.numRowsTotal for o in ops))
        self.samples["streaming.state_memory_bytes"].append(sum(o.memoryUsedBytes for o in ops))

    # -- per-operation capture ----------------------------------------
    @contextlib.contextmanager
    def op(self, name: str):
        """Run one timed operation under its own job group and collect
        its stages, executed-plan metrics and cache pins afterwards."""
        if not self.active:
            yield None
            return
        sc = self.spark.sparkContext
        group = f"perfbench-{self.run_id}-{len(self.spans)}"
        sc.setJobGroup(group, name)
        first_stream = len(self.stream_run_ids)
        plans: list = []
        try:
            with self.span(name):
                yield plans.append
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        groups = [group] + self.stream_run_ids[first_stream:]
        self._jobs.extend(j for g in groups for j in sc.statusTracker().getJobIdsForGroup(g))
        for df in plans:
            self._plan_metrics(df)
        self.samples["spark.persisted_rdds"].append(sc._jsc.getPersistentRDDs().size())

    def _plan_metrics(self, df) -> None:
        jvm = self.spark._jvm
        conv = jvm.scala.jdk.javaapi.CollectionConverters

        def walk(node):
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                yield from walk(node.executedPlan())
                return
            if cls.endswith("QueryStageExec"):
                yield from walk(node.plan())
                return
            yield cls, node
            for child in _scala_seq(node.children()):
                yield from walk(child)

        for cls, node in walk(df._jdf.queryExecution().executedPlan()):
            metrics = conv.asJava(node.metrics())
            if cls.startswith("WholeStageCodegen") and metrics.containsKey("pipelineTime"):
                self.add("spark.codegen_pipeline_s", _metric_value(metrics.get("pipelineTime")))
            for key, name in PYTHON_METRICS.items():
                if metrics.containsKey(key):
                    self.add(name, _metric_value(metrics.get(key)))

    # -- traced passes ---------------------------------------------------
    @contextlib.contextmanager
    def traced_pass(self):
        self.active = True
        self._jobs: list = []
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        gc0 = self._gc_ms(mf)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            self.active = False
        self.sums["jvm.gc_s"] += (self._gc_ms(mf) - gc0) / 1e3
        self.sums["trace.passes"] += 1
        self.sums["trace.wall_s"] += wall
        self._stage_metrics()

    @staticmethod
    def _gc_ms(mf) -> int:
        return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())

    def _stage_metrics(self) -> None:
        sc = self.spark.sparkContext
        gw = sc._gateway
        stage_ids = set()
        for j in self._jobs:
            info = sc.statusTracker().getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        rows = sc._jsc.sc().statusStore().stageList(
            None, False, False, gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList()
        )
        s = self.sums
        s["spark.jobs"] += len(self._jobs)
        for st in _scala_seq(rows):
            if st.stageId() not in stage_ids or st.numTasks() == 0:
                continue
            if str(st.status()) not in ("COMPLETE", "FAILED"):
                continue
            s["spark.stages"] += 1
            s["spark.tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            s["spark.failed_tasks"] += st.numFailedTasks()
            s["spark.executor_run_s"] += st.executorRunTime() / 1e3
            s["spark.executor_cpu_s"] += st.executorCpuTime() / 1e9
            s["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
            s["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
            s["spark.shuffle_write_s"] += st.shuffleWriteTime() / 1e9
            s["spark.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
