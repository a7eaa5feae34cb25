"""metrics.measure — the one measurement core — and the harnesses that
use it (bench.py and tools/)."""

from __future__ import annotations

import ast
import glob
import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from etl_tiki_webscraping_spark.metrics import measure
from etl_tiki_webscraping_spark.streaming.events import run_available_now_to_memory

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


def _collected(df):
    df.collect()
    return df


def test_exchange_query_splits_into_stages_with_shuffle_bytes(spark):
    df = spark.range(20_000).groupBy((F.col("id") % 7).alias("k")).count()
    value, totals = measure(spark, "exchange", lambda: _collected(df))
    assert value is df
    assert totals["spark.jobs"] >= 1 and totals["spark.stages"] >= 2
    assert totals["spark.tasks"] >= totals["spark.stages"]
    assert totals["spark.shuffle_write_bytes"] > 0 and totals["spark.shuffle_read_bytes"] > 0
    assert totals["spark.executor_run_s"] > 0 and totals["wall_s"] > 0
    assert totals["spark.fixed_overhead_share"] < 1


def test_totals_use_the_benchmark_layer_names(spark):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        layers = {m["name"] for m in json.load(fh)["per_layer"]}
    _, totals = measure(spark, "names", lambda: spark.range(10).collect())
    assert set(totals) - {"wall_s"} <= layers


def test_pandas_udf_query_reports_python_time(spark):
    @F.pandas_udf("long")
    def plus_one(s):
        return s + 1

    df = spark.range(50_000).repartition(2).select(plus_one("id").alias("x"))
    _, totals = measure(spark, "pandas_udf", lambda: _collected(df))
    assert totals["operators.python_total_s"] > 0


def test_streaming_micro_batch_jobs_are_counted(spark, tmp_path):
    """The runner's micro-batches run on the stream's own thread under
    its run id, not under the caller's job group; they still count."""
    src = str(tmp_path / "in")
    for i in range(2):
        spark.range(i * 10, i * 10 + 10).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .groupBy((F.col("id") % 3).alias("k"))
        .count()
    )
    out, totals = measure(
        spark, "stream", lambda: run_available_now_to_memory(stream, "measure_stream", "complete")
    )
    assert totals["spark.jobs"] >= 2 and totals["spark.stages"] >= 2
    assert sum(r["count"] for r in out.collect()) == 20


def test_streaming_progress_is_totalled(spark, tmp_path):
    """A stream's micro-batch progress lands under the streaming.*
    layer names: batches and phase times summed, state rows at their
    peak; a call that runs no stream reports none of them."""
    src = str(tmp_path / "in")
    for i in range(2):
        spark.range(i * 10, i * 10 + 10).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .groupBy((F.col("id") % 3).alias("k"))
        .count()
    )
    _, totals = measure(
        spark,
        "stream progress",
        lambda: run_available_now_to_memory(
            stream, "measure_progress", "complete", no_data_batches=False
        ),
    )
    assert totals["streaming.batches"] == 2
    assert totals["streaming.state_rows"] == 3  # one row per key, at the peak
    assert totals["streaming.state_memory_bytes"] > 0
    assert totals["streaming.add_batch_s"] > 0 and totals["streaming.wal_commit_s"] > 0
    assert totals["streaming.query_planning_s"] > 0 and totals["streaming.state_commit_s"] >= 0
    _, plain = measure(spark, "no stream", lambda: spark.range(3).collect())
    assert not any(k.startswith("streaming.") for k in plain)


def test_callers_job_group_is_restored_and_errors_propagate(spark):
    sc = spark.sparkContext

    def props():
        return {k: sc.getLocalProperty(k) for k in GROUP_PROPS}

    for k in GROUP_PROPS:
        sc.setLocalProperty(k, None)
    measure(spark, "no caller group", lambda: spark.range(3).collect())
    assert props() == dict.fromkeys(GROUP_PROPS)

    sc.setJobGroup("caller-group", "the caller's own work", True)
    try:
        before = props()
        measure(spark, "inner", lambda: spark.range(3).collect())
        assert props() == before

        def boom():
            spark.range(3).collect()
            raise ValueError("boom")

        with pytest.raises(ValueError, match="boom"):
            measure(spark, "raises", boom)
        assert props() == before
    finally:
        for k in GROUP_PROPS:
            sc.setLocalProperty(k, None)


def _harness_files() -> "list[str]":
    return [os.path.join(ROOT, "bench.py"), *sorted(glob.glob(os.path.join(ROOT, "tools", "*.py")))]


def test_action_dispatch_lives_only_in_bench_run_action():
    """The collect/hash/count dispatch is written once, in
    bench.run_action (the sentinel's fixed lineitem fold is not it)."""
    hits = {}
    for path in _harness_files():
        with open(path) as fh:
            n = fh.read().count("xxhash64(*df.columns)")
        if n:
            hits[os.path.relpath(path, ROOT)] = n
    assert hits == {"bench.py": 1}
    with open(os.path.join(ROOT, "bench.py")) as fh:
        src = fh.read()
    (run_action,) = [
        n for n in ast.parse(src).body
        if isinstance(n, ast.FunctionDef) and n.name == "run_action"
    ]
    assert "xxhash64(*df.columns)" in ast.get_source_segment(src, run_action)


def test_tools_define_no_warm_up_of_their_own():
    for path in glob.glob(os.path.join(ROOT, "tools", "*.py")):
        with open(path) as fh:
            src = fh.read()
        defs = [
            n.name for n in ast.walk(ast.parse(src))
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)) and "warm" in n.name
        ]
        assert defs == [], f"{path} defines {defs}"
        assert "pandas_udf(" not in src and 'selectExpr("sum(id)")' not in src, path


def test_profile_query_help_exits_zero():
    res = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "profile_query.py"), "--help"],
        capture_output=True, text=True, timeout=120,
    )
    assert res.returncode == 0, res.stderr
    assert "--jobs" not in res.stdout
