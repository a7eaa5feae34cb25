"""session.spread — the one partition-spread policy.  It decides from
the optimizer's size estimate, so it never runs a Spark job while a
query is being planned (``df.rdd`` on a plan with an exchange does).
Also session.DEFAULT_CPUS, the core count ``get_spark`` runs on."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from etl_tiki_webscraping_spark.metrics import measure


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("op", ["minhash_analysis", "jaccard_on_pairs"])
def test_exchange_input_starts_no_job_at_plan_time(spark, op):
    from etl_tiki_webscraping_spark.operators.dedup import (
        jaccard_on_pairs,
        minhash_analysis,
    )

    docs = spark.range(64).select(
        "id",
        F.concat_ws(
            " ", *[F.concat(F.lit(f"t{m}_"), F.col("id") % m) for m in (3, 5, 7, 11)]
        ).alias("text"),
    ).repartition(8)
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")

    def plan() -> None:  # build the plan only; nothing executes it
        if op == "minhash_analysis":
            minhash_analysis(docs, "text", "id")
        else:
            jaccard_on_pairs(pairs, docs, "text", "id")

    assert measure(spark, "plan-time probe", plan)[1]["spark.jobs"] == 0


def test_small_input_pins_default_parallelism(spark):
    from etl_tiki_webscraping_spark.session import spread

    n = spark.sparkContext.defaultParallelism
    df = spark.range(1000)
    keyed = _plan(spread(df, "id"))
    assert "hashpartitioning(id#" in keyed
    assert f", {n}), REPARTITION_BY_NUM" in keyed
    assert f"RoundRobinPartitioning({n}), REPARTITION_BY_NUM" in _plan(spread(df))


def test_large_input_is_left_unchanged(spark):
    from etl_tiki_webscraping_spark.session import spread

    big = spark.range(10**12)  # ~8 TB estimated
    assert spread(big) is big
    assert spread(big, "id") is big


@pytest.mark.parametrize("env", [None, "3"])
def test_default_cpus_is_the_variable_or_the_usable_cores(env):
    environ = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    if env is not None:
        environ["SPARK_GRAFT_CPUS"] = env
    out = subprocess.run(
        [sys.executable, "-c",
         "from etl_tiki_webscraping_spark.session import DEFAULT_CPUS; "
         "print(DEFAULT_CPUS)"],
        env=environ, capture_output=True, text=True, check=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ).stdout.strip()
    assert out == (env or str(len(os.sched_getaffinity(0))))
