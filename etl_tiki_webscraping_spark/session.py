"""SparkSession factory with scale-oriented defaults.

Tests and the driver run on ``local[*]`` (single JVM), but every config
here is chosen to also be the right default on a 1000-executor cluster:

- AQE on (runtime re-plan: coalesce small shuffle partitions, convert
  sort-merge joins to broadcast when the build side turns out small,
  split skewed partitions).
- Arrow on (vectorized Python <-> JVM transfer for the few places we
  drop to pandas UDFs).
- shuffle partitions sized for the test machine; on a real cluster AQE
  coalescing makes the static number mostly irrelevant as long as it is
  not too small.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession

# local[N] core count: SPARK_GRAFT_CPUS, else the cores this process
# may run on (what `nproc` prints)
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def get_spark(app_name: str = "etl-tiki-webscraping-spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults."""
    cpus = int(DEFAULT_CPUS)
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 32)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # generous broadcast threshold: our dimension tables (region,
        # nation, customer, supplier, part) are tiny relative to facts
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # local mode runs executors inside the driver JVM, so eager
        # localCheckpoint materializations (graph edge lists at the
        # sf10 probe scale) are accounted as "serialized task results"
        # and trip the 1g default; on a real cluster those blocks live
        # on executors and this limit is irrelevant to them
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.ui.enabled", "false")
        # stage-progress bars flood stderr; the driver records only a
        # fixed-size output tail, and bars crowd out the bench JSON line
        .config("spark.ui.showConsoleProgress", "false")
        # managed-table location for bucketed tables (local mode: keep
        # out of the repo; on a cluster this is the real warehouse path)
        .config("spark.sql.warehouse.dir", os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark-graft-warehouse"))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # testdata events.parquet carries TIMESTAMP(NANOS); read as long
        # (converted to timestamps in io.load_table)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    return builder.getOrCreate()


def spread(df: DataFrame, *keys: str | Column) -> DataFrame:
    """Spread a small ``df`` across the cores ahead of compute-bound work
    (an Arrow kernel, a shingle/gram explode, a multi-distinct
    aggregate).

    The one partition-spread policy.  It decides from the optimizer's
    size estimate of ``df``, which is taken on the projected and
    filtered plan, not on the bytes scanned, and never from ``df.rdd``:
    on a plan that already contains an exchange, ``.rdd`` makes AQE run
    that exchange's jobs while the query is still being planned.

    - Small input (estimate below ``defaultParallelism`` x
      ``spark.sql.files.maxPartitionBytes``, a size cut-off):
      ``repartition(defaultParallelism, *keys)``, always, even when
      ``df`` already has that many partitions.  The count stays
      explicit because AQE's byte-based coalescing would fold a tiny
      exchange back to ONE partition and serialize the work that
      follows.
    - Large input: ``df`` unchanged, with whatever partitions it
      arrives in; ``keys`` are ignored.  An input-sized exchange
      pinned to the core count is what this avoids at scale.

    An input whose size the optimizer cannot estimate (an RDD-backed
    frame) counts as large.
    """
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    split_bytes = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    if df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes() < cores * split_bytes:
        return df.repartition(cores, *keys)
    return df


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
