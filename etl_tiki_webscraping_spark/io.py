"""Parquet loaders for the driver-generated test tables (TESTDATA.md).

Thin by design: ``spark.read.parquet`` already gives vectorized scans,
column pruning and predicate pushdown; wrapping it any further would
only hide the plan from Catalyst.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_tiki_webscraping_spark.schemas import TESTDATA_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Give an events frame (batch or stream) a session-tz ``ts``.

    events.ts encoding has varied across testdata generations:
    TIMESTAMP(NANOS), which Spark reads as a long under
    ``spark.sql.legacy.parquet.nanosAsLong`` (floor-convert to micros,
    matching DuckDB's ns->us truncation; ``get_spark`` sets the key),
    and TIMESTAMP(MICROS) without UTC adjustment, which Spark reads as
    TIMESTAMP_NTZ (that rejects bigint casts and some time arithmetic
    downstream).  Session tz is pinned UTC, so NTZ->LTZ is the identity
    on the underlying micros value."""
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, T.TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TESTDATA_TABLES:
        raise KeyError(f"unknown test table {name!r}; expected one of {TESTDATA_TABLES}")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    return normalize_event_ts(df) if name == "events" else df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TESTDATA_TABLES)}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register fixture tables (all by default) as temp views so
    ``spark.sql`` is a first-class query surface — the engine ships no
    parser of its own because Spark SQL IS its SQL surface (SURVEY.md
    §7 non-goals)."""
    for n, df in load_tables(spark, sf_dir, *names).items():
        df.createOrReplaceTempView(n)
