"""One-pass table profiling: per-column completeness / cardinality /
numeric summary stats — the ``ANALYZE TABLE`` + data-quality-report
primitive (row counts, null rates, distinct counts, min/max/mean) a
warehouse collects for CBO statistics and ingest monitoring.

Spark shape: ONE global aggregate over a single scan computes every
column's stats as parallel aggregate expressions (map-side partial
aggregation; the exchange carries one partial row per task), then the
wide single-row result unpivots driver-free into one row per column.
Nothing after the scan scales with row count.

Exact ``COUNT(DISTINCT)`` per column expands the aggregate once per
distinct column (Spark's Expand) — fine for a scheduled ANALYZE, but
at 100 TB prefer ``approx_distinct=True`` (HLL++, one pass, no
expansion), the same trade Spark's own ``ANALYZE TABLE ... COMPUTE
STATISTICS`` makes."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_tiki_webscraping_spark.session import spread


def profile_table(
    df: DataFrame,
    cols: Sequence[str] | None = None,
    approx_distinct: bool = False,
) -> DataFrame:
    """Profile ``cols`` (default: all) into one row per column:

    ``(col_name, n_rows, n_nulls, n_distinct, min_value, max_value,
    mean_value)`` — the numeric stats are DOUBLE and NULL for
    non-numeric columns (type-stable output schema); the mean is an
    exact-decimal accumulation divided out as double, so it is
    accumulation-order independent (cluster-size stable)."""
    cols = list(cols) if cols is not None else list(df.columns)
    numeric = {
        f.name for f in df.schema.fields if isinstance(f.dataType, T.NumericType)
    }
    # r16 (guide §2.5): the multi-distinct aggregate expands every row
    # once per distinct column BEFORE its exchange, so a scan that
    # produced fewer splits than cores runs the whole Expand + partial
    # aggregation serially.  Spread the PROJECTED columns (narrow —
    # only what the profile reads) first.  Exact results are
    # partitioning-independent (count/min/max/decimal sums, distinct
    # via the expand group-by).
    df = spread(df.select(*cols))
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs.append(F.count(F.col(c)).alias(f"__cnt_{c}"))
        ndv = (
            F.approx_count_distinct(c) if approx_distinct else F.countDistinct(c)
        )
        aggs.append(ndv.alias(f"__ndv_{c}"))
        if c in numeric:
            aggs += [
                F.min(F.col(c).cast("double")).alias(f"__min_{c}"),
                F.max(F.col(c).cast("double")).alias(f"__max_{c}"),
                F.sum(F.col(c).cast("decimal(28,6)")).alias(f"__sum_{c}"),
            ]
    wide = df.agg(*aggs)

    null_d = F.lit(None).cast("double")
    rows = []
    for c in cols:
        if c in numeric:
            mn, mx = F.col(f"__min_{c}"), F.col(f"__max_{c}")
            mean = F.col(f"__sum_{c}").cast("double") / F.col(f"__cnt_{c}")
        else:
            mn = mx = mean = null_d
        rows.append(
            F.struct(
                F.lit(c).alias("col_name"),
                F.col("__n").alias("n_rows"),
                (F.col("__n") - F.col(f"__cnt_{c}")).alias("n_nulls"),
                F.col(f"__ndv_{c}").alias("n_distinct"),
                mn.alias("min_value"),
                mx.alias("max_value"),
                mean.alias("mean_value"),
            )
        )
    return wide.select(F.explode(F.array(*rows)).alias("s")).select("s.*")
