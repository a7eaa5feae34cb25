"""Record-materialization sources (SURVEY.md §2.1 S5-S6, §2.6 F4-F6).

The reference turns scraped JSON into tables with
``pd.DataFrame.from_dict`` (/root/reference/dags/etl.py:60,97,142) and
flattens the category sitemap's nested ``result.data[].child[]`` into a
dict of category -> [sub_categories] (:31-39).

Spark restatement: explicit-schema ``createDataFrame`` (no dtype
inference — deterministic, SURVEY §1.3) and an ``explode`` +
struct-field-access flatten that keeps the relational 2-column form
instead of a driver-side dict.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_tiki_webscraping_spark.schemas import SITEMAP_CATEGORY


def records_to_df(spark: SparkSession, records: Sequence[dict], schema: T.StructType | str) -> DataFrame:
    """list-of-dicts -> typed DataFrame (S6) with a declared schema."""
    return spark.createDataFrame(records, schema=schema)


def json_records_to_df(df: DataFrame, json_col: str, schema: T.StructType | str) -> DataFrame:
    """Parse a string column of JSON docs into typed struct fields (F4),
    replacing the payload column with its parsed fields.
    """
    parsed = df.withColumn("__parsed", F.from_json(F.col(json_col), schema))
    return parsed.select(*[c for c in df.columns if c != json_col], "__parsed.*")


def sitemap_to_pairs(spark: SparkSession, sitemap_records: Sequence[dict]) -> DataFrame:
    """Flatten the category sitemap (S1 payload shape) to
    (category, sub_category) pairs — the relational form of the
    reference's ``sub_category_dict`` (dags/etl.py:32-39, F5/F6).

    Categories with no children are dropped, matching the reference
    (its inner loop body never runs for an empty ``child`` list).
    """
    cats = spark.createDataFrame(sitemap_records, schema=T.ArrayType(SITEMAP_CATEGORY).elementType)
    return (
        cats.select(
            F.col("url_key").alias("category"),
            F.explode("child").alias("c"),
        )
        .select("category", F.col("c.url_key").alias("sub_category"))
    )


def dbapi_read(
    spark: SparkSession,
    connect: "object",
    query: str,
    schema: T.StructType | str,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 1,
    fetch_size: int = 10_000,
) -> DataFrame:
    """Partitioned SQL read over any DBAPI-2.0 database (S5, executed).

    The executable counterpart of ``spark.read.jdbc``'s partitioned
    read, with the same range-partitioning contract
    (partitionColumn/lowerBound/upperBound/numPartitions): the key
    range is split into ``num_partitions`` strides; each Spark task
    opens ITS OWN connection and runs the pushed-down query with its
    stride's WHERE clause, so the database does the filtering and the
    read parallelizes across executors.  Boundary semantics match
    Spark's JDBCRelation: the first stride is unbounded below (and
    takes NULL keys), the last unbounded above — every row is read
    exactly once even when the bounds don't cover the key range.

    ``connect`` must be a picklable zero-arg callable returning a new
    DBAPI connection — e.g. ``functools.partial(sqlite3.connect, path)``
    or ``functools.partial(duckdb.connect, path)``; executor tasks call
    it independently (never share a connection across processes).

    100 TB shape: reads fan out N-ways with bounded per-task memory
    (``fetch_size`` rows per cursor fetch); the collect-free plan makes
    this usable as the warehouse read-back leg of the FK key-space
    union (dags/etl.py:247-250) at any scale the database can serve.
    """
    names = (
        [f.name for f in schema.fields]
        if isinstance(schema, T.StructType)
        else [c.split()[0] for c in str(schema).split(",")]
    )

    if partition_column is None or num_partitions <= 1:
        predicates = ["1=1"]
    else:
        if lower_bound is None or upper_bound is None:
            raise ValueError("partitioned dbapi_read needs lower_bound and upper_bound")
        if upper_bound <= lower_bound:  # same requirement spark.read.jdbc enforces
            raise ValueError(
                f"upper_bound ({upper_bound}) must be > lower_bound ({lower_bound})"
            )
        # JDBCRelation.columnPartition stride arithmetic
        stride = (upper_bound - lower_bound) // num_partitions or 1
        predicates = []
        for i in range(num_partitions):
            lo = lower_bound + i * stride
            hi = lower_bound + (i + 1) * stride
            if i == 0 and i == num_partitions - 1:
                predicates.append("1=1")
            elif i == 0:
                predicates.append(
                    f"({partition_column} < {hi} OR {partition_column} IS NULL)"
                )
            elif i == num_partitions - 1:
                predicates.append(f"{partition_column} >= {lo}")
            else:
                predicates.append(
                    f"({partition_column} >= {lo} AND {partition_column} < {hi})"
                )

    import pandas as pd

    def run(batches):
        for batch in batches:
            for pred in batch["predicate"]:
                con = connect()
                try:
                    cur = con.cursor()
                    cur.execute(f"SELECT * FROM ({query}) __q WHERE {pred}")
                    while True:
                        rows = cur.fetchmany(fetch_size)
                        if not rows:
                            break
                        yield pd.DataFrame.from_records(list(rows), columns=names)
                finally:
                    con.close()

    # round-robin so each task gets exactly one stride (hash-partitioning
    # on the predicate could collide strides into one task)
    pred_df = spark.createDataFrame(
        [(p,) for p in predicates], "predicate string"
    ).repartition(len(predicates))
    return pred_df.mapInPandas(run, schema=schema)


def gunzip_member_text(df: DataFrame, content_col: str = "content",
                       text_col: str = "xml") -> DataFrame:
    """Strict single-member gzip -> utf-8 text (round-15, the
    compressed-sitemap leg of VERDICT r14 ask #3): a blob with the
    gzip magic must decompress to EOF with NO trailing garbage
    (truncated members -> NULL, the observable-quarantine rule);
    plain blobs pass through decoded.  One Arrow-batched pandas_udf —
    blobs never shuffle, 1->1."""
    # module-global import: the future-annotations string hints on the
    # kernel resolve 'pd' against module globals, not closure locals
    global pd
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def kernel(blobs: pd.Series) -> pd.Series:
        import zlib

        out = []
        for blob in blobs:
            if blob is None:
                out.append(None)
                continue
            data = bytes(blob)
            if data[:2] == b"\x1f\x8b":
                d = zlib.decompressobj(wbits=31)
                try:
                    raw = d.decompress(data)
                except zlib.error:
                    out.append(None)
                    continue
                if not d.eof or d.unused_data:
                    out.append(None)
                    continue
                out.append(raw.decode("utf-8", "replace"))
            else:
                out.append(data.decode("utf-8", "replace"))
        return pd.Series(out, dtype="object")

    return df.withColumn(text_col, kernel(F.col(content_col)))


def gunzip_concat_text(df: DataFrame, content_col: str = "content",
                       text_col: str = "text") -> DataFrame:
    """Strict MULTI-member gzip -> utf-8 text (round-15, the
    ``.jsonl.gz`` shard shape): concatenated gzip members are a valid
    gzip stream (RFC 1952 §2.2) and the standard way shard writers
    append — every member must decompress to ITS OWN clean EOF and
    the members must tile the blob exactly (truncated final member or
    trailing garbage -> NULL, the observable-quarantine rule); the
    decompressed members concatenate in order.  One Arrow-batched
    pandas_udf, 1->1 — blobs never shuffle, and everything after the
    decompress (line split, JSON parse) stays JVM-side."""
    global pd
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def kernel(blobs: pd.Series) -> pd.Series:
        import zlib

        out = []
        for blob in blobs:
            if blob is None:
                out.append(None)
                continue
            data = bytes(blob)
            if data[:2] != b"\x1f\x8b":
                out.append(None)
                continue
            parts: "list[bytes]" = []
            rest = data
            ok = True
            while rest:
                d = zlib.decompressobj(wbits=31)
                try:
                    parts.append(d.decompress(rest))
                except zlib.error:
                    ok = False
                    break
                if not d.eof:
                    ok = False  # truncated member
                    break
                rest = d.unused_data
                if rest and rest[:2] != b"\x1f\x8b":
                    ok = False  # trailing garbage between members
                    break
            out.append(
                b"".join(parts).decode("utf-8", "replace") if ok else None
            )
        return pd.Series(out, dtype="object")

    return df.withColumn(text_col, kernel(F.col(content_col)))


def decompress_concat_text(df: DataFrame, content_col: str = "content",
                           text_col: str = "text") -> DataFrame:
    """Codec-dispatched strict decompression (round-15): the three
    compressions public corpus dumps actually ship — gzip members
    (RFC 1952), bzip2 MULTISTREAM (the Wikipedia-dump layout:
    independently-compressed streams concatenated back to back), and
    xz (Pushshift-era archives) — all stdlib, dispatched on magic
    bytes.  Every member/stream must reach its own clean EOF and the
    members must tile the blob exactly; truncation, trailing garbage,
    or an unknown magic -> NULL (the observable-quarantine rule).
    One Arrow-batched pandas_udf, 1->1 — blobs never shuffle;
    codec SNIFFING stays JVM-side in callers (hex prefix compare) so
    the quarantine row still reports what the blob claimed to be."""
    global pd
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def kernel(blobs: pd.Series) -> pd.Series:
        import bz2
        import lzma
        import zlib

        def gunzip_all(data: bytes) -> "bytes | None":
            parts, rest = [], data
            while rest:
                d = zlib.decompressobj(wbits=31)
                try:
                    parts.append(d.decompress(rest))
                except zlib.error:
                    return None
                if not d.eof:
                    return None
                rest = d.unused_data
                if rest and rest[:2] != b"\x1f\x8b":
                    return None
            return b"".join(parts)

        def bunzip_all(data: bytes) -> "bytes | None":
            parts, rest = [], data
            while rest:
                d = bz2.BZ2Decompressor()
                try:
                    parts.append(d.decompress(rest))
                except OSError:
                    return None
                if not d.eof:
                    return None  # truncated stream
                rest = d.unused_data
                if rest and rest[:3] != b"BZh":
                    return None
            return b"".join(parts)

        def unxz_all(data: bytes) -> "bytes | None":
            parts, rest = [], data
            while rest:
                d = lzma.LZMADecompressor(format=lzma.FORMAT_XZ)
                try:
                    parts.append(d.decompress(rest))
                except lzma.LZMAError:
                    return None
                if not d.eof:
                    return None
                rest = d.unused_data
                if rest and rest[:6] != b"\xfd7zXZ\x00":
                    return None
            return b"".join(parts)

        out = []
        for blob in blobs:
            if blob is None:
                out.append(None)
                continue
            data = bytes(blob)
            if data[:2] == b"\x1f\x8b":
                raw = gunzip_all(data)
            elif data[:3] == b"BZh":
                raw = bunzip_all(data)
            elif data[:6] == b"\xfd7zXZ\x00":
                raw = unxz_all(data)
            else:
                raw = None
            out.append(
                raw.decode("utf-8", "replace") if raw is not None else None
            )
        return pd.Series(out, dtype="object")

    return df.withColumn(text_col, kernel(F.col(content_col)))
