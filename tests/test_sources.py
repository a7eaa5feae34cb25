"""HTTP-source builders with injected fetchers (SURVEY.md §2.1 S1-S4).
No network — fetchers are plain callables over synthetic data."""

from __future__ import annotations

import pandas as pd
import pytest

from etl_tiki_webscraping_spark.sources.http import (
    FetchConfig,
    keyed_lookup_source,
    paginated_source,
)
from etl_tiki_webscraping_spark.sources.records import (
    json_records_to_df,
    records_to_df,
    sitemap_to_pairs,
)

FAST = FetchConfig(max_retries=2, backoff_seconds=0.0)


def test_paginated_source_until_empty(spark):
    """3 pages of 2 rows per key, page 4 empty -> 6 rows/key, all keys
    covered (the reference's tail-loss split bug must not reproduce)."""
    keys = spark.createDataFrame([(f"k{i}",) for i in range(7)], "shop_id string")

    def fetch(row, page, cfg):
        if page > 3:
            return None
        return [{"rating_id": f"{row['shop_id']}-{page}-{j}", "star": page} for j in range(2)]

    out = paginated_source(
        keys, fetch, "rating_id string, star int, shop_id string", cfg=FAST, num_partitions=3
    ).collect()
    assert len(out) == 7 * 6
    assert {r["shop_id"] for r in out} == {f"k{i}" for i in range(7)}  # no tail loss
    # provenance tag rides along
    assert all(r["rating_id"].startswith(r["shop_id"]) for r in out)


def test_paginated_source_empty_first_page(spark):
    keys = spark.createDataFrame([("k0",)], "shop_id string")
    out = paginated_source(keys, lambda r, p, c: [], "x string, shop_id string", cfg=FAST)
    assert out.count() == 0


def test_keyed_lookup_skips_none(spark):
    keys = spark.createDataFrame([("a",), ("b",), ("c",)], "path string")

    def fetch(row, cfg):
        if row["path"] == "b":
            return None
        return {"shop_id": row["path"].upper()}

    out = keyed_lookup_source(keys, fetch, "shop_id string, path string", cfg=FAST).collect()
    assert sorted(r["shop_id"] for r in out) == ["A", "C"]


def test_retries_then_success(spark, tmp_path):
    """Fetcher failing < max_retries times per key still yields rows
    (the reference's retries=2, dags/etl.py:288-289)."""
    keys = spark.createDataFrame([("k0",)], "shop_id string")
    # executor-side state: track attempts per page in a module-level dict
    # won't survive serialization; instead fail deterministically on the
    # first call only via page-scoped logic: page 1 raises once by using
    # a sentinel file.
    import os

    marker = str(tmp_path / "failed-once")

    def fetch(row, page, cfg):
        if page == 1 and not os.path.exists(marker):
            open(marker, "w").close()
            raise RuntimeError("transient")
        if page > 1:
            return None
        return [{"v": 42}]

    out = paginated_source(keys, fetch, "v int, shop_id string", cfg=FAST).collect()
    assert [r["v"] for r in out] == [42]


def test_retries_exhausted_raises(spark):
    keys = spark.createDataFrame([("k0",)], "shop_id string")

    def fetch(row, page, cfg):
        raise RuntimeError("down")

    with pytest.raises(Exception):
        paginated_source(keys, fetch, "v int, shop_id string", cfg=FAST).collect()


def test_records_to_df_explicit_schema(spark):
    df = records_to_df(spark, [{"a": 1, "b": "x"}], "a int, b string")
    assert df.schema.simpleString() == "struct<a:int,b:string>"
    assert df.collect()[0]["b"] == "x"


def test_json_records_to_df(spark):
    df = spark.createDataFrame([(1, '{"x": 5, "y": "s"}')], "id int, payload string")
    out = json_records_to_df(df, "payload", "x int, y string")
    row = out.collect()[0]
    assert (row["id"], row["x"], row["y"]) == (1, 5, "s")
    assert "payload" not in out.columns


def test_sitemap_flatten(spark):
    records = [
        {"url_key": "electronics", "child": [{"url_key": "phones"}, {"url_key": "laptops"}]},
        {"url_key": "empty-cat", "child": []},
    ]
    out = sitemap_to_pairs(spark, records).collect()
    pairs = sorted((r["category"], r["sub_category"]) for r in out)
    # childless categories are dropped, matching the reference loop
    assert pairs == [("electronics", "laptops"), ("electronics", "phones")]


def test_dbapi_read_partitioned_covers_all_rows_and_nulls(spark, tmp_path):
    """Range strides must read every row exactly once: boundary rows
    OUTSIDE [lower_bound, upper_bound] land in the unbounded first/last
    strides, NULL keys in the first (spark.read.jdbc's contract)."""
    import functools
    import sqlite3

    from etl_tiki_webscraping_spark.sources.records import dbapi_read

    db = str(tmp_path / "t.db")
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE t (k INT, v TEXT)")
    rows = [(k, f"v{k}") for k in range(0, 100)] + [(None, "vnull"), (-50, "vlow"), (999, "vhigh")]
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    con.commit()
    con.close()

    out = dbapi_read(
        spark,
        functools.partial(sqlite3.connect, db),
        "SELECT k, v FROM t",
        "k bigint, v string",
        partition_column="k",
        lower_bound=10,
        upper_bound=90,
        num_partitions=4,
    )
    got = sorted((r["k"], r["v"]) for r in out.collect() if r["k"] is not None)
    assert got == sorted((k, v) for k, v in rows if k is not None)
    assert [r["v"] for r in out.collect() if r["k"] is None] == ["vnull"]
    # each stride became its own task
    assert out.rdd.getNumPartitions() == 4


def test_dbapi_read_single_partition_and_pushdown(spark, tmp_path):
    import functools
    import sqlite3

    from etl_tiki_webscraping_spark.sources.records import dbapi_read

    db = str(tmp_path / "s.db")
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE t (k INT, v TEXT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", [(1, "a"), (2, "b"), (3, "c")])
    con.commit()
    con.close()
    out = dbapi_read(
        spark,
        functools.partial(sqlite3.connect, db),
        "SELECT k, v FROM t WHERE k >= 2",  # query pushdown: DB filters
        "k bigint, v string",
    )
    assert sorted((r["k"], r["v"]) for r in out.collect()) == [(2, "b"), (3, "c")]


def test_gunzip_member_text(spark):
    import zlib

    from pyspark.sql import types as T

    from etl_tiki_webscraping_spark.sources.records import (
        gunzip_member_text,
    )

    def gz(data: bytes) -> bytes:
        co = zlib.compressobj(6, zlib.DEFLATED, 31)
        return co.compress(data) + co.flush()

    rows = [
        (1, bytearray(b"<urlset>plain</urlset>")),
        (2, bytearray(gz(b"<urlset>gz</urlset>"))),
        (3, bytearray(gz(b"<urlset>cut</urlset>")[:-6])),   # truncated
        (4, bytearray(gz(b"<u/>") + b"trailing")),           # garbage
    ]
    schema = T.StructType([
        T.StructField("site_id", T.LongType()),
        T.StructField("content", T.BinaryType()),
    ])
    out = {r["site_id"]: r["xml"]
           for r in gunzip_member_text(
               spark.createDataFrame(rows, schema)).collect()}
    assert out[1] == "<urlset>plain</urlset>"
    assert out[2] == "<urlset>gz</urlset>"
    assert out[3] is None and out[4] is None


# --- paginated_source frame building: rows must equal the per-page
# semantics (each page's records tagged with the key columns, columns
# the page lacks null-filled), however the rows are batched into frames


def _per_page_rows(key_rows, fetch, names, key_cols):
    out = []
    for row in key_rows:
        page = 1
        while data := fetch(row, page, FAST):
            tags = {k: row[k] for k in key_cols if k in names}
            out += [tuple({**rec, **tags}.get(n) for n in names) for rec in data]
            page += 1
    return sorted(out, key=repr)


def _source_rows(spark, key_rows, fetch, schema, num_partitions=None):
    keys = spark.createDataFrame(key_rows, "shop_id string")
    out = paginated_source(keys, fetch, schema, cfg=FAST, num_partitions=num_partitions)
    return sorted(map(tuple, out.collect()), key=repr)


def test_paginated_source_null_fills_page_column_subsets(spark):
    """Pages returning different column subsets (and a column the schema
    lacks) come back null-filled to the declared schema."""
    pages = {
        1: [{"rating_id": "a", "star": 5}, {"rating_id": "b"}],
        2: [{"comment": "ok", "star": 3}],
        3: [{"rating_id": "c", "comment": "meh", "ignored": 1.5}],
    }

    def fetch(row, page, cfg):
        return [dict(r, rating_id=f"{row['shop_id']}-{r['rating_id']}") if "rating_id" in r
                else dict(r) for r in pages.get(page, [])]

    key_rows = [{"shop_id": f"s{i}"} for i in range(3)]
    schema = "rating_id string, star int, comment string, shop_id string"
    names = ["rating_id", "star", "comment", "shop_id"]
    got = _source_rows(spark, key_rows, fetch, schema, num_partitions=2)
    assert got == _per_page_rows(key_rows, fetch, names, ["shop_id"])
    assert ("s0-b", None, None, "s0") in got and (None, 3, "ok", "s1") in got


def test_paginated_source_tag_overrides_fetched_key(spark):
    """A fetched value in a key column is replaced by the provenance tag."""

    def fetch(row, page, cfg):
        if page > 2:
            return None
        return [{"rating_id": f"{row['shop_id']}-{page}", "shop_id": "WRONG"}]

    key_rows = [{"shop_id": f"s{i}"} for i in range(4)]
    got = _source_rows(spark, key_rows, fetch, "rating_id string, shop_id string")
    assert got == _per_page_rows(key_rows, fetch, ["rating_id", "shop_id"], ["shop_id"])
    assert all(rid.startswith(shop + "-") for rid, shop in got)


def test_paginated_source_crosses_flush_boundary(spark):
    """One key whose pages sum to 25,001 rows spans three frame flushes
    and loses or duplicates no row; a second key in the same partition
    continues the buffer."""

    def fetch(row, page, cfg):
        n = {"big": 25_001, "small": 7}[row["shop_id"]]
        lo = (page - 1) * 1_000
        return [{"rating_id": f"{row['shop_id']}-{i}", "star": i % 5}
                for i in range(lo, min(lo + 1_000, n))]

    key_rows = [{"shop_id": "big"}, {"shop_id": "small"}]
    names = ["rating_id", "star", "shop_id"]
    got = _source_rows(spark, key_rows, fetch, "rating_id string, star int, shop_id string",
                       num_partitions=1)
    assert len(got) == len(set(got)) == 25_008
    assert got == _per_page_rows(key_rows, fetch, names, ["shop_id"])


def test_paginated_source_no_rows_from_any_page(spark):
    """A run where no page returns rows yields no rows, not an empty or
    all-null frame per key."""
    key_rows = [{"shop_id": f"s{i}"} for i in range(6)]

    def fetch(row, page, cfg):
        return [] if row["shop_id"] < "s3" else None

    assert _source_rows(spark, key_rows, fetch, "x string, shop_id string", num_partitions=3) == []
