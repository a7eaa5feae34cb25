"""Partitioned table writes must enable partition pruning at read time
(the 100 TB requirement: a filtered query touches only its partitions)
AND partition-pruned upserts at write time (a 1 GB batch against a
100 TB table must not rewrite 100 TB)."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from etl_tiki_webscraping_spark.sinks.upsert import read_parquet_table, upsert_parquet


def test_partitioned_upsert_prunes_at_read(spark, tmp_path):
    target = str(tmp_path / "events_by_type")
    df = spark.createDataFrame(
        [(i, ["click", "view", "error"][i % 3], float(i)) for i in range(300)],
        "event_id long, event_type string, value double",
    )
    upsert_parquet(spark, df, target, keys=["event_id"], partition_by=["event_type"])

    read = read_parquet_table(spark, target).filter(F.col("event_type") == "click")
    plan = read._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # the partition predicate must be IN PartitionFilters (pruned), not a data filter
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "event_type" in pf
    assert read.count() == 100

    # upsert into one partition leaves the layout partition-pruned
    updates = spark.createDataFrame([(0, "click", 999.0)], "event_id long, event_type string, value double")
    upsert_parquet(spark, updates, target, keys=["event_id"], partition_by=["event_type"])
    out = read_parquet_table(spark, target)
    assert out.count() == 300
    assert out.filter("event_id = 0").collect()[0]["value"] == 999.0


def _pool_files(snap_dir: str, rel: str) -> dict[str, tuple[int, float]]:
    """{parquet path: (size, mtime)} of the pool dir a snapshot's
    partition entry resolves to."""
    real = os.path.realpath(os.path.join(snap_dir, rel))
    return {
        os.path.join(r, f): (os.path.getsize(os.path.join(r, f)), os.path.getmtime(os.path.join(r, f)))
        for r, _, fs in os.walk(real)
        for f in fs
        if f.endswith(".parquet")
    }


def test_partitioned_upsert_rewrites_only_touched_partitions(spark, tmp_path):
    """The 100 TB write-amplification guarantee: an upsert batch that
    touches one partition leaves every other partition's data files
    untouched — carried into the new snapshot by reference."""
    target = str(tmp_path / "events")
    df = spark.createDataFrame(
        [(i, ["click", "view", "error"][i % 3], float(i)) for i in range(300)],
        "event_id long, event_type string, value double",
    )
    upsert_parquet(spark, df, target, keys=["event_id"], partition_by=["event_type"])
    v1 = os.path.join(target, "v00000001")
    untouched_before = {
        p: _pool_files(v1, p) for p in ("event_type=view", "event_type=error")
    }

    updates = spark.createDataFrame(
        [(0, "click", 999.0), (301, "click", 1.0)],
        "event_id long, event_type string, value double",
    )
    upsert_parquet(spark, updates, target, keys=["event_id"], partition_by=["event_type"])
    v2 = os.path.join(target, "v00000002")

    # untouched partitions: same resolved pool dirs, byte-identical files
    for p, before in untouched_before.items():
        assert os.path.realpath(os.path.join(v2, p)) == os.path.realpath(
            os.path.join(v1, p)
        )
        assert _pool_files(v2, p) == before
    # the new pool version holds ONLY the touched partition (pool dir
    # names are attempt-unique: "<version>-<token>")
    pools_v2 = [
        d for d in os.listdir(os.path.join(target, "data")) if d.startswith("00000002-")
    ]
    assert len(pools_v2) == 1
    pool2 = [
        e
        for e in os.listdir(os.path.join(target, "data", pools_v2[0]))
        if not e.startswith((".", "_"))
    ]
    assert pool2 == ["event_type=click"]

    # the manifest is the object-store-authoritative commit metadata
    with open(os.path.join(target, "v00000002.json")) as fh:
        manifest = json.load(fh)
    assert manifest["partitions"]["event_type=view"].startswith("data/00000001")
    assert manifest["partitions"]["event_type=click"].startswith("data/00000002")

    out = read_parquet_table(spark, target)
    assert out.count() == 301
    assert out.filter("event_id = 0").collect()[0]["value"] == 999.0
    assert out.filter("event_id = 100").collect()[0]["value"] == 100.0  # untouched partition intact

    # time travel across referenced snapshots
    old = read_parquet_table(spark, target, version=1)
    assert old.count() == 300
    assert old.filter("event_id = 0").collect()[0]["value"] == 0.0


def test_partitioned_upsert_new_partition_and_multilevel(spark, tmp_path):
    target = str(tmp_path / "by_type_day")
    df = spark.createDataFrame(
        [(1, "click", 1, 1.0), (2, "view", 1, 2.0)],
        "event_id long, event_type string, day int, value double",
    )
    upsert_parquet(spark, df, target, keys=["event_id"], partition_by=["event_type", "day"])
    updates = spark.createDataFrame(
        [(3, "scroll", 2, 3.0), (1, "click", 1, 9.0)],
        "event_id long, event_type string, day int, value double",
    )
    upsert_parquet(spark, updates, target, keys=["event_id"], partition_by=["event_type", "day"])
    out = read_parquet_table(spark, target)
    rows = {r["event_id"]: (r["event_type"], r["day"], r["value"]) for r in out.collect()}
    assert rows == {1: ("click", 1, 9.0), 2: ("view", 1, 2.0), 3: ("scroll", 2, 3.0)}
    # untouched (view, 1) leaf carried forward by reference
    assert os.path.realpath(
        os.path.join(target, "v00000002", "event_type=view", "day=1")
    ) == os.path.realpath(os.path.join(target, "v00000001", "event_type=view", "day=1"))


def test_partitioned_upsert_prunes_pool_dirs_past_retention(spark, tmp_path):
    """Pool dirs are reclaimed only when no retained snapshot references
    them; referenced ones survive arbitrary numbers of commits."""
    target = str(tmp_path / "retained")
    base = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "id long, part string, v double"
    )
    upsert_parquet(spark, base, target, keys=["id"], partition_by=["part"], keep_snapshots=2)
    for i in range(3, 7):
        batch = spark.createDataFrame([(i, "a", float(i))], "id long, part string, v double")
        upsert_parquet(spark, batch, target, keys=["id"], partition_by=["part"], keep_snapshots=2)
    # partition b was never touched again: its v1 pool dir must survive
    pools_v1 = [
        d for d in os.listdir(os.path.join(target, "data")) if d.startswith("00000001-")
    ]
    assert len(pools_v1) == 1
    assert os.path.isdir(os.path.join(target, "data", pools_v1[0], "part=b"))
    out = read_parquet_table(spark, target)
    assert out.filter("part = 'b'").count() == 1
    assert out.count() == 6
    # snapshots outside the retention window are gone
    assert not os.path.exists(os.path.join(target, "v00000001"))
    assert not os.path.exists(os.path.join(target, "v00000001.json"))


def test_partitioned_upsert_equals_unpartitioned_reference_merge(spark, tmp_path):
    """Property: a sequence of partitioned upserts must produce exactly
    the same table as applying upsert_dataframes unpartitioned — the
    partition pruning is a physical optimization, never a semantic one.
    Batches include new partitions, updated rows, and null partition
    values."""
    import random

    from etl_tiki_webscraping_spark.sinks.upsert import upsert_dataframes

    rng = random.Random(42)
    schema = "id long, part string, v double"
    parts = ["a", "b", "c", "d", None]

    def batch(seed):
        r = random.Random(seed)
        rows = [
            (r.randrange(40), parts[r.randrange(len(parts))], float(r.randrange(1000)))
            for _ in range(15)
        ]
        # dedup ids within the batch (upsert contract: caller resolves dups)
        seen, out = set(), []
        for row in rows:
            if row[0] not in seen:
                seen.add(row[0])
                out.append(row)
        return spark.createDataFrame(out, schema)

    target = str(tmp_path / "prop")
    reference = None
    for i in range(4):
        b = batch(100 + i)
        upsert_parquet(spark, b, target, keys=["id"], partition_by=["part"])
        reference = b if reference is None else upsert_dataframes(reference, b, ["id"])

    got = sorted(
        map(tuple, read_parquet_table(spark, target).select("id", "part", "v").collect()),
        key=lambda t: t[0],
    )
    want = sorted(
        map(tuple, reference.select("id", "part", "v").collect()), key=lambda t: t[0]
    )
    assert got == want


def test_partitioned_upsert_many_partitions_join_fallback(spark, tmp_path, monkeypatch):
    """Force the touched-partition count past the literal-predicate cap
    so the semi-join (dynamic pruning) path executes, and prove it
    merges identically."""
    import etl_tiki_webscraping_spark.sinks.upsert as up

    monkeypatch.setattr(up, "_TOUCHED_LITERAL_MAX", 4)
    target = str(tmp_path / "manyparts")
    base = spark.createDataFrame(
        [(i, f"p{i % 10}", float(i)) for i in range(100)], "id long, part string, v double"
    )
    upsert_parquet(spark, base, target, keys=["id"], partition_by=["part"])
    updates = spark.createDataFrame(
        [(i, f"p{i % 10}", float(i) + 0.5) for i in range(0, 100, 2)],
        "id long, part string, v double",
    )
    upsert_parquet(spark, updates, target, keys=["id"], partition_by=["part"])
    out = {r["id"]: r["v"] for r in read_parquet_table(spark, target).collect()}
    assert len(out) == 100
    assert out[2] == 2.5 and out[3] == 3.0


def test_partitioned_upsert_key_migrating_partitions(spark, tmp_path):
    """A PK update that MOVES a row to another partition must remove the
    stale copy from the old partition (Delta MERGE whole-table-match
    semantics, the safe default); a partition emptied by the migration
    disappears from the snapshot entirely."""
    target = str(tmp_path / "migrate")
    base = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)], "id long, part string, v double"
    )
    upsert_parquet(spark, base, target, keys=["id"], partition_by=["part"])
    # id 3 migrates c -> a; partition c becomes empty
    updates = spark.createDataFrame([(3, "a", 33.0)], "id long, part string, v double")
    upsert_parquet(spark, updates, target, keys=["id"], partition_by=["part"])

    out = read_parquet_table(spark, target)
    rows = {r["id"]: (r["part"], r["v"]) for r in out.collect()}
    assert rows == {1: ("a", 1.0), 2: ("b", 2.0), 3: ("a", 33.0)}
    assert out.count() == 3  # no stale duplicate of id 3 anywhere
    # the emptied partition is gone from the committed snapshot
    assert not os.path.exists(os.path.join(target, "v00000002", "part=c"))
    with open(os.path.join(target, "v00000002.json")) as fh:
        manifest = json.load(fh)
    assert "part=c" not in manifest["partitions"]
    # untouched partition b still carried forward by reference
    assert os.path.realpath(
        os.path.join(target, "v00000002", "part=b")
    ) == os.path.realpath(os.path.join(target, "v00000001", "part=b"))


def test_partitioned_upsert_stable_partitions_skips_key_scan(spark, tmp_path):
    """stable_partitions=True: strictly the batch's own partitions are
    touched — the fast path for key-stable (e.g. date-partitioned)
    layouts."""
    target = str(tmp_path / "stable")
    base = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "id long, part string, v double"
    )
    upsert_parquet(spark, base, target, keys=["id"], partition_by=["part"], stable_partitions=True)
    updates = spark.createDataFrame([(1, "a", 11.0)], "id long, part string, v double")
    upsert_parquet(spark, updates, target, keys=["id"], partition_by=["part"], stable_partitions=True)
    rows = {r["id"]: r["v"] for r in read_parquet_table(spark, target).collect()}
    assert rows == {1: 11.0, 2: 2.0}


def test_compact_table_partitioned_stays_in_referenced_layout(spark, tmp_path):
    """Compacting a partitioned snapshot table rewrites everything (by
    design) but stays in the farm+manifest layout, so subsequent
    partition-pruned upserts keep working incrementally."""
    from etl_tiki_webscraping_spark.sinks.upsert import compact_table

    target = str(tmp_path / "compact")
    base = spark.createDataFrame(
        [(i, ["a", "b"][i % 2], float(i)) for i in range(100)],
        "id long, part string, v double",
    )
    upsert_parquet(spark, base, target, keys=["id"], partition_by=["part"])
    compact_table(spark, target)

    with open(os.path.join(target, "v00000002.json")) as fh:
        manifest = json.load(fh)
    assert set(manifest["partitions"]) == {"part=a", "part=b"}
    assert all(p.startswith("data/00000002") for p in manifest["partitions"].values())
    assert read_parquet_table(spark, target).count() == 100

    # incremental upsert after compaction: untouched partition carried by reference
    updates = spark.createDataFrame([(0, "a", 999.0)], "id long, part string, v double")
    upsert_parquet(spark, updates, target, keys=["id"], partition_by=["part"])
    assert os.path.realpath(
        os.path.join(target, "v00000003", "part=b")
    ) == os.path.realpath(os.path.join(target, "v00000002", "part=b"))
    out = read_parquet_table(spark, target)
    assert out.count() == 100
    assert out.filter("id = 0").collect()[0]["v"] == 999.0


def test_partitioned_upsert_schema_evolution_across_referenced_partitions(spark, tmp_path):
    """Additive evolution on a partitioned table: the manifest stores
    the authoritative schema, so untouched partitions — whose pool
    files were written under the OLD schema and are carried by
    reference, never rewritten — read back with NULL for the new
    column; time travel to v1 still shows the old schema."""
    target = str(tmp_path / "evolve")
    base = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "id long, part string, v double"
    )
    upsert_parquet(spark, base, target, keys=["id"], partition_by=["part"])
    evolved = spark.createDataFrame(
        [(1, "a", 10.0, "x")], "id long, part string, v double, tag string"
    )
    upsert_parquet(
        spark, evolved, target, keys=["id"], partition_by=["part"], evolve_schema=True
    )

    out = {r["id"]: (r["v"], r["tag"]) for r in read_parquet_table(spark, target).collect()}
    assert out == {1: (10.0, "x"), 2: (2.0, None)}
    # partition b was NOT rewritten for the evolution (still referenced from v1 pool)
    assert os.path.realpath(
        os.path.join(target, "v00000002", "part=b")
    ) == os.path.realpath(os.path.join(target, "v00000001", "part=b"))
    # time travel: v1 predates the column
    assert "tag" not in read_parquet_table(spark, target, version=1).columns


def test_delete_where_partitioned_rewrites_only_matching_partitions(spark, tmp_path):
    from etl_tiki_webscraping_spark.sinks.upsert import delete_where

    target = str(tmp_path / "del")
    base = spark.createDataFrame(
        [(i, ["a", "b", "c"][i % 3], float(i)) for i in range(90)],
        "id long, part string, v double",
    )
    upsert_parquet(spark, base, target, keys=["id"], partition_by=["part"])
    delete_where(spark, target, (F.col("part") == "a") & (F.col("id") < 30))
    out = read_parquet_table(spark, target)
    assert out.count() == 90 - 10  # ids 0,3,...,27 in partition a
    assert out.filter("part = 'a' and id < 30").count() == 0
    # partitions b and c carried forward by reference (not rewritten)
    for p in ("part=b", "part=c"):
        assert os.path.realpath(os.path.join(target, "v00000002", p)) == os.path.realpath(
            os.path.join(target, "v00000001", p)
        )
    # time travel still sees the deleted rows
    assert read_parquet_table(spark, target, version=1).count() == 90


def test_delete_where_unpartitioned_and_full_partition_drop(spark, tmp_path):
    from etl_tiki_webscraping_spark.sinks.upsert import delete_where

    target = str(tmp_path / "del2")
    base = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "id long, part string, v double"
    )
    upsert_parquet(spark, base, target, keys=["id"], partition_by=["part"])
    delete_where(spark, target, F.col("part") == "b")
    out = read_parquet_table(spark, target)
    assert {r["id"] for r in out.collect()} == {1}
    assert not os.path.exists(os.path.join(target, "v00000002", "part=b"))  # emptied partition gone

    target2 = str(tmp_path / "del3")
    upsert_parquet(spark, base, target2, keys=["id"])
    delete_where(spark, target2, F.col("id") == 1)
    assert {r["id"] for r in read_parquet_table(spark, target2).collect()} == {2}


def test_foreach_batch_upsert_partitioned_sink(spark, tmp_path):
    import json as _json

    from etl_tiki_webscraping_spark.streaming.events import foreach_batch_upsert

    src = tmp_path / "fb-in"
    src.mkdir()
    rows = [
        {"event_id": "e1", "ts": "2024-01-01 10:00:00", "event_type": "view", "value": 1.0},
        {"event_id": "e2", "ts": "2024-01-01 11:00:00", "event_type": "click", "value": 2.0},
    ]
    with open(src / "part-0.json", "w") as f:
        for r in rows:
            f.write(_json.dumps(r) + "\n")
    stream = spark.readStream.schema(
        "event_id string, ts timestamp, event_type string, value double"
    ).json(str(src))
    target = str(tmp_path / "fb-wh")
    writer = foreach_batch_upsert(
        stream,
        target,
        keys=["event_id"],
        checkpoint_dir=str(tmp_path / "fb-ck"),
        partition_by=["event_type"],
    )
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination(60)
    out = read_parquet_table(spark, target)
    assert out.count() == 2
    assert os.path.isdir(os.path.join(target, "data"))  # partitioned snapshot layout


def test_clustered_compaction_narrows_rowgroup_ranges(spark, tmp_path):
    """sort_by compaction must produce files whose min/max key ranges
    are disjoint (clustered), so selective scans can skip row groups
    via parquet statistics."""
    import pyarrow.parquet as pq

    from etl_tiki_webscraping_spark.sinks.upsert import compact_table

    target = str(tmp_path / "clustered")
    df = spark.createDataFrame(
        [(i * 7919 % 10000, float(i)) for i in range(10000)], "k long, v double"
    )
    upsert_parquet(spark, df, target, keys=["k"])
    compact_table(spark, target, target_file_bytes=20_000, sort_by=["k"])

    snap = os.path.join(target, "v00000002")
    ranges = []
    for f in sorted(os.listdir(snap)):
        if f.endswith(".parquet"):
            md = pq.ParquetFile(os.path.join(snap, f)).metadata
            col = md.row_group(0).column(0)
            ranges.append((col.statistics.min, col.statistics.max))
    assert len(ranges) >= 3  # actually split into multiple files
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint: each file covers a narrow key range
    assert read_parquet_table(spark, target).count() == 10000


def test_partitioned_table_supports_dynamic_partition_pruning(spark, tmp_path):
    """Joining the farm-layout table on its partition column with a
    filtered dimension must produce a dynamicpruning subquery on the
    scan — the runtime analog of static PartitionFilters, and the plan
    shape a 100 TB star join depends on."""
    target = str(tmp_path / "dpp")
    facts = spark.createDataFrame(
        [(i, f"t{i % 20}", float(i)) for i in range(2000)],
        "id long, part string, v double",
    )
    upsert_parquet(spark, facts, target, keys=["id"], partition_by=["part"])
    dim = spark.createDataFrame(
        [(f"t{i}", f"name{i}") for i in range(20)], "part string, name string"
    ).filter(F.col("name") == "name3")

    prev = spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly")
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", "false")
    try:
        joined = read_parquet_table(spark, target).join(dim, on="part")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower()
        assert joined.count() == 100
    finally:
        spark.conf.set(
            "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", prev
        )


def test_partitioned_upsert_recovers_from_crash_leftovers(spark, tmp_path):
    """A run that crashed after writing the pool / building the farm but
    BEFORE the pointer swap leaves stray uncommitted dirs; readers never
    see them and the next upsert overwrites and commits cleanly."""
    target = str(tmp_path / "crashy")
    base = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "id long, part string, v double"
    )
    upsert_parquet(spark, base, target, keys=["id"], partition_by=["part"])

    # simulate the crash: stray pool version, half-built farm, stray farm dir
    os.makedirs(os.path.join(target, "data", "00000002", "part=z"))
    with open(os.path.join(target, "data", "00000002", "part=z", "junk.parquet"), "w") as f:
        f.write("not parquet")
    os.makedirs(os.path.join(target, "v00000002.build", "part=z"))
    os.makedirs(os.path.join(target, "v00000002"))

    before = sorted(
        map(tuple, read_parquet_table(spark, target).select("id", "part", "v").collect())
    )
    assert before == [(1, "a", 1.0), (2, "b", 2.0)]  # reader unaffected

    updates = spark.createDataFrame([(1, "a", 11.0)], "id long, part string, v double")
    upsert_parquet(spark, updates, target, keys=["id"], partition_by=["part"])
    out = {r["id"]: r["v"] for r in read_parquet_table(spark, target).collect()}
    assert out == {1: 11.0, 2: 2.0}
    # the stray junk partition never entered the committed manifest
    with open(os.path.join(target, "v00000002.json")) as fh:
        manifest = json.load(fh)
    assert "part=z" not in manifest["partitions"]
    assert not os.path.exists(os.path.join(target, "v00000002.build"))


def test_write_audit_publish_gate_partitioned(spark, tmp_path):
    import pytest

    target = str(tmp_path / "wap")
    base = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "id long, part string, v double"
    )
    upsert_parquet(spark, base, target, keys=["id"], partition_by=["part"])

    def reject(df):
        # the audit sees the COMPLETE candidate table (touched + referenced)
        assert df.count() >= 2
        if df.filter("v < 0").count() > 0:
            raise ValueError("negative value")

    bad = spark.createDataFrame([(3, "a", -1.0)], "id long, part string, v double")
    with pytest.raises(ValueError):
        upsert_parquet(spark, bad, target, keys=["id"], partition_by=["part"], audit=reject)
    assert read_parquet_table(spark, target).count() == 2  # still v1

    ok = spark.createDataFrame([(3, "a", 3.0)], "id long, part string, v double")
    upsert_parquet(spark, ok, target, keys=["id"], partition_by=["part"], audit=reject)
    assert read_parquet_table(spark, target).count() == 3


def test_partition_evolution_via_compaction(spark, tmp_path):
    """Repartitioning an existing table's LAYOUT (Iceberg partition
    evolution, done eagerly): repartition_table(partition_by=<new cols>)
    rewrites the current snapshot into the new hive layout under the
    same commit protocol, and a later compaction keeps that layout —
    subsequent reads prune on the NEW partition column and the rows
    survive bit-exact."""
    from pyspark.sql import functions as F

    from etl_tiki_webscraping_spark.sinks.upsert import compact_table, repartition_table

    target = str(tmp_path / "evolving")
    df = spark.createDataFrame(
        [(i, "click" if i % 2 else "view", i % 3, float(i)) for i in range(300)],
        "event_id long, event_type string, day int, value double",
    )
    upsert_parquet(spark, df, target, keys=["event_id"], partition_by=["event_type"])
    cols = ["event_id", "event_type", "day", "value"]  # hive layout reorders
    before = sorted(map(tuple, read_parquet_table(spark, target).select(*cols).collect()))

    repartition_table(spark, target, partition_by=["day"])
    compact_table(spark, target)

    after = sorted(map(tuple, read_parquet_table(spark, target).select(*cols).collect()))
    assert after == before
    # pruning now works on the new layout
    plan = (
        read_parquet_table(spark, target)
        .filter(F.col("day") == 1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "day" in plan.split("PartitionFilters:")[1].split("]")[0]
    # and further partition-pruned upserts use the new column
    upd = spark.createDataFrame([(0, "view", 0, 999.0)], "event_id long, event_type string, day int, value double")
    upsert_parquet(spark, upd, target, keys=["event_id"], partition_by=["day"])
    assert read_parquet_table(spark, target).filter("event_id = 0").collect()[0]["value"] == 999.0
