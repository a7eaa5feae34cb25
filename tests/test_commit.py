"""The single snapshot-commit path of sinks/upsert.py: every table
writer stages under an attempt-unique name, writes its manifest,
publishes through ``_publish_staged`` and reclaims its staging when the
publish fails."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

import etl_tiki_webscraping_spark.sinks.upsert as U

SCHEMA = "k int, p int, v double"
COLS = ("k", "p", "v")

# manifest key sets the writers commit (unchanged since the tables'
# on-disk format was fixed; tables written before must stay readable)
BASE = {"attempt", "file_stats", "schema", "version"}
PART = BASE | {"partition_by", "partitions"}
DV = BASE | {"deletion_vectors"}


def _rows(df):
    return sorted(tuple(r) for r in df.select(*COLS).collect())


def _seed(spark, path, partitioned):
    rows = spark.createDataFrame([(k, k % 3, float(k)) for k in range(30)], SCHEMA)
    U.upsert_parquet(
        spark, rows, path, ["k"], partition_by=["p"] if partitioned else None,
        keep_snapshots=9,
    )


def _batch(spark):
    return spark.createDataFrame([(4, 1, 40.0), (31, 1, 31.0)], SCHEMA)


def _changes(spark):
    return spark.createDataFrame(
        [(4, 1, 40.0, "U", 1), (5, 2, 0.0, "D", 1), (31, 1, 31.0, "I", 1)],
        SCHEMA + ", op string, seq int",
    )


# (leg id, seed partitioned?, writer(spark, path, dest), committed manifest keys)
LEGS = [
    ("upsert_unpartitioned", False,
     lambda s, t, d: U.upsert_parquet(s, _batch(s), t, ["k"]), BASE),
    ("upsert_partitioned", True,
     lambda s, t, d: U.upsert_parquet(s, _batch(s), t, ["k"]), PART),
    ("delete_copy_on_write", True,
     lambda s, t, d: U.delete_where(s, t, F.col("k") == 4), PART),
    ("delete_deletion_vectors", False,
     lambda s, t, d: U.delete_where(s, t, F.col("k") == 4, deletion_vectors=True), DV),
    ("update_copy_on_write", True,
     lambda s, t, d: U.update_where(
         s, t, F.col("k") == 4, {"v": F.lit(99.0)}), PART),
    ("update_merge_on_read", False,
     lambda s, t, d: U.update_where(
         s, t, F.col("k") == 4, {"v": F.lit(99.0)}, merge_on_read=True), DV),
    ("restore", False,
     lambda s, t, d: U.restore_table(s, t, version=1), BASE | {"restored_from"}),
    ("clone", True,
     lambda s, t, d: U.clone_table(s, t, d), PART | {"cloned_from"}),
    ("compact", True,
     lambda s, t, d: U.compact_table(s, t), PART),
    ("repartition", False,
     lambda s, t, d: U.repartition_table(s, t, partition_by=["p"]), PART),
    ("apply_changes", True,
     lambda s, t, d: U.apply_changes_parquet(s, _changes(s), t, ["k"]), PART),
]


def _inventory(path):
    """Top-level entries of a table dir plus its data/ pool dirs."""
    out = set()
    for e in os.listdir(path):
        if e == "data":
            out |= {f"data/{p}" for p in os.listdir(os.path.join(path, e))}
        else:
            out.add(e)
    return out


@pytest.mark.parametrize(
    "partitioned, write, manifest_keys",
    [leg[1:] for leg in LEGS],
    ids=[leg[0] for leg in LEGS],
)
def test_failed_publish_reclaims_staging_and_manifest_keys_hold(
    spark, tmp_path, monkeypatch, partitioned, write, manifest_keys
):
    path, dest = str(tmp_path / "t"), str(tmp_path / "clone")
    _seed(spark, path, partitioned)
    before_rows = _rows(U.read_parquet_table(spark, path))
    before = _inventory(path)

    def lose(target_path, next_version, stage_base, keep_snapshots):
        raise U.ConcurrentWriteError("a concurrent writer published first")

    monkeypatch.setattr(U, "_publish_staged", lose)
    with pytest.raises(U.ConcurrentWriteError):
        write(spark, path, dest)
    monkeypatch.undo()

    # nothing of the failed attempt survives: no stage dir or manifest,
    # no claim token, no new data/ pool — in the target or a clone dest
    assert _inventory(path) == before
    if os.path.exists(dest):
        assert _inventory(dest) == set()
    assert U._current_snapshot(path) == "v00000001"
    assert _rows(U.read_parquet_table(spark, path)) == before_rows

    write(spark, path, dest)
    table = dest if os.path.exists(dest) else path
    cur = U._current_snapshot(table)
    with open(os.path.join(table, cur + ".json")) as fh:
        manifest = json.load(fh)
    assert set(manifest) == manifest_keys
    assert manifest["attempt"].startswith(cur + ".stage-")


def test_merge_on_read_update_refuses_partitioned_table(spark, tmp_path):
    """The post-image file of a merge-on-read update lands at the
    snapshot root, where a hive farm's partition discovery never sees
    it: on a partitioned table the update would commit and silently
    drop every matched row.  The layout is read from the committed
    table, so no argument can bypass the refusal."""
    path = str(tmp_path / "t")
    _seed(spark, path, partitioned=True)
    with pytest.raises(ValueError, match="unpartitioned layout"):
        U.update_where(
            spark, path, F.col("k") == 4, {"v": F.lit(99.0)}, merge_on_read=True
        )
    assert U._current_snapshot(path) == "v00000001"
    assert len(_rows(U.read_parquet_table(spark, path))) == 30


SEED = {k: (k, k % 3, float(k)) for k in range(30)}


def _expect(changes=(), deletes=()):
    rows = {k: r for k, r in SEED.items() if k not in deletes}
    rows.update({r[0]: r for r in changes})
    return sorted(rows.values())


# (leg id, writer called WITHOUT partition_by, p values its batch touches,
#  the table's rows after it)
LAYOUT_LEGS = [
    ("upsert", lambda s, t: U.upsert_parquet(s, _batch(s), t, ["k"]),
     {1}, _expect(changes=[(4, 1, 40.0), (31, 1, 31.0)])),
    ("delete_where", lambda s, t: U.delete_where(s, t, F.col("k") == 4),
     {1}, _expect(deletes={4})),
    ("update_where",
     lambda s, t: U.update_where(s, t, F.col("k") == 4, {"v": F.lit(99.0)}),
     {1}, _expect(changes=[(4, 1, 99.0)])),
    ("compact", lambda s, t: U.compact_table(s, t), {0, 1, 2}, _expect()),
    ("apply_changes",
     lambda s, t: U.apply_changes_parquet(s, _changes(s), t, ["k"]),
     {1, 2}, _expect(changes=[(4, 1, 40.0), (31, 1, 31.0)], deletes={5})),
]


@pytest.mark.parametrize(
    "write, touched, expect",
    [leg[1:] for leg in LAYOUT_LEGS],
    ids=[leg[0] for leg in LAYOUT_LEGS],
)
def test_writers_keep_the_recorded_layout(spark, tmp_path, write, touched, expect):
    """A table's layout is set when it is created: a writer called
    without ``partition_by`` reads it from the committed manifest, keeps
    it, and rewrites only the partitions its batch touches — every
    other partition's link still resolves to its v1 pool dir."""
    path = str(tmp_path / "t")
    _seed(spark, path, partitioned=True)
    write(spark, path)
    cur = U._current_snapshot(path)
    assert cur == "v00000002"
    with open(os.path.join(path, cur + ".json")) as fh:
        manifest = json.load(fh)
    assert manifest["partition_by"] == ["p"]
    assert set(manifest["partitions"]) == {"p=0", "p=1", "p=2"}
    for p in range(3):
        v1, v2 = (os.path.realpath(os.path.join(path, v, f"p={p}"))
                  for v in ("v00000001", cur))
        assert (v1 != v2) == (p in touched), p
    assert _rows(U.read_parquet_table(spark, path)) == expect


@pytest.mark.parametrize("partitioned", [True, False], ids=["partitioned", "unpartitioned"])
def test_a_different_layout_raises_and_names_repartition_table(
    spark, tmp_path, partitioned
):
    """``partition_by`` lays out a table only when the call creates it;
    on an existing table a different value raises instead of silently
    changing the layout, and nothing is committed."""
    path = str(tmp_path / "t")
    _seed(spark, path, partitioned)
    other = ["k"] if partitioned else ["p"]
    with pytest.raises(ValueError, match="repartition_table"):
        U.upsert_parquet(spark, _batch(spark), path, ["k"], partition_by=other)
    with pytest.raises(ValueError, match="repartition_table"):
        U.apply_changes_parquet(spark, _changes(spark), path, ["k"], partition_by=other)
    assert U._current_snapshot(path) == "v00000001"
    # restating the recorded layout is allowed
    U.upsert_parquet(
        spark, _batch(spark), path, ["k"], partition_by=["p"] if partitioned else []
    )
    assert U._current_snapshot(path) == "v00000002"
