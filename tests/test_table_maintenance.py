"""Table maintenance: RESTORE / VACUUM / shallow CLONE on the snapshot
table layout (sinks/upsert.py), plus the table_diff reconciliation
operator (operators/relational.py).  The reference's warehouse keeps
only current state (dags/etl.py:181-202); these are the history-
management operations a 100 TB snapshot table needs."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_tiki_webscraping_spark.operators.relational import table_diff
from etl_tiki_webscraping_spark.sinks.upsert import (
    clone_table,
    read_change_feed,
    read_parquet_table,
    repartition_table,
    restore_table,
    table_history,
    upsert_parquet,
    vacuum_table,
)


def _rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _orders(spark, sf_dir, mod, price_bump=0.0):
    return (
        read_parquet_table(spark, os.path.join(sf_dir, "orders.parquet"))
        .filter(F.col("o_orderkey") % mod == 0)
        .select(
            "o_orderkey",
            "o_custkey",
            (F.col("o_totalprice").cast("double") + F.lit(price_bump)).alias("price"),
            F.col("o_orderpriority").alias("prio"),
        )
    )


COLS = ("o_orderkey", "o_custkey", "price", "prio")


class TestRestore:
    def test_unpartitioned_roundtrip_metadata_only(self, spark, sf_dir, tmp_path):
        path = str(tmp_path / "t")
        upsert_parquet(spark, _orders(spark, sf_dir, 3), path, ["o_orderkey"], keep_snapshots=9)
        v1 = _rows(read_parquet_table(spark, path), *COLS)
        upsert_parquet(
            spark, _orders(spark, sf_dir, 5, 1000.0), path, ["o_orderkey"], keep_snapshots=9
        )
        assert _rows(read_parquet_table(spark, path), *COLS) != v1
        new_v = restore_table(spark, path, version=1, keep_snapshots=9)
        assert new_v == 3
        assert _rows(read_parquet_table(spark, path), *COLS) == v1
        # the bad version stays time-travelable until pruned
        assert _rows(read_parquet_table(spark, path, version=2), *COLS) != v1
        # metadata-only: every restored parquet file is a HARDLINK of a
        # v1 file (same inode), no data bytes were rewritten
        v3_dir = os.path.join(path, "v00000003")
        files = [f for f in os.listdir(v3_dir) if f.endswith(".parquet")]
        assert files and all(
            os.stat(os.path.join(v3_dir, f)).st_nlink >= 2 for f in files
        )
        hist = {r["version"]: r["n_rows"] for r in table_history(spark, path).collect()}
        assert hist[3] == hist[1] == len(v1)

    def test_partitioned_farm_restore(self, spark, sf_dir, tmp_path):
        path = str(tmp_path / "t")
        upsert_parquet(
            spark, _orders(spark, sf_dir, 3), path, ["o_orderkey"],
            partition_by=["prio"], keep_snapshots=9,
        )
        v1 = _rows(read_parquet_table(spark, path), *COLS)
        upsert_parquet(
            spark, _orders(spark, sf_dir, 5, 1000.0), path, ["o_orderkey"],
            partition_by=["prio"], keep_snapshots=9,
        )
        restore_table(spark, path, version=1, keep_snapshots=9)
        assert _rows(read_parquet_table(spark, path), *COLS) == v1
        # the restored farm references the SAME pool dirs v1 did
        def leaf_targets(snap):
            d = os.path.join(path, snap)
            return {
                e: os.path.realpath(os.path.join(d, e))
                for e in os.listdir(d)
                if not e.startswith(("_", "."))
            }
        assert leaf_targets("v00000003") == leaf_targets("v00000001")

    def test_restore_records_change_feed_diff(self, spark, sf_dir, tmp_path):
        path = str(tmp_path / "t")
        upsert_parquet(
            spark, _orders(spark, sf_dir, 3), path, ["o_orderkey"],
            keep_snapshots=9, change_feed=True,
        )
        upsert_parquet(
            spark, _orders(spark, sf_dir, 5, 1000.0), path, ["o_orderkey"],
            keep_snapshots=9, change_feed=True,
        )
        v1 = read_parquet_table(spark, path, version=1)
        v2 = read_parquet_table(spark, path, version=2)
        restore_table(spark, path, version=1, keep_snapshots=9, change_feed=True)
        feed = read_change_feed(spark, path, from_version=3).filter(
            F.col("_commit_version") == 3
        )
        inserts = feed.filter(F.col("_change_type") == "insert").select(*COLS)
        deletes = feed.filter(F.col("_change_type") == "delete").select(*COLS)
        assert _rows(inserts, *COLS) == _rows(v1.exceptAll(v2), *COLS)
        assert _rows(deletes, *COLS) == _rows(v2.exceptAll(v1), *COLS)
        # and the feed REPLAYS: v2 + restore changes == v1
        replayed = (
            v2.exceptAll(deletes).unionByName(inserts)
        )
        assert _rows(replayed, *COLS) == _rows(v1, *COLS)

    def test_restore_missing_version_raises(self, spark, sf_dir, tmp_path):
        path = str(tmp_path / "t")
        upsert_parquet(spark, _orders(spark, sf_dir, 3), path, ["o_orderkey"])
        with pytest.raises(FileNotFoundError):
            restore_table(spark, path, version=7)
        with pytest.raises(ValueError):
            restore_table(spark, path)


class TestVacuum:
    def test_vacuum_shrinks_history_and_reclaims_pools(self, spark, sf_dir, tmp_path):
        path = str(tmp_path / "t")
        for mod in (3, 5, 7):
            upsert_parquet(
                spark, _orders(spark, sf_dir, mod), path, ["o_orderkey"],
                partition_by=["prio"], keep_snapshots=9,
            )
        assert os.path.isdir(os.path.join(path, "v00000001"))
        current = _rows(read_parquet_table(spark, path), *COLS)
        # age every pool dir past the claim grace window: vacuum spares
        # RECENT unreferenced pools (they may belong to a live concurrent
        # attempt — same liveness rule as the commit-path prune), so a
        # just-written test table must simulate age to see full reclaim
        from etl_tiki_webscraping_spark.sinks import upsert as upsert_mod

        old = os.stat(path).st_mtime - upsert_mod._CLAIM_GRACE_SECONDS - 10
        for p in os.listdir(os.path.join(path, "data")):
            pool = os.path.join(path, "data", p)
            # age the WHOLE tree: liveness is judged by the newest
            # mtime anywhere under the artifact (a long Spark write
            # only refreshes deep _temporary paths, so the top dir's
            # mtime alone proves nothing)
            os.utime(pool, (old, old))
            for root, dirs, files in os.walk(pool):
                for e in dirs + files:
                    os.utime(os.path.join(root, e), (old, old))
        removed = vacuum_table(path, keep_snapshots=2)
        assert "v00000001" in removed and "v00000001.json" in removed
        # retained versions still read; pruned version refuses
        assert _rows(read_parquet_table(spark, path), *COLS) == current
        assert read_parquet_table(spark, path, version=2).count() > 0
        with pytest.raises(FileNotFoundError):
            read_parquet_table(spark, path, version=1)
        # every surviving pool dir is referenced by a retained snapshot
        referenced = set()
        for snap in ("v00000002", "v00000003"):
            d = os.path.join(path, snap)
            for root, dirs, files in os.walk(d):
                for e in dirs + files:
                    p = os.path.join(root, e)
                    if os.path.islink(p):
                        referenced.add(os.path.realpath(p))
        pools = {
            os.path.realpath(os.path.join(path, "data", p, leaf))
            for p in os.listdir(os.path.join(path, "data"))
            for leaf in os.listdir(os.path.join(path, "data", p))
            if not leaf.startswith(("_", "."))
        }
        assert pools <= referenced

    def test_vacuum_on_missing_table_raises(self, tmp_path):
        with pytest.raises(FileNotFoundError):
            vacuum_table(str(tmp_path / "nope"))


class TestClone:
    def test_unpartitioned_clone_is_isolated(self, spark, sf_dir, tmp_path):
        src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
        upsert_parquet(spark, _orders(spark, sf_dir, 3), src, ["o_orderkey"])
        clone_table(spark, src, dst)
        base = _rows(read_parquet_table(spark, src), *COLS)
        assert _rows(read_parquet_table(spark, dst), *COLS) == base
        # zero copy: clone's files hardlink the source bytes
        d1 = os.path.join(dst, "v00000001")
        assert all(
            os.stat(os.path.join(d1, f)).st_nlink >= 2
            for f in os.listdir(d1)
            if f.endswith(".parquet")
        )
        # writes diverge, in both directions
        upsert_parquet(spark, _orders(spark, sf_dir, 5, 1000.0), dst, ["o_orderkey"])
        assert _rows(read_parquet_table(spark, src), *COLS) == base
        upsert_parquet(spark, _orders(spark, sf_dir, 7, -5.0), src, ["o_orderkey"])
        assert _rows(read_parquet_table(spark, dst), *COLS) != base
        assert read_parquet_table(spark, dst, version=1).count() == len(base)

    def test_partitioned_clone_references_source_pool(self, spark, sf_dir, tmp_path):
        src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
        upsert_parquet(
            spark, _orders(spark, sf_dir, 3), src, ["o_orderkey"], partition_by=["prio"]
        )
        clone_table(spark, src, dst)
        assert _rows(read_parquet_table(spark, dst), *COLS) == _rows(
            read_parquet_table(spark, src), *COLS
        )
        # the clone's farm resolves into the SOURCE's data pool: no bytes copied
        d1 = os.path.join(dst, "v00000001")
        src_data = os.path.realpath(os.path.join(src, "data"))
        links = [e for e in os.listdir(d1) if os.path.islink(os.path.join(d1, e))]
        assert links and all(
            os.path.realpath(os.path.join(d1, e)).startswith(src_data + os.sep)
            for e in links
        )
        # copy-on-write: an upsert into the clone pools under the CLONE
        upsert_parquet(
            spark, _orders(spark, sf_dir, 5, 1000.0), dst, ["o_orderkey"],
            partition_by=["prio"],
        )
        assert os.path.isdir(os.path.join(dst, "data"))
        assert _rows(read_parquet_table(spark, src), *COLS) == _rows(
            read_parquet_table(spark, dst, version=1), *COLS
        )

    def test_clone_of_older_version_and_nonempty_dest(self, spark, sf_dir, tmp_path):
        src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
        upsert_parquet(spark, _orders(spark, sf_dir, 3), src, ["o_orderkey"], keep_snapshots=9)
        upsert_parquet(
            spark, _orders(spark, sf_dir, 5, 1000.0), src, ["o_orderkey"], keep_snapshots=9
        )
        clone_table(spark, src, dst, version=1)
        assert _rows(read_parquet_table(spark, dst), *COLS) == _rows(
            read_parquet_table(spark, src, version=1), *COLS
        )
        with pytest.raises(FileExistsError):
            clone_table(spark, src, dst)


class TestTableDiff:
    def _frames(self, spark):
        old = spark.createDataFrame(
            [(1, "a", 1.0), (2, "b", None), (3, None, 3.0), (4, "d", 4.0)],
            "k int, s string, x double",
        )
        new = spark.createDataFrame(
            [(1, "a", 1.0), (2, None, 2.0), (3, None, 3.0), (5, "e", 5.0)],
            "k int, s string, x double",
        )
        return old, new

    EXPECTED = [(2, "changed"), (4, "removed"), (5, "added")]

    def test_exact_and_hash_paths_agree(self, spark):
        old, new = self._frames(spark)
        for hash_compare in (False, True):
            got = sorted(
                tuple(r)
                for r in table_diff(
                    old, new, ["k"], hash_compare=hash_compare
                ).collect()
            )
            assert got == self.EXPECTED, hash_compare

    def test_hash_path_distinguishes_null_position_swap(self, spark):
        # (NULL, 'a') vs ('a', NULL): Spark's hash skips NULL inputs, so
        # without position markers these would collide
        old = spark.createDataFrame([(1, None, "a")], "k int, u string, v string")
        new = spark.createDataFrame([(1, "a", None)], "k int, u string, v string")
        got = table_diff(old, new, ["k"], hash_compare=True).collect()
        assert [(r["k"], r["change_type"]) for r in got] == [(1, "changed")]

    def test_compare_cols_subset(self, spark):
        old, new = self._frames(spark)
        got = sorted(
            tuple(r)
            for r in table_diff(old, new, ["k"], compare_cols=["s"], hash_compare=True).collect()
        )
        assert got == [(2, "changed"), (4, "removed"), (5, "added")]
        # x-only comparison: key 2 changed (NULL -> 2.0), key 3 unchanged
        got_x = sorted(
            tuple(r)
            for r in table_diff(old, new, ["k"], compare_cols=["x"]).collect()
        )
        assert got_x == [(2, "changed"), (4, "removed"), (5, "added")]


class TestScd2FromFeed:
    def test_fold_insert_update_delete_reinsert(self, spark, tmp_path):
        from etl_tiki_webscraping_spark.sinks.upsert import (
            delete_where,
            scd2_from_change_feed,
            upsert_parquet,
        )

        path = str(tmp_path / "t")
        mk = lambda rows: spark.createDataFrame(rows, "k int, attr string")
        upsert_parquet(
            spark, mk([(1, "a"), (2, "b")]), path, ["k"],
            keep_snapshots=9, change_feed=True,
        )
        # k1 unchanged (update postimage == preimage -> SCD2 no-op),
        # k2 changed, k3 new
        upsert_parquet(
            spark, mk([(1, "a"), (2, "c"), (3, "d")]), path, ["k"],
            keep_snapshots=9, change_feed=True,
        )
        delete_where(
            spark, path, F.col("k") == 3, keep_snapshots=9, change_feed=True
        )
        upsert_parquet(
            spark, mk([(3, "e")]), path, ["k"], keep_snapshots=9, change_feed=True
        )
        dim = sorted(
            tuple(r)
            for r in scd2_from_change_feed(spark, path, ["k"])
            .select("k", "attr", "valid_from", "valid_to", "is_current")
            .collect()
        )
        assert dim == sorted(
            [
                (1, "a", 1, None, True),
                (2, "b", 1, 2, False),
                (2, "c", 2, None, True),
                (3, "d", 2, 3, False),
                (3, "e", 4, None, True),
            ]
        )

    def test_replay_is_idempotent_per_range(self, spark, tmp_path):
        from etl_tiki_webscraping_spark.sinks.upsert import (
            scd2_from_change_feed,
            upsert_parquet,
        )

        path = str(tmp_path / "t")
        mk = lambda rows: spark.createDataFrame(rows, "k int, attr string")
        upsert_parquet(spark, mk([(1, "a")]), path, ["k"], keep_snapshots=9, change_feed=True)
        upsert_parquet(spark, mk([(1, "z")]), path, ["k"], keep_snapshots=9, change_feed=True)
        a = sorted(map(tuple, scd2_from_change_feed(spark, path, ["k"]).collect()))
        b = sorted(map(tuple, scd2_from_change_feed(spark, path, ["k"]).collect()))
        assert a == b and len(a) == 2


class TestTableFiles:
    def test_files_metadata_matches_data(self, spark, sf_dir, tmp_path):
        from etl_tiki_webscraping_spark.sinks.upsert import table_files

        path = str(tmp_path / "t")
        upsert_parquet(
            spark, _orders(spark, sf_dir, 3), path, ["o_orderkey"],
            partition_by=["prio"], keep_snapshots=9,
        )
        tf = table_files(spark, path)
        meta = {
            r["prio"]: r["total"]
            for r in tf.groupBy("prio").agg(F.sum("n_rows").alias("total")).collect()
        }
        data = {
            r["prio"]: r["n"]
            for r in read_parquet_table(spark, path)
            .groupBy("prio").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        assert meta == data
        sizes = tf.select("size_bytes").collect()
        assert all(r["size_bytes"] > 0 for r in sizes)
        # version param reads an older snapshot's files; partition value
        # with a SPACE ("4-NOT SPECIFIED") must decode exactly
        assert "4-NOT SPECIFIED" in meta
        upsert_parquet(
            spark, _orders(spark, sf_dir, 5, 1000.0), path, ["o_orderkey"],
            partition_by=["prio"], keep_snapshots=9,
        )
        tf1 = table_files(spark, path, version=1)
        assert {
            r["prio"]: r["total"]
            for r in tf1.groupBy("prio").agg(F.sum("n_rows").alias("total")).collect()
        } == data

    def test_unpartitioned_files(self, spark, sf_dir, tmp_path):
        from etl_tiki_webscraping_spark.sinks.upsert import table_files

        path = str(tmp_path / "t")
        upsert_parquet(spark, _orders(spark, sf_dir, 5), path, ["o_orderkey"])
        tf = table_files(spark, path)
        rows = tf.collect()
        assert rows and all(r["partition"] is None for r in rows)
        total = sum(r["n_rows"] for r in rows)
        assert total == read_parquet_table(spark, path).count()


class TestDeletionVectors:
    def test_unpartitioned_dv_delete_zero_rewrite(self, spark, sf_dir, tmp_path):
        from etl_tiki_webscraping_spark.sinks.upsert import delete_where

        path = str(tmp_path / "t")
        upsert_parquet(spark, _orders(spark, sf_dir, 3), path, ["o_orderkey"], keep_snapshots=9)
        v1_rows = _rows(read_parquet_table(spark, path), *COLS)

        def data_files(ver):
            d = os.path.join(path, f"v{ver:08d}")
            return sorted(
                f for f in os.listdir(d)
                if f.endswith(".parquet") and not f.startswith(("_", "."))
            )

        delete_where(
            spark, path, F.col("prio") == "1-URGENT", deletion_vectors=True,
            keep_snapshots=9,
        )
        got = _rows(read_parquet_table(spark, path), *COLS)
        assert got == [r for r in v1_rows if r[3] != "1-URGENT"] and got != v1_rows
        # ZERO rewrite: v2 carries exactly v1's data files (same names,
        # hardlinked bytes) plus a _dv dir
        assert data_files(2) == data_files(1)
        assert os.path.isdir(os.path.join(path, "v00000002", "_dv"))
        # time travel still sees the rows pre-delete
        assert _rows(read_parquet_table(spark, path, version=1), *COLS) == v1_rows
        # second DV delete UNIONS; re-deleting deleted rows is a no-op
        delete_where(
            spark, path, F.col("prio").isin("1-URGENT", "2-HIGH"),
            deletion_vectors=True, keep_snapshots=9,
        )
        got3 = _rows(read_parquet_table(spark, path), *COLS)
        assert got3 == [r for r in v1_rows if r[3] not in ("1-URGENT", "2-HIGH")]
        dv = spark.read.parquet(os.path.join(path, "v00000003", "_dv"))
        assert dv.count() == dv.distinct().count() == len(v1_rows) - len(got3)

    def test_rewriting_commit_purges_vectors(self, spark, sf_dir, tmp_path):
        from etl_tiki_webscraping_spark.sinks.upsert import delete_where

        path = str(tmp_path / "t")
        upsert_parquet(spark, _orders(spark, sf_dir, 3), path, ["o_orderkey"], keep_snapshots=9)
        delete_where(
            spark, path, F.col("prio") == "1-URGENT", deletion_vectors=True,
            keep_snapshots=9,
        )
        survivors = _rows(read_parquet_table(spark, path), *COLS)
        # an upsert (full rewrite for unpartitioned) merges against the
        # DV-APPLIED state and purges the vectors
        upsert_parquet(
            spark, _orders(spark, sf_dir, 5, 1000.0), path, ["o_orderkey"],
            keep_snapshots=9,
        )
        assert not os.path.isdir(os.path.join(path, "v00000003", "_dv"))
        got = {r[0]: r for r in _rows(read_parquet_table(spark, path), *COLS)}
        for k, *_rest in survivors:
            assert k in got
        # deleted urgent rows did NOT resurrect (unless the new batch re-inserted them)
        reinserted = {r[0] for r in _orders(spark, sf_dir, 5).collect()}
        for r in _rows(read_parquet_table(spark, path, version=1), *COLS):
            if r[3] == "1-URGENT" and r[0] not in reinserted:
                assert r[0] not in got

    def test_partitioned_dv_carries_through_untouched_partitions(
        self, spark, sf_dir, tmp_path
    ):
        from etl_tiki_webscraping_spark.sinks.upsert import compact_table, delete_where

        path = str(tmp_path / "t")
        upsert_parquet(
            spark, _orders(spark, sf_dir, 3), path, ["o_orderkey"],
            partition_by=["prio"], keep_snapshots=9,
        )
        v1_rows = _rows(read_parquet_table(spark, path), *COLS)
        # DV-delete odd custkeys inside the 1-URGENT partition only
        delete_where(
            spark, path,
            (F.col("prio") == "1-URGENT") & (F.col("o_custkey") % 2 == 1),
            deletion_vectors=True, keep_snapshots=9,
        )
        expect2 = [
            r for r in v1_rows if not (r[3] == "1-URGENT" and r[1] % 2 == 1)
        ]
        assert _rows(read_parquet_table(spark, path), *COLS) == expect2
        # now upsert into a DIFFERENT partition: 5-LOW rewrites, 1-URGENT
        # carries forward by reference — its vectors MUST carry too
        batch = _orders(spark, sf_dir, 3, 7.0).filter(F.col("prio") == "5-LOW")
        upsert_parquet(
            spark, batch, path, ["o_orderkey"], partition_by=["prio"],
            stable_partitions=True, keep_snapshots=9,
        )
        got = _rows(read_parquet_table(spark, path), *COLS)
        assert not any(r[3] == "1-URGENT" and r[1] % 2 == 1 for r in got)
        assert os.path.isdir(os.path.join(path, "v00000003", "_dv"))
        # compaction rewrites everything -> vectors purge, content holds
        compact_table(spark, path, keep_snapshots=9)
        assert not os.path.isdir(os.path.join(path, "v00000004", "_dv"))
        assert sorted(
            (r[0], r[3]) for r in _rows(read_parquet_table(spark, path), *COLS)
        ) == sorted((r[0], r[3]) for r in got)

    def test_restore_and_pruned_reads_respect_vectors(self, spark, sf_dir, tmp_path):
        from etl_tiki_webscraping_spark.sinks.upsert import delete_where, restore_table

        path = str(tmp_path / "t")
        upsert_parquet(spark, _orders(spark, sf_dir, 3), path, ["o_orderkey"], keep_snapshots=9)
        delete_where(
            spark, path, F.col("o_custkey") % 3 == 0, deletion_vectors=True,
            keep_snapshots=9, change_feed=False,
        )
        v2 = _rows(read_parquet_table(spark, path), *COLS)
        # stats/range-pruned read path applies vectors too
        lo = min(r[0] for r in v2)
        hi = max(r[0] for r in v2)
        ranged = _rows(
            read_parquet_table(spark, path, range_filter=("o_orderkey", lo, hi)),
            *COLS,
        )
        assert ranged == v2
        # restore to the DV version carries the vectors (deletes persist)
        upsert_parquet(
            spark, _orders(spark, sf_dir, 5, 1000.0), path, ["o_orderkey"],
            keep_snapshots=9,
        )
        restore_table(spark, path, version=2, keep_snapshots=9)
        assert os.path.isdir(os.path.join(path, "v00000004", "_dv"))
        assert _rows(read_parquet_table(spark, path), *COLS) == v2

    def test_dv_delete_records_change_feed(self, spark, sf_dir, tmp_path):
        from etl_tiki_webscraping_spark.sinks.upsert import delete_where

        path = str(tmp_path / "t")
        upsert_parquet(
            spark, _orders(spark, sf_dir, 3), path, ["o_orderkey"],
            keep_snapshots=9, change_feed=True,
        )
        v1 = read_parquet_table(spark, path)
        delete_where(
            spark, path, F.col("prio") == "1-URGENT", deletion_vectors=True,
            keep_snapshots=9, change_feed=True,
        )
        feed = read_change_feed(spark, path, from_version=2)
        dels = feed.filter(
            (F.col("_commit_version") == 2) & (F.col("_change_type") == "delete")
        ).select(*COLS)
        assert _rows(dels, *COLS) == _rows(
            v1.filter(F.col("prio") == "1-URGENT"), *COLS
        )


class TestUpdateWhere:
    def test_cow_partitioned_touches_only_matching_partitions(
        self, spark, sf_dir, tmp_path
    ):
        from etl_tiki_webscraping_spark.sinks.upsert import update_where

        path = str(tmp_path / "t")
        upsert_parquet(
            spark, _orders(spark, sf_dir, 3), path, ["o_orderkey"],
            partition_by=["prio"], keep_snapshots=9,
        )
        v1 = _rows(read_parquet_table(spark, path), *COLS)
        update_where(
            spark, path, F.col("prio") == "2-HIGH",
            {"price": F.col("price") + 5.0}, keep_snapshots=9, change_feed=False,
        )
        got = _rows(read_parquet_table(spark, path), *COLS)
        assert got == sorted(
            (k, c, p + 5.0 if pr == "2-HIGH" else p, pr) for k, c, p, pr in v1
        )
        # only the 2-HIGH farm entry changed pool
        same = diff = 0
        for e in os.listdir(os.path.join(path, "v00000002")):
            if not e.startswith("prio="):
                continue
            t1 = os.path.realpath(os.path.join(path, "v00000001", e))
            t2 = os.path.realpath(os.path.join(path, "v00000002", e))
            diff += t1 != t2
            same += t1 == t2
        assert diff == 1 and same == 4
        with pytest.raises(ValueError):
            update_where(
                spark, path, F.lit(True), {"prio": F.lit("x")},
            )

    def test_mor_update_zero_rewrite_and_feed(self, spark, sf_dir, tmp_path):
        from etl_tiki_webscraping_spark.sinks.upsert import update_where

        path = str(tmp_path / "t")
        upsert_parquet(
            spark, _orders(spark, sf_dir, 3), path, ["o_orderkey"],
            keep_snapshots=9, change_feed=True,
        )
        v1 = _rows(read_parquet_table(spark, path), *COLS)
        v1_files = sorted(
            f for f in os.listdir(os.path.join(path, "v00000001"))
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        update_where(
            spark, path, F.col("prio") == "1-URGENT",
            {"price": F.col("price") * 2.0}, merge_on_read=True,
            keep_snapshots=9, change_feed=True,
        )
        got = _rows(read_parquet_table(spark, path), *COLS)
        assert got == sorted(
            (k, c, p * 2.0 if pr == "1-URGENT" else p, pr) for k, c, p, pr in v1
        )
        v2_dir = os.path.join(path, "v00000002")
        v2_files = sorted(
            f for f in os.listdir(v2_dir)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        # all v1 files carried as hardlinks, plus appended image file(s)
        assert set(v1_files) <= set(v2_files) and len(v2_files) > len(v1_files)
        assert all(
            os.stat(os.path.join(v2_dir, f)).st_nlink >= 2 for f in v1_files
        )
        assert os.path.isdir(os.path.join(v2_dir, "_dv"))
        feed = read_change_feed(spark, path, from_version=2)
        n_urgent = sum(1 for r in v1 if r[3] == "1-URGENT")
        assert feed.filter(F.col("_change_type") == "update_preimage").count() == n_urgent
        assert feed.filter(F.col("_change_type") == "update_postimage").count() == n_urgent
        # a later full-rewrite commit folds everything down
        upsert_parquet(spark, _orders(spark, sf_dir, 7), path, ["o_orderkey"], keep_snapshots=9)
        assert not os.path.isdir(os.path.join(path, "v00000003", "_dv"))
        # the layout comes from the committed table: once partitioned,
        # a merge-on-read update is refused
        repartition_table(spark, path, partition_by=["prio"], keep_snapshots=9)
        with pytest.raises(ValueError):
            update_where(
                spark, path, F.lit(True), {"price": F.lit(0.0)}, merge_on_read=True,
            )


class TestPrunedReadMetadataDirs:
    def test_range_pruned_read_never_surfaces_feed_or_vector_files(
        self, spark, sf_dir, tmp_path
    ):
        """Regression: _stats_pruned_read builds an EXPLICIT file list;
        without dir pruning it descended into _changes/ and _dv/, whose
        parquet would be read as table rows under the table schema.
        Trigger real pruning (clustered files, narrow bound) on a table
        that carries BOTH a change feed and deletion vectors."""
        from etl_tiki_webscraping_spark.sinks.upsert import (
            compact_table,
            delete_where,
        )

        path = str(tmp_path / "t")
        upsert_parquet(
            spark, _orders(spark, sf_dir, 3), path, ["o_orderkey"],
            keep_snapshots=9, change_feed=True,
        )
        # cluster on the key so files get disjoint ranges -> real skipping
        compact_table(spark, path, target_file_bytes=4 * 1024, sort_by=["o_orderkey"])
        delete_where(
            spark, path, F.col("o_custkey") % 5 == 0, deletion_vectors=True,
            keep_snapshots=9, change_feed=True,
        )
        full = read_parquet_table(spark, path)
        # sf0.001 %3 keys span ~0..1500 over 5 clustered files; a 0..600
        # bound must skip the upper files (and, pre-fix, would have
        # pulled _changes/_dv parquet into the explicit file list)
        lo = 0
        hi = 600
        pruned = read_parquet_table(
            spark, path, range_filter=("o_orderkey", lo, hi)
        )
        expect = sorted(
            map(tuple, full.filter(F.col("o_orderkey").between(lo, hi)).select(*COLS).collect())
        )
        got = sorted(map(tuple, pruned.select(*COLS).collect()))
        assert got == expect
        # prove the plan actually pruned (fewer DATA files than full;
        # the _dv anti-join side appears in inputFiles on both)
        def data_files(df):
            return [f for f in df.inputFiles() if "/_dv/" not in f]

        assert len(data_files(full)) > 1
        assert len(data_files(pruned)) < len(data_files(full))


class TestVacuumAgeRetention:
    def test_age_window_overrides_count(self, spark, sf_dir, tmp_path):
        path = str(tmp_path / "t")
        for mod in (3, 5, 7):
            upsert_parquet(
                spark, _orders(spark, sf_dir, mod), path, ["o_orderkey"],
                keep_snapshots=9,
            )
        # v1's manifest aged out of the window; v2/v3 stay young
        old = os.path.getmtime(path) - 7200
        os.utime(os.path.join(path, "v00000001.json"), (old, old))
        removed = vacuum_table(path, keep_snapshots=1, older_than_seconds=3600)
        # the age rule RETAINS young v2 even though keep_snapshots=1
        # would have pruned it; aged v1 reclaims
        assert "v00000001" in removed
        assert read_parquet_table(spark, path, version=2).count() > 0
        with pytest.raises(FileNotFoundError):
            read_parquet_table(spark, path, version=1)

    def test_everything_young_prunes_nothing_beyond_count(self, spark, sf_dir, tmp_path):
        path = str(tmp_path / "t")
        for mod in (3, 5):
            upsert_parquet(
                spark, _orders(spark, sf_dir, mod), path, ["o_orderkey"],
                keep_snapshots=9,
            )
        removed = vacuum_table(path, keep_snapshots=1, older_than_seconds=86400)
        assert not any(e.startswith("v00000001") for e in removed)
        assert read_parquet_table(spark, path, version=1).count() > 0


class TestDvDeleteConcurrency:
    def test_dv_delete_losing_race_raises_and_leaves_winner_intact(
        self, spark, sf_dir, tmp_path, monkeypatch
    ):
        """A DV delete that loses the commit race must surface
        ConcurrentWriteError (rebase signal), leave the winner's commit
        untouched, and reclaim its own staging."""
        import etl_tiki_webscraping_spark.sinks.upsert as U

        path = str(tmp_path / "t")
        U.upsert_parquet(spark, _orders(spark, sf_dir, 3), path, ["o_orderkey"], keep_snapshots=9)
        winner_batch = _orders(spark, sf_dir, 5, 1000.0)

        orig_publish = U._publish_staged
        raced = {"done": False}

        def racing_publish(target_path, next_version, stage_base, keep_snapshots):
            if not raced["done"] and ".stage-" in stage_base:
                raced["done"] = True
                # the concurrent upsert publishes v2 first
                U.upsert_parquet(
                    spark, winner_batch, path, ["o_orderkey"], keep_snapshots=9
                )
            return orig_publish(target_path, next_version, stage_base, keep_snapshots)

        monkeypatch.setattr(U, "_publish_staged", racing_publish)
        with pytest.raises(U.ConcurrentWriteError):
            U.delete_where(
                spark, path, F.col("prio") == "1-URGENT",
                deletion_vectors=True, keep_snapshots=9,
            )
        monkeypatch.setattr(U, "_publish_staged", orig_publish)
        # winner's v2 is current and intact; loser's staging reclaimed
        cur = U._current_snapshot(path)
        assert cur == "v00000002"
        assert not any(".stage-" in e for e in os.listdir(path))
        # the delete RETRIES cleanly against the new base (idempotent:
        # matching runs on the DV-applied current state)
        U.delete_where(
            spark, path, F.col("prio") == "1-URGENT",
            deletion_vectors=True, keep_snapshots=9,
        )
        got = read_parquet_table(spark, path)
        assert got.filter(F.col("prio") == "1-URGENT").count() == 0


class TestUpdateWhereSchemaPreserved:
    """UPDATE must not change the table schema (ADVICE r7 medium): the
    MOR path appends post-images under the committed manifest schema
    and the CoW partitioned path carries old-typed files forward, so a
    type-widening assignment would commit unreadable parquet."""

    def _stage(self, spark, sf_dir, tmp_path, **kw):
        path = str(tmp_path / "t")
        upsert_parquet(
            spark, _orders(spark, sf_dir, 3), path, ["o_orderkey"],
            keep_snapshots=9, **kw,
        )
        return path

    def test_mor_widening_assignment_raises_before_commit(
        self, spark, sf_dir, tmp_path
    ):
        from etl_tiki_webscraping_spark.sinks.upsert import update_where

        path = self._stage(spark, sf_dir, tmp_path)
        before = _rows(read_parquet_table(spark, path), *COLS)

        def on_disk():
            with open(os.path.join(path, "_LATEST")) as fh:
                return sorted(os.listdir(path)), fh.read()

        listing = on_disk()
        with pytest.raises(TypeError, match="stored column type"):
            update_where(
                spark, path, F.col("prio") == "1-URGENT",
                {"o_custkey": F.col("price") * 2.0},  # double into bigint
                merge_on_read=True, keep_snapshots=9,
            )
        # nothing committed: same entries, same pointer; table intact
        assert on_disk() == listing
        got = read_parquet_table(spark, path)
        assert _rows(got, *COLS) == before
        assert dict(got.dtypes)["o_custkey"] == "bigint"

    def test_cow_partitioned_widening_raises(self, spark, sf_dir, tmp_path):
        from etl_tiki_webscraping_spark.sinks.upsert import update_where

        path = str(tmp_path / "t")
        upsert_parquet(
            spark, _orders(spark, sf_dir, 3), path, ["o_orderkey"],
            partition_by=["prio"], keep_snapshots=9,
        )
        with pytest.raises(TypeError, match="stored column type"):
            update_where(
                spark, path, F.col("prio") == "2-HIGH",
                {"o_custkey": F.col("price")}, keep_snapshots=9,
            )

    def test_safe_numeric_widening_is_cast_to_stored_type(
        self, spark, sf_dir, tmp_path
    ):
        from etl_tiki_webscraping_spark.sinks.upsert import update_where

        path = self._stage(spark, sf_dir, tmp_path)
        # int literal into a bigint column: safe upcast, silently kept
        update_where(
            spark, path, F.col("prio") == "1-URGENT",
            {"o_custkey": F.lit(7)}, merge_on_read=True, keep_snapshots=9,
        )
        got = read_parquet_table(spark, path)
        assert dict(got.dtypes)["o_custkey"] == "bigint"
        assert (
            got.filter(F.col("prio") == "1-URGENT")
            .select("o_custkey").distinct().collect()[0][0] == 7
        )

    def test_precision_losing_widenings_rejected(self, spark):
        # ADVICE r8: rank-based widening admitted int/long -> float and
        # long -> double, which silently lose precision above 2^24 /
        # 2^53.  Only EXACT widenings may be auto-cast.
        from pyspark.sql import types as T

        from etl_tiki_webscraping_spark.sinks.upsert import (
            _schema_preserving_assigned,
        )

        _ = T  # stored types come from the df schema below

        def run(expr_t, stored_t):
            df = spark.createDataFrame([], f"x {expr_t}, c {stored_t}")
            fn = _schema_preserving_assigned(
                {"c": F.col("x")}, F.lit(True), df.schema
            )
            return dict(fn(df).dtypes)["c"]

        # lossy: bigint -> float/double, int -> float must raise
        for expr_t, stored_t in [
            ("bigint", "float"), ("bigint", "double"), ("int", "float")
        ]:
            with pytest.raises(TypeError, match="stored column type"):
                run(expr_t, stored_t)
        # exact widenings still auto-cast to the stored type
        assert run("int", "bigint") == "bigint"
        assert run("int", "double") == "double"
        assert run("smallint", "float") == "float"
        assert run("float", "double") == "double"

    def test_unknown_column_assignment_raises(self, spark, sf_dir, tmp_path):
        from etl_tiki_webscraping_spark.sinks.upsert import update_where

        path = self._stage(spark, sf_dir, tmp_path)
        with pytest.raises(TypeError, match="unknown column"):
            update_where(
                spark, path, F.lit(True), {"bonus": F.lit(1.0)},
                merge_on_read=True, keep_snapshots=9,
            )


class TestScd2Backfill:
    """The window build must reproduce a commit-by-commit fold exactly —
    incl. no-op updates, soft deletes, post-delete re-inserts with
    UNCHANGED attrs (must re-open), and repeated deletes — in the same
    number of Spark jobs whatever the feed's length."""

    COLS = ("k", "attr", "valid_from", "valid_to", "is_current")

    def _feed_table(self, spark, tmp_path):
        from etl_tiki_webscraping_spark.sinks.upsert import (
            delete_where,
            upsert_parquet,
        )

        path = str(tmp_path / "t")
        mk = lambda rows: spark.createDataFrame(rows, "k int, attr string")
        kw = dict(keep_snapshots=99, change_feed=True)
        upsert_parquet(spark, mk([(1, "a"), (2, "b"), (4, "x")]), path, ["k"], **kw)
        upsert_parquet(spark, mk([(1, "a"), (2, "c"), (3, "d")]), path, ["k"], **kw)
        delete_where(spark, path, F.col("k").isin(3, 4), **kw)
        # delete of an already-deleted key is a feedless no-op; re-insert
        # k3 with the SAME attrs it had before the delete (must re-open)
        delete_where(spark, path, F.col("k") == 3, **kw)
        upsert_parquet(spark, mk([(3, "d"), (1, "e")]), path, ["k"], **kw)
        return path

    def _dim(self, spark, path, **kw):
        from etl_tiki_webscraping_spark.sinks.upsert import scd2_from_change_feed

        return sorted(
            tuple(r)
            for r in scd2_from_change_feed(spark, path, ["k"], **kw)
            .select(*self.COLS).collect()
        )

    def test_backfill_matches_fold(self, spark, tmp_path):
        path = self._feed_table(spark, tmp_path)
        assert self._dim(spark, path) == sorted(
            [
                (1, "a", 1, 5, False),
                (1, "e", 5, None, True),
                (2, "b", 1, 2, False),
                (2, "c", 2, None, True),
                (3, "d", 2, 3, False),
                (3, "d", 5, None, True),
                (4, "x", 1, 3, False),
            ]
        )

    def test_backfill_version_range(self, spark, tmp_path):
        path = self._feed_table(spark, tmp_path)
        # v1..v3: k1's v2 postimage repeats "a" (no-op), k3 and k4 are
        # deleted at v3
        assert self._dim(spark, path, from_version=1, to_version=3) == sorted(
            [
                (1, "a", 1, None, True),
                (2, "b", 1, 2, False),
                (2, "c", 2, None, True),
                (3, "d", 2, 3, False),
                (4, "x", 1, 3, False),
            ]
        )
        # v2..v5: k4 never opens inside the range, so its v3 delete
        # closes nothing; k1 opens at its v2 postimage
        assert self._dim(spark, path, from_version=2) == sorted(
            [
                (1, "a", 2, 5, False),
                (1, "e", 5, None, True),
                (2, "c", 2, None, True),
                (3, "d", 2, 3, False),
                (3, "d", 5, None, True),
            ]
        )

    def test_job_count_does_not_grow_with_commits(self, spark, tmp_path):
        from etl_tiki_webscraping_spark.metrics import measure
        from etl_tiki_webscraping_spark.sinks.upsert import (
            scd2_from_change_feed,
            upsert_parquet,
        )

        path = str(tmp_path / "t")
        mk = lambda rows: spark.createDataFrame(rows, "k int, attr string")
        kw = dict(keep_snapshots=99, change_feed=True)

        def jobs():
            _, totals = measure(
                spark, "scd2",
                lambda: scd2_from_change_feed(spark, path, ["k"]).count(),
            )
            return totals["spark.jobs"]

        for i in range(3):
            upsert_parquet(spark, mk([(1, f"a{i}"), (i + 2, "b")]), path, ["k"], **kw)
        at_3 = jobs()
        for i in range(3, 6):
            upsert_parquet(spark, mk([(1, f"a{i}"), (i + 2, "b")]), path, ["k"], **kw)
        assert jobs() == at_3
