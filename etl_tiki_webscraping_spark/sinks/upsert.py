"""Upsert / MERGE-on-primary-key (SURVEY.md §2.9 W2).

The reference loads every entity with MySQL's
``INSERT ... SELECT ... ON DUPLICATE KEY UPDATE col=VALUES(col)``
(rating: /root/reference/dags/etl.py:181-202, shop_info: :218-246,
product_detail: :260-281).  Semantics to preserve:

1. keyed on the table's PRIMARY KEY (sql/dwh.sql:2,18,32);
2. on conflict, EVERY non-key column is replaced by the incoming value;
3. rows with unseen keys are inserted;
4. re-running the same load is a no-op (idempotency, SURVEY §2.12 O5).

Intra-batch duplicate keys: MySQL resolves them sequentially in the
(undefined) read order of the heap staging table.  We pin a
deterministic rule instead — the caller supplies ``order_by`` and the
last row per key under that ordering wins (documented divergence,
SURVEY §7 risk register).

Three strategies (SURVEY §2.9 W2a-c):
- (a) staging + passthrough MERGE SQL  -> staging.jdbc_staged_upsert
- (b) Delta MERGE INTO                 -> merge_sql builder (text only;
      no Delta jar in this environment, SQL is tested by the unit suite
      as a string contract)
- (c) pure-DataFrame anti-join + union -> upsert_dataframes (engine
      native; works on any store that supports atomic overwrite)

Scale note: (c) is one broadcast-or-shuffled anti join plus a union —
the same shape Delta's MERGE file-rewrite does under the hood.  For
100 TB targets, partition the target (``partition_by=...``):
``upsert_parquet`` then rewrites ONLY the partitions the update batch
touches.  Each snapshot is a hive-layout directory whose per-partition
entries are references (symlinks locally; manifest entries in the
committed ``vN.json``) into an append-only ``data/`` pool, so a 1 GB
daily batch against a 100 TB table copies ~1 GB, not 100 TB, while
untouched partitions are carried forward by reference at zero I/O.
See :func:`upsert_parquet` for the commit protocol.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_tiki_webscraping_spark.operators.relational import dedup_deterministic


def _dedup_updates(updates: DataFrame, keys: Sequence[str], order_by: Sequence[Column | str] | None) -> DataFrame:
    """Resolve intra-batch duplicate keys: last-wins under order_by."""
    if order_by is None:
        return updates.dropDuplicates(list(keys))
    descending = [F.col(c).desc() if isinstance(c, str) else c.desc() for c in order_by]
    return dedup_deterministic(updates, keys, descending)


def _check_type_drift(target: DataFrame, batch: DataFrame, who: str) -> None:
    """Type drift on a SHARED column is a loud error, not a silent
    coercion: unionByName would widen int->string (etc.) for the whole
    merged result, flipping the table's stored type — and on a
    partitioned table the manifest would record the widened type while
    carried-forward untouched partitions stay physically narrow, making
    the committed table unreadable at scan time."""
    t_types = {f.name: f.dataType.simpleString() for f in target.schema.fields}
    for f in batch.schema.fields:
        want = t_types.get(f.name)
        got = f.dataType.simpleString()  # simpleString: nullability-blind
        if want is not None and got != want:
            raise ValueError(
                f"{who}: column '{f.name}' type drift — table has "
                f"{want}, batch has {got}; cast the batch explicitly"
            )


def upsert_dataframes(
    target: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str] | None = None,
    evolve_schema: bool = False,
) -> DataFrame:
    """Pure-DataFrame upsert (W2 strategy c).

    Result = (target rows whose key is NOT in updates) UNION ALL
    (deduped updates), column-for-column like ``ON DUPLICATE KEY
    UPDATE`` updating every non-key column (dags/etl.py:188-198).

    ``evolve_schema=True`` enables ADDITIVE schema evolution (Delta
    ``mergeSchema`` semantics): columns new in ``updates`` are appended
    to the table, existing rows reading NULL for them; columns the
    batch lacks are null-filled on the update side.  Off by default —
    a stray column in a feed should be a loud error, not silent DDL.
    """
    keys = list(keys)
    if evolve_schema:
        for f in updates.schema.fields:
            if f.name not in target.columns:
                target = target.withColumn(f.name, F.lit(None).cast(f.dataType))
        for f in target.schema.fields:
            if f.name not in updates.columns:
                updates = updates.withColumn(f.name, F.lit(None).cast(f.dataType))
    _check_type_drift(target, updates, "upsert")
    updates = _dedup_updates(updates.select(*target.columns), keys, order_by)
    survivors = (
        target.join(updates.select(*keys).distinct(), on=keys, how="left_anti")
        # USING-join moves key columns first; keep the target's order so
        # the merged table's schema is stable across runs
        .select(*target.columns)
    )
    return survivors.unionByName(updates)


SNAPSHOT_POINTER = "_LATEST"

# merge-on-read deletion vectors: a snapshot-level parquet dir of
# (snapshot-relative file path, row_index) pairs naming rows DELETED without
# rewriting their data files (Delta DV / Iceberg positional-delete
# semantics).  Reads anti-join it; rewrites (upsert/compact) purge it.
_DV_DIR = "_dv"

# Change-data-feed metadata columns (Delta CDF column names, so a
# downstream consumer written against Delta's feed reads ours unchanged).
CHANGE_TYPE_COL = "_change_type"
CHANGE_VERSION_COL = "_commit_version"


def _tag_changes(df: DataFrame, ctype: str, version: int) -> DataFrame:
    return df.select(
        *df.columns,
        F.lit(ctype).alias(CHANGE_TYPE_COL),
        F.lit(int(version)).cast("int").alias(CHANGE_VERSION_COL),
    )


def _change_rows(
    prior: "DataFrame | None",
    merged: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    next_version: int,
) -> DataFrame:
    """Row-level change feed for ONE upsert commit (Delta CDF shape):
    ``insert`` rows for batch keys absent from the prior snapshot, an
    ``update_preimage``/``update_postimage`` pair for every matched key
    (an upsert rewrites every matched row — same contract as Delta's
    ``MERGE WHEN MATCHED THEN UPDATE SET *`` feed, which emits the pair
    even when the incoming values happen to equal the old ones).

    Derived from data the commit already has in hand: ``prior`` is the
    pre-merge state of the TOUCHED partitions only (never the whole
    table) and ``merged`` is the post-merge result — commit paths pass
    the JUST-STAGED read here so the merge lineage is never executed a
    second time.  The extra cost is one read of the staged bytes, one
    pruned prior read, and bare-key semi/anti joins — not an O(table)
    snapshot diff.  That is what makes the feed viable at 100 TB: CDC
    readers consume the per-commit change files instead of joining two
    full versions.
    """
    keys = list(keys)
    batch_keys = updates.select(*keys).distinct()
    # post-merge rows for the batch's keys == the deduped batch as landed
    post = merged.join(batch_keys, on=keys, how="left_semi")
    if prior is None:
        return _tag_changes(post, "insert", next_version)
    for c in merged.columns:  # align preimages to the (possibly evolved) schema
        if c not in prior.columns:
            prior = prior.withColumn(c, F.lit(None).cast(merged.schema[c].dataType))
    prior = prior.select(*merged.columns)
    pre = prior.join(batch_keys, on=keys, how="left_semi")
    matched_keys = pre.select(*keys).distinct()
    inserts = post.join(matched_keys, on=keys, how="left_anti")
    upd_post = post.join(matched_keys, on=keys, how="left_semi")
    return (
        _tag_changes(inserts, "insert", next_version)
        .unionByName(_tag_changes(pre, "update_preimage", next_version))
        .unionByName(_tag_changes(upd_post, "update_postimage", next_version))
    )


def read_change_feed(
    spark: SparkSession,
    target_path: str,
    from_version: int = 1,
    to_version: int | None = None,
) -> DataFrame:
    """Read the row-level change feed of a snapshot table for a version
    range (inclusive) — the ``table_changes()`` surface over commits made
    with ``change_feed=True`` (:func:`upsert_parquet`,
    :func:`delete_where`).  Each row carries ``_change_type``
    (``insert`` / ``update_preimage`` / ``update_postimage`` /
    ``delete``) and ``_commit_version``.

    Change files live INSIDE each version's snapshot dir (``_changes/``,
    hidden from ordinary table reads by the parquet reader's
    underscore-prefix filter) so they commit and prune atomically with
    their snapshot.  A version in range whose commit did not record
    changes — written without ``change_feed=True``, or already reclaimed
    by retention — raises, like Delta's feed does, instead of silently
    returning a gap.
    """
    import os
    from functools import reduce

    cur = _current_snapshot(target_path)
    if cur is None:
        raise FileNotFoundError(f"no committed table at {target_path}")
    if to_version is None:
        to_version = int(cur.lstrip("v"))
    if from_version < 1 or from_version > to_version:
        raise ValueError(f"bad change-feed range [{from_version}, {to_version}]")
    parts = []
    for v in range(from_version, to_version + 1):
        d = os.path.join(target_path, f"v{v:08d}", "_changes")
        if not os.path.isdir(d):
            raise ValueError(
                f"no change feed for version {v} of {target_path}: commit ran "
                "without change_feed=True, or the snapshot was pruned by retention"
            )
        # that version's manifest schema plus the two feed columns: an
        # inferred read runs one footer job per version
        schema = _manifest_schema(_load_manifest(target_path, f"v{v:08d}"))
        reader = spark.read
        if schema is not None:
            reader = reader.schema(
                schema.add(CHANGE_TYPE_COL, T.StringType())
                .add(CHANGE_VERSION_COL, T.IntegerType())
            )
        parts.append(reader.parquet(d))
    # additive schema evolution may widen later versions; null-fill older ones
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)


def _current_snapshot(target_path: str) -> str | None:
    """Snapshot dir name the table pointer currently commits to, or
    None if the table doesn't exist (or is a legacy plain-parquet dir)."""
    import os

    pointer = os.path.join(target_path, SNAPSHOT_POINTER)
    if os.path.exists(pointer):
        with open(pointer) as fh:
            return fh.read().strip()
    return None


def _load_manifest(target_path: str, snap_name: str) -> dict:
    """The ``<snap_name>.json`` manifest, or ``{}`` when the snapshot
    has none (legacy layout)."""
    import json
    import os

    mpath = os.path.join(target_path, snap_name + ".json")
    if not os.path.exists(mpath):
        return {}
    with open(mpath) as fh:
        return json.load(fh)


def _manifest_schema(manifest: dict) -> "T.StructType | None":
    import json

    schema_json = manifest.get("schema")
    return T.StructType.fromJson(json.loads(schema_json)) if schema_json else None


def _snapshot_reader(spark: SparkSession, manifest: dict):
    """Parquet reader for a snapshot's files.  If the manifest records a
    table schema, apply it explicitly: after additive schema evolution
    the pool holds files written under OLDER schemas, and an explicit
    read schema makes parquet null-fill their missing columns — the
    Delta approach, no footer-merging pass."""
    schema = _manifest_schema(manifest)
    return spark.read.schema(schema) if schema is not None else spark.read


def _read_snapshot(spark: SparkSession, target_path: str, snap_name: str) -> DataFrame:
    """Read one committed snapshot under its manifest schema, with its
    deletion vectors applied."""
    import os

    snap_dir = os.path.join(target_path, snap_name)
    df = _snapshot_reader(spark, _load_manifest(target_path, snap_name)).parquet(snap_dir)
    return _maybe_apply_dv(spark, snap_dir, df)


def _file_meta_cols(df: DataFrame) -> DataFrame:
    """Attach the (snapshot-relative file path, in-file row index)
    identity of every row from the parquet scan's hidden ``_metadata``
    column — the coordinates deletion vectors are keyed on.

    The key is the path RELATIVE TO THE SNAPSHOT DIR (partition dirs
    included), not the bare basename: one hive write job names its part
    files identically in EVERY partition dir, so basenames collide
    across partitions of the same commit.  The relative path is stable
    across snapshots for carried-forward references (the farm recreates
    the same partition layout), which is what lets vectors follow files
    through reference-carrying commits."""
    rel = F.regexp_replace(
        F.col("_metadata.file_path"), r"^.*/v[0-9]{8}(\.[^/]*)?/", ""
    )
    return df.select(
        "*",
        rel.alias("__dv_file"),
        F.col("_metadata.row_index").alias("__dv_idx"),
    )


def _maybe_apply_dv(spark: SparkSession, snap_dir: str, df: DataFrame) -> DataFrame:
    """Merge-on-read: if this snapshot carries deletion vectors,
    anti-join them out of the scan on (file basename, row index).  The
    DV side is commonly tiny (it holds one row per deleted ROW, not per
    retained row) and broadcasts; reads of DV-free snapshots pay
    nothing.  Rewriting commits (upsert, compaction) purge the vectors,
    exactly Delta's DV lifecycle."""
    import os

    dv_dir = os.path.join(snap_dir, _DV_DIR)
    if not os.path.isdir(dv_dir):
        return df
    dv = spark.read.parquet(dv_dir).select(
        F.col("file").alias("__dv_file"), F.col("row_index").alias("__dv_idx")
    )
    return (
        _file_meta_cols(df)
        .join(dv, on=["__dv_file", "__dv_idx"], how="left_anti")
        .drop("__dv_file", "__dv_idx")
    )


def _parquet_files(snap_dir: str) -> list[str]:
    """Paths of a snapshot's data files, following partition references
    into the pool.  Metadata dirs (``_changes``, ``_dv``, ``_bloom``) and
    hidden files are skipped, the contract of Spark's own reader: a
    change-feed or deletion-vector parquet listed here would read junk
    rows into the table under the table schema."""
    import os

    out: list[str] = []
    for root, dirs, files in os.walk(snap_dir, followlinks=True):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        out += [
            os.path.join(root, f)
            for f in files
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        ]
    return out


def table_row_count(spark: SparkSession, target_path: str) -> int:
    """Row count of a table's committed snapshot from its parquet
    footers — driver-side metadata like :func:`table_history`, no Spark
    job.  A snapshot with deletion vectors (whose footers still count
    the deleted rows) or a table without a snapshot pointer is counted
    by a scan instead."""
    import os

    import pyarrow.parquet as pq

    cur = _current_snapshot(target_path)
    if cur is None or os.path.isdir(os.path.join(target_path, cur, _DV_DIR)):
        return read_parquet_table(spark, target_path).count()
    files = _parquet_files(os.path.join(target_path, cur))
    return sum(pq.read_metadata(f).num_rows for f in files)


def table_history(spark: SparkSession, target_path: str) -> DataFrame:
    """DESCRIBE HISTORY analog for the snapshot table layout: one row
    per RETAINED version with its file count, exact row count, layout,
    and change-feed availability.

    Pure metadata: row counts come from the parquet FOOTERS of each
    snapshot's files (following partition references into the pool),
    never from scanning data pages — the same class of I/O a Delta
    ``DESCRIBE HISTORY`` does against its log.  Cost is bounded by
    (retained versions × files), i.e. object-store metadata requests;
    a production port would additionally denormalize the counts into
    the commit manifest to make this a single small-file read.

    Counts are PHYSICAL: a snapshot carrying deletion vectors reports
    its files' footer rows, which still include merge-on-read-deleted
    rows until a rewriting commit folds them out (same caveat as
    Delta's numRecords under DVs).
    """
    import os

    import pyarrow.parquet as pq

    cur = _current_snapshot(target_path)
    if cur is None:
        raise FileNotFoundError(f"no committed table at {target_path}")
    rows = []
    for entry in sorted(os.listdir(target_path)):
        snap_dir = os.path.join(target_path, entry)
        if (
            not entry.startswith("v")
            or not entry.lstrip("v").isdigit()
            or not os.path.isdir(snap_dir)
        ):
            continue
        files = _parquet_files(snap_dir)
        n_rows = sum(pq.read_metadata(f).num_rows for f in files)
        partition_by, _ = _layout(target_path, entry)
        rows.append(
            (
                int(entry.lstrip("v")),
                len(files),
                n_rows,
                ",".join(partition_by) or None,
                os.path.isdir(os.path.join(snap_dir, "_changes")),
                entry == cur,
            )
        )
    return spark.createDataFrame(
        rows,
        "version int, n_files int, n_rows bigint, partition_by string, "
        "has_change_feed boolean, is_current boolean",
    )


def table_files(
    spark: SparkSession,
    target_path: str,
    version: int | None = None,
) -> DataFrame:
    """Files metadata table (Iceberg ``.files`` / Delta ``DESCRIBE
    DETAIL`` analog): one row per data file of a snapshot with its
    partition dir, footer-exact row count, and byte size — PURE
    metadata I/O (parquet footers + stat calls, bounded by file count;
    an object-store port reads the manifest instead).  The substrate
    for compaction planning (small-file detection), cost estimation,
    and metadata-vs-data consistency audits (the catalog query
    aggregates this against a first-principles recount).  Row counts
    are PHYSICAL — under deletion vectors they include
    merge-on-read-deleted rows until the next rewriting commit.  A
    partitioned snapshot adds one string column per partition column of
    its recorded layout."""
    import os

    import pyarrow.parquet as pq

    name = (
        _resolve_snapshot_name(target_path, version)
        if version is not None
        else _current_snapshot(target_path)
    )
    if name is None:
        raise FileNotFoundError(f"no committed snapshot table at {target_path}")
    snap_dir = os.path.join(target_path, name)
    pcols, _ = _layout(target_path, name)
    rows = []
    for full in _parquet_files(snap_dir):
        rel = os.path.relpath(full, snap_dir)
        rel_dir = os.path.dirname(rel) or None
        row = [rel, rel_dir, pq.read_metadata(full).num_rows, os.path.getsize(full)]
        if pcols:
            # decode hive dir values with the engine's own decoder so
            # escaping/null-sentinel handling matches the write path
            row += list(_dir_to_values(rel_dir, pcols)) if rel_dir else [None] * len(pcols)
        rows.append(tuple(row))
    schema = "file string, partition string, n_rows bigint, size_bytes bigint"
    for c in pcols:
        schema += f", {c} string"
    return spark.createDataFrame(rows, schema)


def _link_snapshot_tree(
    src: str, dst: str, resolve_links: bool, keep: "tuple[str, ...]" = (_DV_DIR,)
) -> None:
    """Recreate snapshot dir ``src`` under ``dst`` at ZERO data copy:
    regular files are HARDLINKED (same bytes, new name — the
    object-store analog is a manifest entry referencing the same
    object), symlinks (a partitioned snapshot's farm references into
    the ``data/`` pool) are recreated verbatim (``resolve_links=False``,
    same-table restore: relative targets resolve identically from the
    sibling staging dir) or resolved to absolute targets
    (``resolve_links=True``, cross-table shallow clone).  ``_``/``.``
    entries at the snapshot root are commit-specific (``_changes``,
    bloom indexes) and skipped — EXCEPT ``keep`` entries: deletion
    vectors (``_dv``) are TABLE CONTENT, so restore/clone must carry
    them or merge-on-read-deleted rows would resurrect.  Hive
    null-partition dirs are named ``col=__HIVE_DEFAULT_PARTITION__`` so
    they never match the underscore prefix."""
    import os
    import shutil

    os.makedirs(dst)
    for entry in sorted(os.listdir(src)):
        if entry.startswith(("_", ".")) and entry not in keep:
            continue
        s, d = os.path.join(src, entry), os.path.join(dst, entry)
        if os.path.islink(s):
            os.symlink(
                os.path.realpath(s) if resolve_links else os.readlink(s), d
            )
        elif os.path.isdir(s):
            _link_snapshot_tree(s, d, resolve_links, keep=())
        else:
            try:
                os.link(s, d)
            except OSError:
                shutil.copy2(s, d)  # cross-device fallback


def restore_table(
    spark: SparkSession,
    target_path: str,
    version: int | None = None,
    as_of: "float | None" = None,
    keep_snapshots: int = 2,
    change_feed: bool = False,
) -> int:
    """``RESTORE TABLE ... TO VERSION/TIMESTAMP AS OF`` (Delta RESTORE
    semantics): commit a NEW version whose content is a retained older
    snapshot's — roll back bad writes without losing the history that
    followed them (the bad versions stay readable until pruned).

    METADATA-ONLY: the restored snapshot's files are hardlinked and its
    partition references (symlink farm) recreated — no data bytes are
    rewritten, so restoring a 100 TB table costs file-count metadata
    ops, exactly like Delta's RESTORE (which re-adds the old version's
    file entries to the log).  The commit rides the same claim +
    pointer-swap protocol as any upsert, so concurrent writers see a
    plain ``ConcurrentWriteError``/rebase.

    ``change_feed=True`` additionally records the restore's row-level
    effect (rows re-appearing = ``insert``, rows vanishing = ``delete``,
    computed as full-row ``exceptAll`` diffs against the pre-restore
    current state in the restored schema) so CDC consumers following
    :func:`read_change_feed` survive the rollback; it costs one read of
    both versions.  Without it the restored commit has no ``_changes``
    entry and feed reads spanning it refuse (the documented gap
    behavior).  Returns the new version number."""
    import os

    if version is None and as_of is None:
        raise ValueError("restore_table requires version or as_of")
    cur = _current_snapshot(target_path)
    if cur is None:
        raise FileNotFoundError(f"no committed snapshot table at {target_path}")
    src_name = _resolve_snapshot_name(target_path, version, as_of)
    next_version = int(cur.lstrip("v")) + 1
    manifest = _load_manifest(target_path, src_name)
    manifest["restored_from"] = int(src_name.lstrip("v"))

    def restore_feed(_staged) -> DataFrame:
        # the restored snapshot's content IS the source snapshot's (same
        # files, same vectors), so the feed reads it from there
        restored = _read_snapshot(spark, target_path, src_name)
        current = _read_snapshot(spark, target_path, cur)
        # align the pre-restore state to the restored (= post-commit
        # table) schema; columns added after the restore point
        # vanish with the restore, columns it lacks null-fill
        aligned = current.select(
            [
                F.col(f.name).cast(f.dataType)
                if f.name in current.columns
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in restored.schema.fields
            ]
        )
        return _tag_changes(
            restored.exceptAll(aligned), "insert", next_version
        ).unionByName(_tag_changes(aligned.exceptAll(restored), "delete", next_version))

    _commit(
        target_path,
        next_version,
        keep_snapshots,
        carry=(os.path.join(target_path, src_name), manifest),
        changes_builder=restore_feed if change_feed else None,
    )
    return next_version


def vacuum_table(
    target_path: str,
    keep_snapshots: int = 2,
    older_than_seconds: "float | None" = None,
) -> list[str]:
    """``VACUUM`` analog: reclaim snapshot versions older than the
    newest ``keep_snapshots`` plus every ``data/`` pool dir no retained
    snapshot references — the standalone form of the best-effort prune
    each commit already runs, for shrinking the time-travel window
    without writing anything.  Attempt-scoped artifacts younger than
    the claim grace window are spared (they may belong to a live
    concurrent writer — same liveness rule as the commit-path prune).
    Returns the reclaimed top-level entry names (snapshot dirs,
    manifests, pool dirs as ``data/<pool>``).  Reads of pruned versions
    raise ``FileNotFoundError`` afterwards; the current version is
    always retained.

    ``older_than_seconds`` (Delta's ``VACUUM ... RETAIN N HOURS`` form)
    derives the keep count by AGE instead: every version whose manifest
    was committed within the window is retained (plus the current one,
    always), versions entirely older reclaim.  When both are given the
    LARGER retention wins — vacuum never prunes a version one of the
    two rules would keep.

    NOTE the shallow-clone hazard (same as Delta): a clone of a
    PARTITIONED table references this table's pool dirs by path, and
    vacuum here cannot see those external references — vacuum a cloned
    source only after re-materializing or dropping its clones
    (unpartitioned clones hardlink, so their bytes survive any source
    vacuum)."""
    import os

    cur = _current_snapshot(target_path)
    if cur is None:
        raise FileNotFoundError(f"no committed snapshot table at {target_path}")
    cur_v = int(cur.lstrip("v"))
    if older_than_seconds is not None:
        import time

        cutoff = time.time() - older_than_seconds
        oldest_kept = cur_v
        for entry in os.listdir(target_path):
            if not (entry.startswith("v") and entry.endswith(".json")):
                continue
            stem = entry[:-5]
            if "." in stem or not stem.lstrip("v").isdigit():
                continue  # attempt-staged leftovers
            v = int(stem.lstrip("v"))
            if v <= cur_v and os.path.getmtime(os.path.join(target_path, entry)) >= cutoff:
                oldest_kept = min(oldest_kept, v)
        keep_snapshots = max(keep_snapshots, cur_v - oldest_kept + 1)

    def _inventory() -> set[str]:
        entries = set()
        for e in os.listdir(target_path):
            if e == "data":
                pool_root = os.path.join(target_path, "data")
                entries |= {os.path.join("data", p) for p in os.listdir(pool_root)}
            else:
                entries.add(e)
        return entries

    before = _inventory()
    _prune_snapshots(target_path, int(cur.lstrip("v")), keep_snapshots)
    return sorted(before - _inventory())


def clone_table(
    spark: SparkSession,
    source_path: str,
    dest_path: str,
    version: int | None = None,
    as_of: "float | None" = None,
    keep_snapshots: int = 2,
) -> None:
    """SHALLOW CLONE (Delta ``CREATE TABLE ... SHALLOW CLONE``): commit
    ``dest_path`` v1 referencing the source snapshot's bytes with ZERO
    data copy — unpartitioned files hardlink, a partitioned farm's pool
    references are recreated as absolute links into the SOURCE's pool
    (the object-store port records absolute object URIs in the clone's
    manifest).  Writes to either table after the clone are invisible to
    the other: the clone's upserts pool under its own ``data/`` and its
    snapshots carry forward only references, never bytes — copy-on-write
    at partition granularity.

    Hazard (inherent to shallow clones, documented by Delta the same
    way): VACUUM on a partitioned SOURCE can reclaim pool dirs a clone
    still references — see :func:`vacuum_table`.  ``version``/``as_of``
    clone a retained older snapshot instead of the current one."""
    import os

    if os.path.isdir(dest_path) and os.listdir(dest_path):
        raise FileExistsError(f"clone destination {dest_path} is not empty")
    cur = _current_snapshot(source_path)
    if cur is None:
        raise FileNotFoundError(f"no committed snapshot table at {source_path}")
    src_name = (
        _resolve_snapshot_name(source_path, version, as_of)
        if version is not None or as_of is not None
        else cur
    )
    os.makedirs(dest_path, exist_ok=True)
    manifest = _load_manifest(source_path, src_name)
    manifest["cloned_from"] = {
        "path": os.path.realpath(source_path),
        "version": int(src_name.lstrip("v")),
    }
    if manifest.get("partitions"):
        # authoritative references now live outside this table dir
        manifest["partitions"] = {
            rel: os.path.realpath(os.path.join(source_path, d))
            for rel, d in manifest["partitions"].items()
        }
    _commit(
        dest_path, 1, keep_snapshots, carry=(os.path.join(source_path, src_name), manifest)
    )


def repartition_table(
    spark: SparkSession,
    target_path: str,
    partition_by: Sequence[str] | None = None,
    keep_snapshots: int = 2,
) -> int:
    """PARTITION EVOLUTION: commit the current snapshot rewritten under
    a new partition layout (``partition_by=None`` -> unpartitioned) —
    the ``ALTER TABLE ... PARTITIONED BY`` migration a table needs when
    its query pattern changes (e.g. date-partitioned facts that are now
    filtered by region).  Necessarily an O(table) rewrite — the bytes
    must physically regroup — but it is ONE commit riding the ordinary
    claim + pointer-swap protocol: readers see the old layout until the
    atomic swap, concurrent writers rebase on ``ConcurrentWriteError``,
    and the previous layout stays time-travelable until pruned.
    Subsequent upserts against the new layout prune on the new columns
    and rewrite only touched partitions, which is the payoff.  Returns
    the new version number."""
    cur = _current_snapshot(target_path)
    if cur is None:
        raise FileNotFoundError(f"no committed snapshot table at {target_path}")
    df = _read_snapshot(spark, target_path, cur)
    next_version = int(cur.lstrip("v")) + 1
    missing = [c for c in partition_by or () if c not in df.columns]
    if missing:
        raise ValueError(f"partition columns {missing} not in table schema")
    # no prior entries: every partition of the new layout is freshly
    # written — nothing carries forward across a layout change
    _commit(target_path, next_version, keep_snapshots, df, partition_by)
    return next_version


def build_bloom_index(
    spark: SparkSession,
    target_path: str,
    cols: Sequence[str],
    num_bits: int = 1 << 16,
    num_hashes: int = 5,
) -> None:
    """File-level Bloom index for point lookups on the CURRENT snapshot
    — the skipping tool for the case min/max stats can't help: a
    high-cardinality column on a table clustered by something else
    (every file's [min, max] spans the whole key space, but each file
    holds only its own values).  Delta's bloom filter index / parquet
    column bloom, as an explicit indexing action.

    Build is DISTRIBUTED: one scan of the snapshot per indexed column,
    k seeded-xxhash64 bit positions per value, map-side ``bit_or``
    partials folding into one ``num_bits``-bitmap per FILE (the same
    math as operators/bloom — the probe side reuses it so hashes
    always agree).  The index lands in ``<snapshot>/_bloom/<col>.json``
    keyed by part-file BASENAME (globally unique, symlink-proof),
    hidden from table reads by the underscore prefix, pruned with its
    snapshot.  It indexes exactly one version; re-run after new commits
    (files carried forward keep stale entries only if you don't —
    readers treat unindexed files conservatively, so results stay
    exact either way).
    """
    import json
    import os

    from etl_tiki_webscraping_spark.operators.bloom import _positions

    if num_bits % 64:
        raise ValueError("num_bits must be a multiple of 64")
    cur = _current_snapshot(target_path)
    if cur is None:
        raise FileNotFoundError(f"no committed table at {target_path}")
    snap_dir = os.path.join(target_path, cur)
    df = _read_snapshot(spark, target_path, cur)
    bloom_dir = os.path.join(snap_dir, "_bloom")
    os.makedirs(bloom_dir, exist_ok=True)
    for col in cols:
        words = (
            df.select(
                F.element_at(F.split(F.input_file_name(), "/"), -1).alias("__file"),
                F.explode(
                    F.array(*_positions(F.col(col), num_bits, num_hashes))
                ).alias("pos"),
            )
            .select(
                "__file",
                (F.col("pos") / 64).cast("int").alias("w"),
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias("m"),
            )
            .groupBy("__file", "w")
            .agg(F.bit_or("m").alias("bits"))
            .collect()
        )
        per_file: dict[str, dict[int, int]] = {}
        for r in words:
            per_file.setdefault(r["__file"], {})[int(r["w"])] = int(r["bits"])
        index = {
            "num_bits": num_bits,
            "num_hashes": num_hashes,
            # xxhash64 is TYPE-sensitive: probe literals must be cast to
            # the indexed column's exact type or every lookup misses
            "dtype": df.schema[col].dataType.simpleString(),
            "files": {
                fname: [wm.get(i, 0) for i in range(num_bits // 64)]
                for fname, wm in per_file.items()
            },
        }
        with open(os.path.join(bloom_dir, f"{col}.json.tmp"), "w") as fh:
            json.dump(index, fh, separators=(",", ":"))
        os.replace(
            os.path.join(bloom_dir, f"{col}.json.tmp"),
            os.path.join(bloom_dir, f"{col}.json"),
        )


def _bloom_pruned_read(
    spark: SparkSession, target_path: str, snap_name: str, eq_filter: tuple
) -> "DataFrame | None":
    """Point-lookup read consulting the snapshot's file-level Bloom
    index; None when no index exists for the column (caller falls back
    to read + filter).  Files missing from the index are scanned
    conservatively, so the result ALWAYS equals the unpruned path."""
    import json
    import os

    from etl_tiki_webscraping_spark.operators.bloom import _positions

    col, values, pred = _eq_terms(eq_filter)
    ipath = os.path.join(target_path, snap_name, "_bloom", f"{col}.json")
    if not os.path.exists(ipath):
        return None
    with open(ipath) as fh:
        index = json.load(fh)
    num_bits, k = index["num_bits"], index["num_hashes"]
    dtype = index["dtype"]
    # the literal's bit positions come from a one-row Spark job so the
    # hash is EXACTLY the engine's xxhash64 — never a reimplementation;
    # literals cast to the indexed column's type (xxhash64 is type-aware)
    pos_rows = spark.range(1).select(
        *[
            F.array(*_positions(F.lit(v).cast(dtype), num_bits, k)).alias(f"p{i}")
            for i, v in enumerate(values)
        ]
    ).collect()[0]
    value_positions = [list(pos_rows[f"p{i}"]) for i in range(len(values))]

    def may_contain(words: list, positions: list) -> bool:
        return all(words[p // 64] & (1 << (p % 64)) != 0 for p in positions)

    findex = index["files"]
    kept = []
    for path in _parquet_files(os.path.join(target_path, snap_name)):
        words = findex.get(os.path.basename(path))
        if words is None or any(may_contain(words, ps) for ps in value_positions):
            kept.append(path)
    return _read_kept_files(
        spark, target_path, snap_name, _load_manifest(target_path, snap_name), kept, pred
    )


def _read_kept_files(
    spark: SparkSession,
    target_path: str,
    snap_name: str,
    manifest: dict,
    kept: "list[str]",
    pred: Column,
) -> "DataFrame | None":
    """The tail of a file-skipping read: the ``kept`` files of one
    snapshot read under its manifest schema, deletion vectors applied,
    then filtered by ``pred``.  With no file kept, an empty frame under
    the manifest schema — or None when the manifest records none (the
    caller falls back to read + filter)."""
    import os

    if not kept:
        schema = _manifest_schema(manifest)
        return None if schema is None else spark.createDataFrame([], schema).filter(pred)
    snap_dir = os.path.join(target_path, snap_name)
    df = _snapshot_reader(spark, manifest).option("basePath", snap_dir).parquet(*kept)
    return _maybe_apply_dv(spark, snap_dir, df).filter(pred)


def _eq_terms(eq_filter: tuple) -> "tuple[str, list, Column]":
    """``(col, value)`` or ``(col, [values...])`` -> the column, the
    value list and the point-lookup predicate."""
    col, values = eq_filter[0], eq_filter[1]
    if not isinstance(values, (list, tuple)):
        values = [values]
    return col, list(values), F.col(col).isin(*[F.lit(v) for v in values])


def _resolve_snapshot_name(
    target_path: str, version: int | None = None, as_of: "float | None" = None
) -> str:
    """Resolve a time-travel request to a RETAINED, COMMITTED snapshot
    dir name.  ``version`` must be committed (at or before the current
    pointer) and not yet pruned; ``as_of`` (epoch seconds) resolves to
    the newest retained snapshot whose manifest was committed at or
    before that instant — Delta's ``timestampAsOf`` resolution.  Raises
    ``FileNotFoundError`` when no retained snapshot satisfies the
    request."""
    import os

    if as_of is not None:
        cur = _current_snapshot(target_path)
        cur_v = int(cur.lstrip("v")) if cur is not None else 0
        best = None
        for entry in os.listdir(target_path):
            if not (entry.startswith("v") and entry.endswith(".json")):
                continue
            stem = entry[:-5]
            try:
                v = int(stem.lstrip("v").split(".", 1)[0])
            except ValueError:
                continue
            if "." in stem or v > cur_v:  # staged / uncommitted leftovers
                continue
            committed_at = os.path.getmtime(os.path.join(target_path, entry))
            if committed_at <= as_of and (best is None or v > best):
                best = v
        if best is None:
            raise FileNotFoundError(
                f"{target_path}: no retained snapshot committed at or before "
                f"as_of={as_of} (table newer than that instant, or history pruned)"
            )
        version = best
    assert version is not None
    cur = _current_snapshot(target_path)
    name = f"v{version:08d}"
    snap_path = os.path.join(target_path, name)
    # a dir NEWER than the pointer is an uncommitted crash leftover
    committed = cur is not None and version <= int(cur.lstrip("v"))
    if not committed or not os.path.exists(snap_path):
        raise FileNotFoundError(
            f"snapshot {name} of {target_path} is not available "
            f"(pruned, never committed, or ahead of {cur})"
        )
    return name


def read_parquet_table(
    spark: SparkSession,
    target_path: str,
    version: int | None = None,
    range_filter: "tuple | None" = None,
    as_of: "float | None" = None,
    eq_filter: "tuple | None" = None,
) -> DataFrame:
    """Read an upsert-managed parquet table: follow the ``_LATEST``
    snapshot pointer if present, else read the path as plain parquet
    (legacy layout / externally-written tables).

    ``version`` time-travels to a specific retained snapshot (see
    ``keep_snapshots`` on :func:`upsert_parquet`); raises FileNotFoundError
    if that snapshot was pruned or never committed at or before the
    current version.

    ``as_of`` (epoch seconds; mutually exclusive with ``version``)
    time-travels by WALL CLOCK: the newest retained snapshot committed
    at or before the given instant — Delta's ``timestampAsOf``, resolved
    the same way (manifest-file timestamps stand in for commit-log file
    timestamps).  Raises FileNotFoundError when every retained snapshot
    is newer than ``as_of`` (the table didn't exist / history pruned).

    ``range_filter=(col, lo, hi)`` — or a LIST of such triples, ANDed —
    applies ``lo <= col <= hi`` (either bound may be None) AND
    file-level data skipping: files whose manifest-recorded min/max
    range cannot overlap ANY conjunct are never handed to the scan —
    the metadata side of ``compact_table``'s ``sort_by`` clustering
    (per-file disjoint ranges; multi-column skipping is what
    ``zorder_by`` clustering exists for), and the file-granular
    complement of hive partition pruning for high-cardinality columns.
    Files without recorded stats for a conjunct's column are scanned
    conservatively, so the result ALWAYS equals the unpruned
    read-then-filter.

    ``eq_filter=(col, value)`` — or ``(col, [values...])`` — applies a
    point-lookup filter AND file-level Bloom skipping when
    :func:`build_bloom_index` indexed the column on this snapshot: only
    files whose bitmap may contain some requested value are scanned
    (unindexed files conservatively kept).  This skips where min/max
    cannot — a high-cardinality key on a table clustered by a different
    column.  Mutually exclusive with ``range_filter``.
    """
    if version is not None and as_of is not None:
        raise ValueError("version and as_of are mutually exclusive")
    if eq_filter is not None and range_filter is not None:
        raise ValueError("eq_filter and range_filter are mutually exclusive")
    if version is not None or as_of is not None:
        name = _resolve_snapshot_name(target_path, version, as_of)
    else:
        name = _current_snapshot(target_path)
        if name is None:
            df = spark.read.parquet(target_path)
            if range_filter:
                return _apply_range(df, range_filter)
            if eq_filter:
                return df.filter(_eq_terms(eq_filter)[2])
            return df
    if range_filter is not None:
        pruned = _stats_pruned_read(spark, target_path, name, range_filter)
        if pruned is not None:
            return pruned
        return _apply_range(_read_snapshot(spark, target_path, name), range_filter)
    if eq_filter is not None:
        pruned = _bloom_pruned_read(spark, target_path, name, eq_filter)
        if pruned is not None:
            return pruned
        return _read_snapshot(spark, target_path, name).filter(_eq_terms(eq_filter)[2])
    return _read_snapshot(spark, target_path, name)


def _range_conjuncts(range_filter) -> "list[tuple]":
    """Normalize ``(col, lo, hi)`` or ``[(col, lo, hi), ...]`` to a list."""
    if range_filter and isinstance(range_filter[0], (list, tuple)):
        return [tuple(r) for r in range_filter]
    return [tuple(range_filter)]


def _range_pred(range_filter) -> Column:
    pred = F.lit(True)
    for col, lo, hi in _range_conjuncts(range_filter):
        if lo is not None:
            pred = pred & (F.col(col) >= F.lit(lo))
        if hi is not None:
            pred = pred & (F.col(col) <= F.lit(hi))
    return pred


def _apply_range(df: DataFrame, range_filter) -> DataFrame:
    return df.filter(_range_pred(range_filter))


def _stats_pruned_read(
    spark: SparkSession, target_path: str, snap_name: str, range_filter: tuple
) -> "DataFrame | None":
    """File-skipping read of one snapshot under a range predicate, or
    None when the manifest offers nothing to skip (caller falls back to
    the ordinary full read + filter)."""
    import os

    conjuncts = _range_conjuncts(range_filter)
    manifest = _load_manifest(target_path, snap_name)
    stats = manifest.get("file_stats") or {}
    if not stats:
        return None
    snap_dir = os.path.join(target_path, snap_name)
    all_files = [os.path.relpath(f, snap_dir) for f in _parquet_files(snap_dir)]

    def survives(rel: str) -> bool:
        # a file is skipped when ANY conjunct proves it can't overlap
        for col, lo, hi in conjuncts:
            s = stats.get(rel, {}).get(col)
            if not s:
                continue  # no recorded range for this column -> can't prove
            mn, mx = s
            try:
                if lo is not None and mx < lo:
                    return False
                if hi is not None and mn > hi:
                    return False
            except TypeError:
                # bound not comparable with the JSON-decoded stat values
                # (e.g. an int bound against a string column) — keep the
                # always-equals-unpruned-read contract: must scan
                continue
        return True

    kept = [f for f in all_files if survives(f)]
    if len(kept) == len(all_files):
        return None  # nothing skippable; use the standard read path
    return _read_kept_files(
        spark,
        target_path,
        snap_name,
        manifest,
        [os.path.join(snap_dir, f) for f in kept],
        _range_pred(range_filter),
    )


def _leaf_partition_dirs(root: str, depth: int) -> list[str]:
    """Relative paths of the hive partition leaf dirs exactly ``depth``
    levels under ``root`` (follows symlinked dirs)."""
    import os

    out: list[str] = []

    def walk(d: str, rel: str, level: int) -> None:
        if level == 0:
            out.append(rel)
            return
        if not os.path.isdir(d):
            return
        for e in sorted(os.listdir(d)):
            full = os.path.join(d, e)
            if e.startswith((".", "_")) or not os.path.isdir(full):
                continue
            walk(full, os.path.join(rel, e) if rel else e, level - 1)

    walk(root, "", depth)
    return out


def _layout(target_path: str, cur: "str | None") -> "tuple[list[str], dict[str, str]]":
    """The committed layout of snapshot ``cur``, read from its manifest:
    the partition columns and {leaf relpath -> fully-resolved pool dir}.
    Entries are relative to the table dir, except a clone's, which are
    absolute; ``join`` keeps those as they are.  A snapshot whose
    manifest records no ``partition_by`` (unpartitioned or legacy), or
    no table at all, has the layout ``([], {})``."""
    import os

    manifest = _load_manifest(target_path, cur) if cur is not None else {}
    entries = manifest.get("partitions") or {}
    return list(manifest.get("partition_by") or []), {
        rel: os.path.realpath(os.path.join(target_path, d)) for rel, d in entries.items()
    }


class ConcurrentWriteError(RuntimeError):
    """Another writer committed between this writer's snapshot read and
    its publish attempt; re-run the operation against the new version."""


def _write_pointer(target_path: str, snap_name: str, expected_cur: str | None) -> None:
    """Commit = atomic pointer swap (object-store analog: single PUT,
    or a conditional PUT for multi-writer safety).

    ``expected_cur`` is optimistic-concurrency detection: if the
    pointer no longer reads the version this writer based its merge on,
    a concurrent commit happened and swapping would silently DROP it —
    raise instead so the caller re-runs on the new version.  On a local
    FS this check-then-swap has a small race window (documented:
    single-writer is the supported mode, same as Delta on S3 without a
    lock service); on object stores it maps to a conditional PUT /
    put-if-match, which closes the window.
    """
    import os

    now = _current_snapshot(target_path)
    if now != expected_cur:
        raise ConcurrentWriteError(
            f"{target_path}: expected committed version {expected_cur!r} "
            f"but found {now!r}; a concurrent writer published first"
        )
    pointer = os.path.join(target_path, SNAPSHOT_POINTER)
    tmp = pointer + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(snap_name)
    os.replace(tmp, pointer)


def _stage_base(next_version: int) -> str:
    """Attempt-scoped staging name for snapshot ``next_version``.  Every
    write of an attempt (snapshot dir / farm, manifest) happens under
    this unique name; version-numbered paths are only ever CREATED by
    :func:`_publish_staged`'s claim — so a concurrent writer that loses
    the race never overwrites the winner's committed v{N} artifacts
    (it fails the claim and rebases instead)."""
    import uuid

    return f"v{next_version:08d}.stage-{uuid.uuid4().hex[:8]}"


# How long an existing v{N}.claim token (or an unreferenced .stage-
# dir / data-pool dir) is presumed to belong to a LIVE concurrent
# attempt.  The claim critical section is driver-side metadata ops
# only (rename + hardlink + pointer write — the data was already
# written under the attempt-unique staging name), so anything older
# than this is a crash leftover.  Tests shrink it to exercise the
# reclaim path.
_CLAIM_GRACE_SECONDS = 60.0


def _acquire_claim(target_path: str, snap_name: str, stage_base: str, assert_base) -> str:
    """Exclusively claim version ``snap_name`` for this attempt by
    O_EXCL-creating ``v{N}.claim`` (object-store analog: if-none-match
    conditional PUT).  A token that already exists means either a
    published winner (pointer moved → ``assert_base`` raises), a LIVE
    concurrent attempt (token younger than the grace window →
    ``ConcurrentWriteError``, the caller's retry loop rebases — by
    then the holder has published, moving the pointer, or crashed,
    letting a post-grace retry reclaim), or a crash leftover (stale
    token → reclaimed along with any orphaned ``v{N}`` artifacts, then
    claimed again)."""
    import os
    import shutil
    import time

    claim = os.path.join(target_path, snap_name + ".claim")
    for final_try in (False, True):
        try:
            fd = os.open(claim, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            try:
                os.write(fd, stage_base.encode())
            finally:
                os.close(fd)
            return claim
        except FileExistsError:
            assert_base()  # published winner → rebase
            try:
                age = time.time() - os.stat(claim).st_mtime
            except OSError:
                continue  # token vanished between create and stat; retry
            if age < _CLAIM_GRACE_SECONDS or final_try:
                raise ConcurrentWriteError(
                    f"{target_path}: {snap_name} is claimed by a concurrent "
                    f"attempt (token age {age:.1f}s); rebase and retry"
                )
            # stale leftover of a crashed attempt: reclaim its token and
            # any orphaned version-numbered artifacts, then claim again
            for leftover in (snap_name, snap_name + ".json", claim):
                full = os.path.join(target_path, leftover)
                try:
                    shutil.rmtree(full) if os.path.isdir(full) else os.remove(full)
                except OSError:
                    pass
    raise ConcurrentWriteError(f"{target_path}: could not claim {snap_name}")


def _publish_staged(
    target_path: str, next_version: int, stage_base: str, keep_snapshots: int
) -> None:
    """Claim the version-numbered location for an attempt's staged
    snapshot, then swap the pointer.

    Claim semantics (the fix for the r5 ADVICE hazard — attempts used
    to ``mode("overwrite")`` straight into ``v{N}`` — hardened per the
    r6 ADVICE against the loser-reclaims-live-winner race):

    - the version number itself is claimed via an O_EXCL token file
      (:func:`_acquire_claim`) HELD through the pointer swap, so two
      live attempts can never both operate on ``v{N}``: a fresh
      foreign token means a live concurrent attempt →
      ``ConcurrentWriteError`` (rebase), never a reclaim;
    - with the token held, an occupied ``v{N}`` dir/manifest IS a
      genuine crash leftover (a live owner would hold the token), so
      reclaiming it is safe;
    - snapshot dir: ``os.rename(stage, vN)`` — refuses a non-empty
      existing ``vN`` (POSIX: ENOTEMPTY) instead of replacing it;
    - manifest: ``os.link`` (exclusive create) instead of ``os.replace``;
    - immediately before the pointer swap the committed manifest's
      ``attempt`` field is re-read and must equal this attempt's
      staging name — if a >grace-stalled process's artifacts were
      reclaimed out from under it, it discovers that here and rebases
      instead of publishing another attempt's data;
    - residual IO failures inside the claim (e.g. our staging vanished
      because a stale-leftover reclaim took it) surface as
      ``ConcurrentWriteError`` so ``retry_conflicts`` rebases instead
      of bubbling a generic ``OSError``.

    On an object store every claim step maps to an if-none-match /
    if-match conditional PUT, which closes the remaining local-FS
    check-then-act windows."""
    import json
    import os
    import shutil

    snap_name = f"v{next_version:08d}"
    expected = f"v{next_version - 1:08d}" if next_version > 1 else None

    def _assert_base() -> None:
        now = _current_snapshot(target_path)
        if now != expected:
            raise ConcurrentWriteError(
                f"{target_path}: expected committed version {expected!r} "
                f"but found {now!r}; a concurrent writer published first"
            )

    _assert_base()
    claim = _acquire_claim(target_path, snap_name, stage_base, _assert_base)
    try:
        src = os.path.join(target_path, stage_base)
        dst = os.path.join(target_path, snap_name)
        try:
            os.rename(src, dst)
        except OSError:
            # we hold the claim, so an occupied dst is a crash leftover
            # (a live owner would hold the token); src missing means a
            # winner's prune reclaimed our stage as a stale leftover —
            # _assert_base catches the published winner, and any other
            # IO failure is claim-time interference → rebase.
            _assert_base()
            shutil.rmtree(dst, ignore_errors=True)
            try:
                os.rename(src, dst)
            except OSError as exc:
                raise ConcurrentWriteError(
                    f"{target_path}: staged snapshot {stage_base!r} was "
                    f"reclaimed during the claim ({exc}); rebase and retry"
                ) from exc
        src_m = os.path.join(target_path, stage_base + ".json")
        dst_m = os.path.join(target_path, snap_name + ".json")
        try:
            os.link(src_m, dst_m)
        except OSError:
            _assert_base()
            try:
                os.remove(dst_m)  # crash leftover manifest
            except OSError:
                pass
            try:
                os.link(src_m, dst_m)
            except OSError as exc:
                raise ConcurrentWriteError(
                    f"{target_path}: staged manifest {stage_base!r}.json was "
                    f"reclaimed during the claim ({exc}); rebase and retry"
                ) from exc
        os.remove(src_m)
        # ownership re-check: the artifacts about to be committed must be
        # THIS attempt's (defends a >grace-stalled process whose claim was
        # reclaimed mid-section and replaced by another attempt's work)
        try:
            with open(dst_m) as fh:
                owner = json.load(fh).get("attempt")
        except (OSError, ValueError):
            owner = None
        if owner != stage_base:
            raise ConcurrentWriteError(
                f"{target_path}: {snap_name} manifest belongs to attempt "
                f"{owner!r}, not {stage_base!r}; claim was reclaimed — rebase"
            )
        _write_pointer(target_path, snap_name, expected)
        _prune_snapshots(target_path, next_version, keep_snapshots)
    finally:
        try:
            os.remove(claim)
        except OSError:
            pass


def _prune_snapshots(target_path: str, next_version: int, keep_snapshots: int) -> None:
    """Best-effort retention: keep the newest ``keep_snapshots`` snapshot
    versions (dirs + manifests) plus every ``data/`` pool dir still
    referenced by a retained snapshot; everything older is reclaimed.
    Attempt-scoped artifacts (``.stage-`` dirs/manifests, ``.claim``
    tokens, unreferenced pool dirs) are SKIPPED when they may belong to
    a LIVE concurrent attempt — deleting a live attempt's staging
    mid-write would surface there as a generic IO error the
    conflict-retry loop can't rebase (r6 ADVICE).  "May be live" is
    RECENCY-ONLY: younger than the claim grace window.  The artifact's
    target version proves nothing — a slow loser that read an old base
    can still be staging toward a long-superseded version while winners
    commit past it (r7 review) — and an active writer keeps refreshing
    its staging dir's mtime as files land, so fresh means possibly
    live.  Aged leftovers reclaim on a later prune.  Object-store
    analog: batch delete driven by the retained manifests."""
    import os
    import shutil
    import time

    now = time.time()

    def _maybe_live(path: str) -> bool:
        # NO version-based shortcut: a slow loser that read base vN-2 can
        # still be staging toward a long-superseded version while winners
        # commit past it — reclaiming its dir mid-write surfaces as a
        # generic IO error retry_conflicts can't rebase.  Recency is the
        # only safe liveness signal — measured over the artifact's WHOLE
        # TREE, not the top dir alone: a Spark write lands task files
        # under <stage>/_temporary/... for the entire job, so a >grace-
        # window write never refreshes the top-level dir's mtime and a
        # concurrent winner's prune would delete the live staging
        # mid-write (generic FileNotFoundError the rebase loop can't
        # retry).  The walk is bounded: staging/pool dirs hold one
        # attempt's files.  Superseded leftovers age out of the grace
        # window and reclaim on a later prune.
        try:
            newest = os.stat(path).st_mtime
            if os.path.isdir(path):
                for root, dirs, files in os.walk(path):
                    for e in dirs + files:
                        try:
                            newest = max(
                                newest,
                                os.lstat(os.path.join(root, e)).st_mtime,
                            )
                        except OSError:
                            return True  # mutating underfoot: live
            return now - newest < _CLAIM_GRACE_SECONDS
        except OSError:
            return True  # vanished mid-check: someone owns it, leave it

    keep_versions = {
        f"v{v:08d}" for v in range(max(1, next_version - keep_snapshots + 1), next_version + 1)
    }
    referenced: set[str] = set()
    for name in keep_versions:
        snap = os.path.join(target_path, name)
        if not os.path.isdir(snap):
            continue
        for root, dirs, files in os.walk(snap):
            for e in dirs + files:
                p = os.path.join(root, e)
                if os.path.islink(p):
                    # relpath of realpath(link) against realpath(table):
                    # with any symlinked component in target_path itself
                    # (/tmp on macOS, /var tempdirs) the two spellings
                    # differ, every pool would look unreferenced, and
                    # prune would delete live data out from under the
                    # retained snapshots' farm links
                    rel = os.path.relpath(
                        os.path.realpath(p), os.path.realpath(target_path)
                    )
                    parts = rel.split(os.sep)
                    if parts[0] == "data" and len(parts) > 1:
                        referenced.add(parts[1])
    for entry in os.listdir(target_path):
        if entry == SNAPSHOT_POINTER:
            continue
        full = os.path.join(target_path, entry)
        if entry == "data":
            for sub in os.listdir(full):
                pool = os.path.join(full, sub)
                if sub in referenced or _maybe_live(pool):
                    continue
                try:
                    shutil.rmtree(pool)
                except OSError:
                    pass
            continue
        if (".stage-" in entry or entry.endswith(".claim")) and _maybe_live(full):
            continue  # live concurrent attempt's staging/claim
        stem = entry[:-5] if entry.endswith(".json") else entry
        if stem in keep_versions:
            continue
        try:
            shutil.rmtree(full) if os.path.isdir(full) else os.remove(full)
        except OSError:
            pass  # concurrent reader on a slow FS; next run reclaims it


_HIVE_NULL_DIR = "__HIVE_DEFAULT_PARTITION__"


def _dir_to_values(rel: str, pcols: Sequence[str]) -> tuple:
    """Decode a hive partition dir path back to normalized string
    values (None for the null sentinel) — percent-unescaping reverses
    Hive's escapePathName."""
    from urllib.parse import unquote

    import os

    vals = []
    for pc, seg in zip(pcols, rel.split(os.sep)):
        v = seg[len(pc) + 1 :]
        vals.append(None if v == _HIVE_NULL_DIR else unquote(v))
    return tuple(vals)


def _normalize_value(v: object) -> str | None:
    """Python value -> the string hive renders into the dir name."""
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def _pool_name(stage: str) -> str:
    """data/ pool dir name for an attempt's staging name — permanently
    attempt-unique (the manifest records the mapping, so the name never
    needs to be the bare version number)."""
    return stage.lstrip("v").replace(".stage-", "-")


def _commit(
    target_path: str,
    next_version: int,
    keep_snapshots: int,
    df: "DataFrame | None" = None,
    partition_by: Sequence[str] | None = None,
    prior_entries: "dict[str, str] | None" = None,
    drop_values: "set[tuple] | None" = None,
    carry: "tuple[str, dict] | None" = None,
    deletion_vectors: "DataFrame | None" = None,
    audit: "object | None" = None,
    changes_builder: "object | None" = None,
) -> None:
    """Commit snapshot ``next_version`` of ``target_path`` — the one
    commit path every table writer goes through.  Everything is staged
    under an attempt-unique name (:func:`_stage_base`), then the
    manifest is written, the change feed and audit run, and
    :func:`_publish_staged` claims the version and swaps the pointer.
    If the commit does not land (audit rejection, concurrent-writer
    loss, crash-path exception), this attempt's stage dir, stage
    manifest and pool dir are reclaimed immediately — they are
    exclusively ours, so no other writer can be affected.

    What the stage holds:

    - ``carry=(snapshot dir, manifest)``: that snapshot recreated at
      zero data copy (:func:`_link_snapshot_tree`; links resolve to
      absolute targets only when the snapshot belongs to another table
      — shallow clone).  The manifest is the carried one with this
      commit's version and attempt.  ``deletion_vectors`` replaces the
      carried vectors, and ``df`` appends as additional part files
      next to the links (merge-on-read update post-images).
    - ``partition_by``: ``df`` written into a new ``data/`` pool dir
      and referenced from a hive-layout farm (:func:`_stage_farm`),
      carrying ``prior_entries`` forward minus the partitions in
      ``drop_values``.
    - otherwise: ``df`` written as a plain unpartitioned snapshot dir.

    ``changes_builder`` (change data feed): a callable receiving the
    rows this commit just wrote, read back from their staged files
    (None for ``carry`` commits, whose callers build the feed from the
    source snapshot), and returning the commit's change rows.  Building
    from the staged files means the merge lineage is never executed
    twice — the feed costs one read of the bytes this commit just
    wrote (plus the builder's own pruned reads), not a second full
    merge.

    ``audit`` (write-audit-publish, Iceberg WAP): validates the
    fully-written, not-yet-committed snapshot, read via its staged
    name; raising aborts BEFORE the claim, so readers keep the previous
    version."""
    import os
    import shutil

    stage = _stage_base(next_version)
    stage_dir = os.path.join(target_path, stage)
    # attempt-unique pool name: two writers racing toward the same
    # next_version cannot overwrite each other's data files
    pool_dir = os.path.join(target_path, "data", _pool_name(stage))
    committed = False
    try:
        if carry is not None:
            src_dir, manifest = carry
            foreign = os.path.realpath(os.path.dirname(src_dir)) != os.path.realpath(
                target_path
            )
            # vectors are table content and carry with the links, unless
            # this commit rewrites them as a new union
            _link_snapshot_tree(
                src_dir,
                stage_dir,
                resolve_links=foreign,
                keep=(_DV_DIR,) if deletion_vectors is None else (),
            )
            manifest = dict(manifest)
            if deletion_vectors is not None:
                deletion_vectors.write.mode("overwrite").parquet(
                    os.path.join(stage_dir, _DV_DIR)
                )
                manifest["deletion_vectors"] = True
            if df is not None:
                df.write.mode("append").parquet(stage_dir)
        elif partition_by:
            manifest = _stage_farm(
                df,
                target_path,
                next_version,
                list(partition_by),
                prior_entries or {},
                drop_values,
                stage_dir,
                pool_dir,
            )
        else:
            df.write.mode("overwrite").parquet(stage_dir)
            # authoritative schema + per-file min/max stats, so
            # read_parquet_table can skip whole files under a range
            # predicate (the metadata half of compact_table's clustering)
            manifest = {"schema": df.schema.json(), "file_stats": _dir_file_stats(stage_dir, "")}
        manifest["version"] = next_version
        manifest["attempt"] = stage  # ownership check at publish (_publish_staged)
        _write_manifest(target_path, stage, manifest)
        if changes_builder is not None:
            staged = None
            if carry is None:
                # the explicit schema stops hive re-inference of
                # partition columns when reading back the pool
                written = pool_dir if partition_by else stage_dir
                staged = df.sparkSession.read.schema(df.schema).parquet(written)
            # inside the staged snapshot dir: rides the same claim +
            # pointer swap; the '_' prefix hides it from table reads,
            # partition discovery and manifest file stats
            changes_builder(staged).write.mode("overwrite").parquet(
                os.path.join(stage_dir, "_changes")
            )
        if audit is not None:
            audit(_read_snapshot(df.sparkSession, target_path, stage))
        _publish_staged(target_path, next_version, stage, keep_snapshots)
        committed = True
    finally:
        if not committed:
            shutil.rmtree(stage_dir, ignore_errors=True)
            try:
                os.remove(stage_dir + ".json")
            except OSError:
                pass
            shutil.rmtree(pool_dir, ignore_errors=True)


def _stage_farm(
    merged: DataFrame,
    target_path: str,
    next_version: int,
    pcols: Sequence[str],
    prior_entries: dict[str, str],
    drop_values: "set[tuple] | None",
    farm_stage: str,
    pool_dir: str,
) -> dict:
    """Write ``merged`` (the touched partitions only) into the attempt's
    new ``data/`` pool dir, then build the staged snapshot as a
    hive-layout farm of per-partition references: freshly-written
    partitions point at the new pool dir, untouched ones at the same
    pool dirs the previous snapshot referenced (zero copy).  Locally the
    references are symlinks so Spark's ordinary hive partition
    discovery — and therefore PartitionFilters pruning — works
    unchanged; the authoritative commit metadata is ``vN.json``
    (partition -> pool path), which is what an object-store port would
    read instead of symlinks.  Every crash point leaves the previous
    snapshot fully readable.  Returns the layout's manifest fields."""
    import os
    import shutil

    merged.write.mode("overwrite").partitionBy(*pcols).parquet(pool_dir)
    pool_real = os.path.realpath(pool_dir)

    def fresh(data_dir: str) -> bool:
        real = os.path.realpath(data_dir)
        return real == pool_real or real.startswith(pool_real + os.sep)

    entries = dict(prior_entries)
    if drop_values:
        # every TOUCHED partition's prior entry is superseded — including
        # ones the merge left EMPTY (all their rows moved/deleted), which
        # produce no new dir and must vanish from the manifest rather
        # than resurrect their stale data by carry-forward
        entries = {
            rel: d
            for rel, d in entries.items()
            if _dir_to_values(rel, pcols) not in drop_values
        }
    for rel in _leaf_partition_dirs(pool_dir, len(pcols)):
        entries[rel] = os.path.realpath(os.path.join(pool_dir, rel))

    os.makedirs(farm_stage)
    for rel, data_dir in entries.items():
        link = os.path.join(farm_stage, rel)
        os.makedirs(os.path.dirname(link), exist_ok=True)
        os.symlink(os.path.relpath(data_dir, os.path.dirname(link)), link)

    # deletion vectors: when any prior partition carries forward BY
    # REFERENCE, its files' DV rows must carry too or merge-on-read
    # deletes would resurrect in untouched partitions.  Rows naming
    # REWRITTEN files go stale harmlessly (new pool basenames never
    # match).  A full rewrite (no carried references — compaction,
    # layout evolution) purges the vectors instead.
    prev = f"v{next_version - 1:08d}"
    prev_dv = os.path.join(target_path, prev, _DV_DIR)
    if os.path.isdir(prev_dv) and not all(fresh(d) for d in entries.values()):
        shutil.copytree(prev_dv, os.path.join(farm_stage, _DV_DIR), copy_function=os.link)

    # per-file min/max for data skipping: freshly-written pool files get
    # their footer stats read now (driver-side, bounded by the batch's
    # file count — the same metadata a Delta commit collects); files
    # carried forward by reference keep their PRIOR manifest stats
    # verbatim (the bytes didn't change, so neither did the ranges)
    prior_stats = _load_manifest(target_path, prev).get("file_stats") or {}
    file_stats: dict[str, dict] = {}
    for rel, data_dir in entries.items():
        if fresh(data_dir):
            file_stats.update(_dir_file_stats(data_dir, rel))
        else:
            pref = rel + os.sep
            file_stats.update({k: v for k, v in prior_stats.items() if k.startswith(pref)})

    return {
        "partition_by": list(pcols),
        "schema": merged.schema.json(),  # authoritative table schema (evolution-safe reads)
        "partitions": {rel: os.path.relpath(d, target_path) for rel, d in entries.items()},
        "file_stats": file_stats,
    }


def _parquet_file_stats(path: str) -> dict[str, list]:
    """Per-file column min/max aggregated from the parquet footer's
    row-group statistics — the per-file metadata a Delta/Iceberg commit
    records for data skipping.  Only JSON-safe primitive stats (int /
    float / str) are kept; a column missing stats in ANY row group is
    dropped for that file (its range would be a lie)."""
    import pyarrow.parquet as pq

    try:
        md = pq.read_metadata(path)
    except Exception:
        return {}
    agg: dict[str, list] = {}
    bad: set[str] = set()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            c = g.column(ci)
            name = c.path_in_schema
            if "." in name or name in bad:
                continue
            try:
                st = c.statistics
                ok = (
                    st is not None
                    and st.has_min_max
                    and isinstance(st.min, (int, float, str))
                    and not isinstance(st.min, bool)
                )
            except Exception:
                # pyarrow can't extract stats for every physical type
                # (e.g. some logical-type encodings raise NotImplemented)
                ok = False
            if not ok:
                bad.add(name)
                agg.pop(name, None)
                continue
            if name in agg:
                agg[name] = [min(agg[name][0], st.min), max(agg[name][1], st.max)]
            else:
                agg[name] = [st.min, st.max]
    return agg


def _dir_file_stats(data_dir: str, rel_prefix: str) -> dict[str, dict]:
    """{file rel path -> {col -> [min, max]}} for every parquet file
    directly inside ``data_dir``."""
    import os

    out: dict[str, dict] = {}
    for f in sorted(os.listdir(data_dir)):
        if not f.endswith(".parquet") or f.startswith((".", "_")):
            continue
        s = _parquet_file_stats(os.path.join(data_dir, f))
        if s:
            out[os.path.join(rel_prefix, f) if rel_prefix else f] = s
    return out


def _write_manifest(target_path: str, snap_name: str, manifest: dict) -> None:
    """Write ``<snap_name>.json`` atomically (tmp + rename)."""
    import json
    import os

    mpath = os.path.join(target_path, snap_name + ".json")
    with open(mpath + ".tmp", "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    os.replace(mpath + ".tmp", mpath)


_TOUCHED_LITERAL_MAX = 256


def _rows_in_partitions(
    snapshot: DataFrame, touched_rows: list, touched_schema, pcols: Sequence[str]
) -> DataFrame:
    """Rows of ``snapshot`` belonging to the (already-collected)
    touched partition-value rows.

    Few touched partitions (the common case): applied as a literal
    predicate, which hive partition pruning eliminates statically (the
    scan never lists untouched dirs).

    Many touched partitions: a literal OR-chain over thousands of
    values would blow up the expression tree, so fall back to a
    broadcast semi join on the partition columns; Spark's dynamic
    partition pruning turns the build side into a runtime scan filter,
    keeping the read proportional to touched data either way."""
    if len(touched_rows) <= _TOUCHED_LITERAL_MAX:
        cond = F.lit(False)
        for r in touched_rows:
            leaf = F.lit(True)
            for pc in pcols:
                leaf = leaf & F.col(pc).eqNullSafe(F.lit(r[pc]))
            cond = cond | leaf
        return snapshot.filter(cond)
    # null-safe join condition so NULL partition values are matched the
    # same way the literal path's eqNullSafe matches them
    touched = snapshot.sparkSession.createDataFrame(touched_rows, touched_schema)
    t = touched.select(*[F.col(pc).alias(f"__t_{pc}") for pc in pcols])
    cond = F.lit(True)
    for pc in pcols:
        cond = cond & F.col(pc).eqNullSafe(F.col(f"__t_{pc}"))
    return snapshot.join(F.broadcast(t), on=cond, how="left_semi")


def _touched_partitions(
    snapshot: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    pcols: Sequence[str],
    stable_partitions: bool,
) -> DataFrame:
    """The partition-value set an upsert batch requires rewriting.

    Always includes the partitions the update rows land in.  When
    ``stable_partitions`` is False (the safe default, matching Delta
    MERGE's whole-table key matching), it ALSO includes partitions
    currently holding OLD versions of the updated keys — otherwise a
    row whose partition value changed would survive as a stale
    duplicate in its old partition.  Locating those costs one
    column-pruned scan of (keys, partition cols) over the snapshot —
    a read-only pass, no write amplification.  Tables whose partition
    value is functionally dependent on the key (date-partitioned
    facts, the standard layout) should pass ``stable_partitions=True``
    to skip that scan entirely."""
    touched = updates.select(*pcols).distinct()
    if not stable_partitions:
        stale = (
            snapshot.select(*keys, *pcols)  # column-pruned: keys + partition values only
            .join(updates.select(*keys).distinct(), on=list(keys), how="left_semi")
            .select(*pcols)
            .distinct()
        )
        touched = touched.union(stale).distinct()
    return touched


def upsert_parquet(
    spark: SparkSession,
    updates: DataFrame,
    target_path: str,
    keys: Sequence[str],
    order_by: Sequence[Column | str] | None = None,
    partition_by: Sequence[str] | None = None,
    keep_snapshots: int = 2,
    stable_partitions: bool = False,
    evolve_schema: bool = False,
    audit: "object | None" = None,
    retry_conflicts: int = 0,
    change_feed: bool = False,
) -> None:
    """Upsert into a parquet table path; creates it if absent.

    ``change_feed=True`` records this commit's row-level changes
    (``insert`` / ``update_preimage`` / ``update_postimage``) into the
    snapshot's ``_changes/`` dir — Delta CDF semantics, read back with
    :func:`read_change_feed`.  Postimages derive from the JUST-STAGED
    files (the merge lineage never executes twice) and preimages from
    one more partition-pruned read of the prior snapshot's touched
    rows, joined on bare keys — never an O(table) version diff; off by
    default so the standard path pays nothing.

    ``retry_conflicts``: optimistic-concurrency RETRY budget.  An
    upsert is commutative at commit granularity (it re-reads the
    current snapshot and re-merges its batch), so when a concurrent
    writer publishes first — ``ConcurrentWriteError`` at the pointer
    swap — the losing writer can REBASE: re-run the merge against the
    newly committed version and attempt to publish again, exactly the
    Delta/Iceberg conflict-resolution loop.  0 (default) preserves
    detect-only behavior; with N retries exhausted the error
    propagates.  Each retry re-executes the full read-merge-write, so
    the final table equals SEQUENTIAL application of all writers'
    batches (per-key last-writer-wins as always).  Every attempt stages
    its snapshot/pool/manifest under an attempt-UNIQUE name and only
    claims the version-numbered location at publish time
    (:func:`_publish_staged`), so a losing writer never overwrites a
    winner's committed artifacts; the residual local-FS caveat is the
    pointer check-then-act window itself (object stores: conditional
    PUTs close it).

    ``audit`` (write-audit-publish): a callable receiving the fully
    written, NOT-yet-committed candidate table as a DataFrame; raise to
    abort the commit — readers keep the previous version and the staged
    snapshot is reclaimed like any crash leftover.  Use it for quality
    gates (row counts, null ratios, FK checks) between write and
    publish.

    Commit protocol: versioned snapshots + an atomically-swapped
    pointer file (the single-writer core of what Delta/Iceberg do with
    a transaction log):

        <target>/_LATEST          -> "v00000007"   (the committed table)
        <target>/v00000007/...    snapshot (see below)
        <target>/v00000006/...    previous snapshot (time-travel window;
                                   older snapshots pruned best-effort)

    Unpartitioned tables: the merged result is fully written into a NEW
    snapshot dir first; the commit is the pointer swap.  EVERY crash
    point leaves a complete, committed table: before the swap readers
    still see the old snapshot, after it the new one — there is no
    window where the target is missing or half-written (the flaw of
    delete-then-rename).  No POSIX rename of the data is required, so
    the protocol works on object stores: the pointer swap maps to a
    single-object PUT (atomic on S3/GCS) or a conditional put for
    multi-writer safety; the prune maps to a batch delete.

    Partitioned tables avoid the full-table write amplification.  The
    layout is table state: ``partition_by`` on the call that creates the
    table records it in the manifest, and every later writer reads it
    from there — omit it on an existing table; a different value raises
    (:func:`repartition_table` is the one way to change a layout).  Only
    the partitions the update batch touches are read (via a
    partition-pruned scan of the current snapshot),
    merged, and rewritten into an append-only ``data/`` pool; the new
    snapshot is a hive-layout dir of per-partition REFERENCES —
    symlinks locally, ``vN.json`` manifest entries authoritatively —
    so untouched partitions carry forward at zero I/O.  A 1 GB daily
    batch against a 100 TB table therefore writes ~1 GB, not 100 TB,
    which is the property Delta/Iceberg MERGE gets from file-level
    rewrite (and the reference's row-level ``ON DUPLICATE KEY UPDATE``,
    dags/etl.py:181-202, gets from B-tree page writes).  Read back via
    :func:`read_parquet_table` — partition pruning (PartitionFilters)
    works unchanged because the snapshot dir is ordinary hive layout.

    A key's partition value may legitimately CHANGE in an update; by
    default a column-pruned key scan locates the old partitions so the
    stale version is removed (Delta MERGE's whole-table matching,
    read-only cost).  Pass ``stable_partitions=True`` when the
    partition value is functionally dependent on the key — the
    standard date-partitioned-facts layout — to skip that scan and
    touch strictly the batch's own partitions.
    """
    keys = list(keys)

    def merge(target: "DataFrame | None") -> DataFrame:
        if target is None:
            return _dedup_updates(updates, keys, order_by)
        return upsert_dataframes(target, updates, keys, order_by, evolve_schema)

    attempt = 0
    while True:
        try:
            _copy_on_write(
                spark,
                target_path,
                keep_snapshots,
                lambda snap, pcols: _touched_partitions(
                    snap, updates, keys, pcols, stable_partitions
                ),
                merge,
                (lambda prior, staged, v: _change_rows(prior, staged, updates, keys, v))
                if change_feed
                else None,
                partition_by=partition_by,
                cast_to=updates.schema,
                audit=audit,
            )
            return
        except ConcurrentWriteError:
            if attempt >= retry_conflicts:
                raise
            attempt += 1
            # rebase: the next attempt re-reads the just-committed
            # version and re-merges this batch onto it


def _copy_on_write(
    spark: SparkSession,
    target_path: str,
    keep_snapshots: int,
    touched,
    rewrite,
    feed=None,
    partition_by: Sequence[str] | None = None,
    cast_to: "T.StructType | None" = None,
    audit: "object | None" = None,
) -> None:
    """Commit the next version of ``target_path`` as a copy-on-write
    rewrite — the one read-rewrite-commit sequence of
    :func:`upsert_parquet`, :func:`delete_where`, :func:`update_where`
    and :func:`apply_changes_parquet`.  Each writer passes three things:

    - ``touched(snapshot, pcols)``: the partition values its batch
      touches (asked only of a partitioned table);
    - ``rewrite(prior)``: the new rows from the prior ones — the rows
      of the touched partitions, the whole table when it is
      unpartitioned (or a legacy plain-parquet dir), None when the
      table is new;
    - ``feed(prior, staged, next_version)``: the commit's change rows
      (see ``changes_builder`` of :func:`_commit`), or None.

    The layout is the committed manifest's (:func:`_layout`): only the
    touched partitions are read and rewritten, every other partition
    carries forward by reference.  ``partition_by`` lays out a table
    this call creates; on an existing table it must be omitted or equal
    the recorded layout.  ``cast_to`` realigns the touched rows'
    partition columns to a batch's schema: hive reads append partition
    columns last and may re-infer their type."""
    import os

    cur = _current_snapshot(target_path)
    pcols, entries = _layout(target_path, cur)
    prior: "DataFrame | None" = None
    drop_values: "set[tuple] | None" = None
    if cur is None:
        pcols = list(partition_by or [])
        if os.path.isdir(target_path) and any(
            not e.startswith((".", "_")) for e in os.listdir(target_path)
        ):
            # legacy plain-parquet dir: upgrade in place to the snapshot layout
            prior = spark.read.parquet(target_path)
    else:
        if partition_by is not None and list(partition_by) != pcols:
            raise ValueError(
                f"{target_path} is laid out by {pcols}, not {list(partition_by)}; "
                "a write keeps the table's layout — change it with repartition_table"
            )
        # manifest-schema read: pool files written before an additive
        # evolution lack the newer columns and must null-fill them
        prior = _read_snapshot(spark, target_path, cur)
        if pcols:
            # the touched partition values are collected — bounded by the
            # number of touched partitions, the same cardinality a
            # Delta/Iceberg commit carries as metadata; their prior farm
            # entries are the ones this commit supersedes
            touched_vals = touched(prior, pcols)
            touched_rows = touched_vals.collect()
            drop_values = {tuple(_normalize_value(r[pc]) for pc in pcols) for r in touched_rows}
            prior = _rows_in_partitions(prior, touched_rows, touched_vals.schema, pcols)
            if cast_to is not None:
                for pc in pcols:
                    prior = prior.withColumn(pc, F.col(pc).cast(cast_to[pc].dataType))
    next_version = int(cur.lstrip("v")) + 1 if cur is not None else 1
    _commit(
        target_path,
        next_version,
        keep_snapshots,
        rewrite(prior),
        pcols,
        entries,
        drop_values,
        audit=audit,
        changes_builder=(lambda staged: feed(prior, staged, next_version))
        if feed is not None
        else None,
    )


def delete_where(
    spark: SparkSession,
    target_path: str,
    condition: Column,
    keep_snapshots: int = 2,
    change_feed: bool = False,
    deletion_vectors: bool = False,
) -> None:
    """Delete rows matching ``condition`` from a snapshot table — the
    ``MERGE ... WHEN MATCHED THEN DELETE`` / GDPR-erasure leg the
    reference's insert-only loads lack.

    COPY-ON-WRITE (default): partitioned tables rewrite ONLY partitions
    that contain matching rows (located by a column-pruned scan of the
    partition columns under the predicate); everything else carries
    forward by reference, same commit protocol as the upserts.
    Unpartitioned tables rewrite the snapshot (inherent).  Deleting is
    a new commit: time travel still sees the rows in earlier versions
    until pruned.

    MERGE-ON-READ (``deletion_vectors=True`` — Delta DV / Iceberg
    positional-delete semantics): NO data file is rewritten at all.
    The matched rows' (snapshot-relative file path, row index) coordinates are
    written into the new snapshot's ``_dv/`` dir (unioned with any
    existing vectors), the data files carry forward as hardlinks/farm
    references, and every read anti-joins the vectors out
    (:func:`_maybe_apply_dv`).  A point delete against a 100 TB table
    costs the matching scan plus KB of vector rows — deferred to reads
    until the next rewriting commit (upsert of the file's partition, or
    ``compact_table``) purges the vectors by rewriting.  Works on both
    layouts (nothing is rewritten).
    """
    cur = _current_snapshot(target_path)
    if cur is None:
        raise FileNotFoundError(f"no committed table at {target_path}")
    cond = F.coalesce(condition, F.lit(False))

    if deletion_vectors:
        _commit_dv(spark, target_path, cur, cond, keep_snapshots, change_feed)
        return
    _copy_on_write(
        spark,
        target_path,
        keep_snapshots,
        lambda snap, pcols: snap.filter(cond).select(*pcols).distinct(),
        lambda rows: rows.filter(~cond),
        # delete feed rows are by definition NOT in the staged result;
        # deriving them is one more filtered scan of the prior snapshot
        (lambda prior, staged, v: _tag_changes(prior.filter(cond), "delete", v))
        if change_feed
        else None,
    )


def update_where(
    spark: SparkSession,
    target_path: str,
    condition: Column,
    assignments: "dict[str, Column]",
    keep_snapshots: int = 2,
    change_feed: bool = False,
    merge_on_read: bool = False,
) -> None:
    """Predicate UPDATE — ``UPDATE t SET ... WHERE ...`` — the DML leg
    between :func:`upsert_parquet` (key-addressed) and
    :func:`delete_where` (predicate delete).

    COPY-ON-WRITE (default): partitioned tables rewrite only the
    partitions containing matching rows, everything else carries
    forward by reference; unpartitioned tables rewrite the snapshot.
    Assignments may NOT target a partition column (rows would migrate
    partitions — that is a keyed operation, use the upsert).

    MERGE-ON-READ (``merge_on_read=True``, unpartitioned layout): no
    existing data file is rewritten — matched rows' coordinates go
    into the deletion vectors AND their updated images append as a new
    data file in the same commit, so reads see exactly the post-update
    state (old images anti-joined out, new ones scanned in).  A 1000-row
    update against a 100 TB table writes KB of vectors plus one small
    file; the next rewriting commit folds everything down.

    ``change_feed=True`` records update_preimage/update_postimage rows
    either way.

    UPDATE never changes the table schema: every assignment result is
    cast back to the column's STORED type when the cast is a safe
    numeric widening, and rejected otherwise.  Without this, a
    type-widening assignment (int column set to a double expression)
    would commit a snapshot whose appended (MOR) or rewritten (CoW
    partitioned) files disagree with the manifest schema / the
    carried-forward files' physical type — unreadable at scan time."""
    cur = _current_snapshot(target_path)
    if cur is None:
        raise FileNotFoundError(f"no committed table at {target_path}")
    cond = F.coalesce(condition, F.lit(False))
    pcols, _ = _layout(target_path, cur)

    if merge_on_read:
        # a post-image appended at the root of a hive farm is invisible
        # to partition discovery, so the update would commit and
        # silently drop every matched row
        if pcols:
            raise ValueError(
                "merge_on_read updates support the unpartitioned layout "
                "(a partition leaf is one reference; appending into a "
                "carried partition needs per-file references)"
            )
        _commit_dv(spark, target_path, cur, cond, keep_snapshots, change_feed, assignments)
        return
    hit = [c for c in assignments if c in pcols]
    if hit:
        raise ValueError(
            f"update_where cannot assign partition columns {hit}; rows would "
            "migrate partitions — use upsert_parquet for keyed moves"
        )

    def assigned(rows: DataFrame) -> DataFrame:
        return _schema_preserving_assigned(assignments, cond, rows.schema)(rows)

    def feed(prior: DataFrame, _staged, v: int) -> DataFrame:
        pre = _tag_changes(prior.filter(cond), "update_preimage", v)
        post = _tag_changes(assigned(prior.filter(cond)), "update_postimage", v)
        return pre.unionByName(post)

    _copy_on_write(
        spark,
        target_path,
        keep_snapshots,
        lambda snap, pcols: snap.filter(cond).select(*pcols).distinct(),
        assigned,
        feed if change_feed else None,
    )


# Exactly-representable numeric widenings only.  A rank comparison
# (byte<short<int<long<float<double) would admit int/long into float
# and long into double, which silently lose precision above 2^24
# (float mantissa) / 2^53 (double mantissa) — an UPDATE must never
# quietly corrupt stored values, so those demotions-in-precision
# require an explicit cast by the caller.
_SAFE_NUMERIC_WIDEN = {  # keys/values are DataType.simpleString() names
    "tinyint": {"smallint", "int", "bigint", "float", "double"},
    "smallint": {"int", "bigint", "float", "double"},  # |x| < 2^15 < 2^24
    "int": {"bigint", "double"},  # int->float is lossy above 2^24
    "bigint": set(),  # bigint->float/double lossy above 2^24 / 2^53
    "float": {"double"},
}


def _schema_preserving_assigned(
    assignments: "dict[str, Column]", cond: Column, schema: "T.StructType"
):
    """Build the per-row assignment closure for :func:`update_where`,
    pinning every assigned column to its STORED type.

    An UPDATE must not change the table schema — the MOR path appends
    post-image files under the manifest's existing schema, and the CoW
    partitioned path carries untouched partition files forward with
    their old physical type — so a type-changing assignment would
    commit unreadable data.  Assignment results are cast back to the
    stored type when that cast is an EXACT numeric widening (every
    value of the expression type is exactly representable in the
    stored type: int expr into a long column is fine; int into float
    or long into double is NOT — those lose precision above the
    mantissa and require an explicit cast); anything else — double
    into int, string into date, an unknown column — raises before any
    file is written."""
    stored = {f.name: f.dataType for f in schema.fields}

    def assigned(df: DataFrame) -> DataFrame:
        # ONE simultaneous select, not sequential withColumn chaining:
        # SQL UPDATE evaluates every SET expression AND the WHERE
        # predicate against the PRE-update row.  A chain would feed
        # each later assignment (and each re-evaluation of the
        # condition) the already-updated values — {'a': col('b'),
        # 'b': col('a')} must swap, not collapse to a=b=old_b, and a
        # condition the first assignment falsifies must not stop the
        # remaining columns' updates for that row.
        exprs: "dict[str, Column]" = {}
        for c, expr in assignments.items():
            if c not in stored:
                raise TypeError(
                    f"update_where assignment targets unknown column {c!r}; "
                    f"table columns: {sorted(stored)} — UPDATE cannot add "
                    "columns (use a schema-evolving write)"
                )
            # type the RAW expression before when/otherwise combines
            # it with the stored column — Spark's conditional coerces
            # both branches to a common type, which would quietly
            # perform exactly the lossy widening (int -> float) this
            # guard exists to reject
            actual = df.select(expr.alias("__expr_probe")).schema[
                "__expr_probe"
            ].dataType
            want = stored[c]
            a, w = actual.simpleString(), want.simpleString()
            if not (a == "void" or a == w or w in _SAFE_NUMERIC_WIDEN.get(a, ())):
                raise TypeError(
                    f"update_where assignment to {c!r} produces type {a} "
                    f"but the stored column type is {w}; UPDATE preserves "
                    "the table schema — cast the expression to "
                    f"{w} explicitly (lossy) or evolve the schema with a "
                    "rewriting commit first"
                )
            exprs[c] = F.when(cond, expr.cast(want)).otherwise(F.col(c))
        return df.select(
            *[exprs.get(c, F.col(c)).alias(c) for c in df.columns]
        )

    return assigned


def _commit_dv(
    spark: SparkSession,
    target_path: str,
    cur: str,
    cond: Column,
    keep_snapshots: int,
    change_feed: bool,
    assignments: "dict[str, Column] | None" = None,
) -> None:
    """Merge-on-read leg of :func:`delete_where` and, with
    ``assignments``, of :func:`update_where`: commit a new snapshot
    whose DATA is the current snapshot's files (hardlinks / farm
    references, zero rewrite) and whose ``_dv/`` dir is the union of
    the existing vectors with the newly matched rows' (snapshot-relative
    file path, row index) coordinates.  An update additionally appends
    the matched rows' updated images as a fresh data file, so reads
    reconstruct exactly the post-update state.  Matching runs against
    the DV-APPLIED current state, so re-deleting already-deleted rows
    is a no-op, and the ordinary claim + pointer swap makes the vector
    flip atomic."""
    import os

    next_version = int(cur.lstrip("v")) + 1
    snap_dir = os.path.join(target_path, cur)
    manifest = _load_manifest(target_path, cur)
    df = _snapshot_reader(spark, manifest).parquet(snap_dir)
    manifest.setdefault("schema", df.schema.json())
    meta = _file_meta_cols(df)
    dv_dir = os.path.join(snap_dir, _DV_DIR)
    existing = None
    if os.path.isdir(dv_dir):
        existing = spark.read.parquet(dv_dir).select("file", "row_index")
        meta = meta.join(
            existing.select(
                F.col("file").alias("__dv_file"),
                F.col("row_index").alias("__dv_idx"),
            ),
            on=["__dv_file", "__dv_idx"],
            how="left_anti",
        )
    matched = meta.filter(cond)
    new_rows = matched.select(
        F.col("__dv_file").alias("file"), F.col("__dv_idx").alias("row_index")
    )
    union_dv = new_rows if existing is None else existing.unionByName(new_rows)
    pre_rows = matched.select(*df.columns)
    post_rows = None
    if assignments is None:
        feed = _tag_changes(pre_rows, "delete", next_version)
    else:
        # pin assignments to the COMMITTED schema: the appended post-image
        # file must be readable under the manifest schema the carried-
        # forward files were written with (type widening would poison the
        # snapshot at scan time)
        assigned = _schema_preserving_assigned(assignments, cond, df.schema)
        post_rows = assigned(matched).select(*df.columns)
        feed = _tag_changes(pre_rows, "update_preimage", next_version).unionByName(
            _tag_changes(post_rows, "update_postimage", next_version)
        )
    _commit(
        target_path,
        next_version,
        keep_snapshots,
        post_rows,
        carry=(snap_dir, manifest),
        deletion_vectors=union_dv,
        changes_builder=(lambda staged: feed) if change_feed else None,
    )


def _zorder_column(df: DataFrame, cols: Sequence[str], bits: int = 16) -> Column:
    """Morton (bit-interleaved) clustering key over equal-width-binned
    numeric columns — the multi-dimension generalization of ``sort_by``
    clustering (Delta ``OPTIMIZE ZORDER``'s layout).  Built entirely
    from codegen bit expressions: no UDF, no global sort, no window.

    Binning bounds come from ONE tiny min/max aggregate per column
    (driver-side, 2 scalars per column — the same bounded metadata a
    Delta ZORDER collects); equal-width bins keep the build shuffle-free
    where rank binning would need a global sort.  Heavily skewed
    dimensions bin poorly under equal width — use hive partitioning or
    single-column ``sort_by`` for those.  NULLs bin to 0 (cluster
    first).  ``bits`` is auto-scaled down so the interleaved key fits a
    64-bit long (bits × len(cols) ≤ 64) — JVM long shifts mask the
    shift count to 6 bits, so without the cap high-dimension bits would
    silently wrap onto low positions and corrupt the clustering key.
    """
    bits = min(bits, 64 // max(1, len(cols)))
    aggs = []
    for i, c in enumerate(cols):
        aggs.append(F.min(F.col(c).cast("double")).alias(f"mn{i}"))
        aggs.append(F.max(F.col(c).cast("double")).alias(f"mx{i}"))
    bounds = df.agg(*aggs).first()
    n_bins = 1 << bits
    z = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        lo, hi = bounds[f"mn{i}"], bounds[f"mx{i}"]
        if lo is None or hi is None or hi <= lo:
            continue  # constant / all-null dimension contributes nothing
        frac = (F.col(c).cast("double") - F.lit(float(lo))) / F.lit(float(hi - lo))
        # NULL dimension values must land in bin 0, not fall through:
        # least() SKIPS null arguments, so least(n_bins-1, NULL) would
        # otherwise yield n_bins-1 and cluster nulls LAST
        scaled = F.when(F.col(c).isNull(), F.lit(0).cast("long")).otherwise(
            F.least(F.lit(n_bins - 1).cast("long"), F.floor(frac * n_bins).cast("long"))
        )
        for bit in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(scaled, bit).bitwiseAND(F.lit(1)),
                    bit * len(cols) + i,
                )
            )
    return z


def compact_table(
    spark: SparkSession,
    target_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    keep_snapshots: int = 2,
    sort_by: Sequence[str] | None = None,
    zorder_by: Sequence[str] | None = None,
) -> int:
    """Small-file compaction for an upsert-managed table: rewrite the
    current snapshot into ~``target_file_bytes`` files and commit it as
    a new snapshot (same pointer-swap protocol as the upserts).

    Streaming/micro-batch upserts accrete one file set per batch; at
    100 TB the resulting small-file storm dominates scan time (per-file
    open + footer read) and planner memory.  Compaction is the standard
    maintenance op (Delta OPTIMIZE / Iceberg rewrite_data_files); it is
    a full rewrite BY DESIGN, unlike the incremental upsert path.

    ``sort_by`` additionally CLUSTERS the rewrite (Delta ``OPTIMIZE
    ZORDER``'s single-dimension analog): rows are range-partitioned and
    sorted on those columns, so each output file/row-group covers a
    narrow min/max range and selective scans skip whole row groups via
    parquet statistics — the data-layout half of pruning that hive
    partitioning alone can't give for high-cardinality columns.

    ``zorder_by`` (mutually exclusive with ``sort_by``) clusters on the
    Morton interleaving of SEVERAL columns (:func:`_zorder_column`), so
    every file covers a bounded min/max range in EACH listed dimension
    and multi-column range predicates skip files via the manifest stats
    — single-column sort gives perfect ranges in one dimension and
    useless ones in the rest.  Returns the number of files written.
    """
    import os

    if sort_by and zorder_by:
        raise ValueError("sort_by and zorder_by are mutually exclusive")

    cur = _current_snapshot(target_path)
    snap_dir = os.path.join(target_path, cur) if cur else target_path
    # metadata subtrees (_changes/_dv/...) are not data: counting a
    # large change feed would emit more, smaller files than requested
    size = sum(os.path.getsize(f) for f in _parquet_files(snap_dir))
    n_files = max(1, -(-size // target_file_bytes))  # ceil
    df = _read_snapshot(spark, target_path, cur) if cur else spark.read.parquet(snap_dir)
    next_version = int(cur.lstrip("v")) + 1 if cur else 1

    if zorder_by:
        out_cols = df.columns
        df = (
            df.withColumn("__zorder", _zorder_column(df, list(zorder_by)))
            .repartitionByRange(n_files, "__zorder")
            .sortWithinPartitions("__zorder")
            .select(*out_cols)  # projection preserves within-partition order
        )
    elif sort_by:
        df = df.repartitionByRange(n_files, *sort_by).sortWithinPartitions(*sort_by)
    else:
        df = df.repartition(n_files)

    # the rewrite keeps the recorded layout: a partitioned table stays a
    # farm, every partition freshly written, nothing carried forward
    _commit(target_path, next_version, keep_snapshots, df, _layout(target_path, cur)[0])
    return n_files


def scd2_apply(
    target: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    effective_ts_col: str = "effective_ts",
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Type-2 slowly-changing-dimension merge (CDC history tracking) as
    pure DataFrame ops — the Delta-less emulation of
    ``MERGE INTO ... WHEN MATCHED AND <changed> THEN close+insert``.

    ``target`` carries (keys, attrs, valid_from, valid_to, is_current);
    ``updates`` carries (keys, attrs, effective_ts).  For each update
    whose attributes differ (null-safe) from the key's current row —
    or whose key is new — the current row is closed
    (valid_to = effective_ts, is_current = false) and a new current
    version is inserted.  Unchanged updates are no-ops, so replaying
    the same feed is idempotent.

    Multiple updates for one key within a batch are resolved to the
    LATEST row per key by effective_ts before the merge — otherwise
    each of them would open a concurrent ``is_current`` version and
    emit conflicting closing rows, corrupting the dimension history.
    (Intermediate same-batch versions are intentionally not recorded;
    feed batches at the granularity you want history kept.)

    Plan shape: one join of current-rows vs updates on the key plus
    two anti/semi legs Catalyst derives from it — the same single
    shuffle a Delta MERGE performs; history rows pass through
    untouched (no rewrite amplification).
    """
    keys = list(keys)
    attrs = list(compare_cols) if compare_cols is not None else [
        c for c in updates.columns if c not in keys and c != effective_ts_col
    ]
    meta = ["valid_from", "valid_to", "is_current"]
    out_cols = keys + attrs + meta

    hist = target.filter(~F.col("is_current")).select(*out_cols)
    cur = target.filter(F.col("is_current")).select(*out_cols)

    # latest update per key wins within a batch (deterministic merge input)
    updates = dedup_deterministic(
        updates.select(*keys, *attrs, effective_ts_col),
        keys,
        [F.col(effective_ts_col).desc(), *[F.col(c).desc() for c in attrs]],
    )
    u = updates.select(*keys, *attrs, F.col(effective_ts_col).alias("__eff"))
    t = cur.select(
        *keys,
        *[F.col(c).alias(f"__t_{c}") for c in attrs],
        "valid_from",
        F.lit(True).alias("__matched"),
    )
    j = u.join(t, on=keys, how="left")
    same = F.lit(True)
    for c in attrs:
        same = same & F.col(c).eqNullSafe(F.col(f"__t_{c}"))
    changed = j.filter(F.col("__matched").isNull() | ~same)  # new key or attr change

    changed_keys = changed.select(*keys).distinct()
    # the join row already carries the matched current row's attrs
    # (__t_*) and valid_from, so the closing rows project straight off
    # `changed` — the former cur ⋈ changed re-join re-executed the
    # whole merge subtree for a second consumer (r16; correct under
    # the one-current-row-per-key invariant both shapes assume: each
    # matched update row sees exactly its key's current row)
    closing = changed.filter(F.col("__matched").isNotNull()).select(
        *keys,
        *[F.col(f"__t_{c}").alias(c) for c in attrs],
        "valid_from",
        F.col("__eff").alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    untouched = cur.join(changed_keys, on=keys, how="left_anti").select(*out_cols)
    fresh = changed.select(
        *keys,
        *attrs,
        F.col("__eff").alias("valid_from"),
        F.lit(None).cast(cur.schema["valid_to"].dataType).alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return hist.unionByName(untouched).unionByName(closing).unionByName(fresh)


def scd2_from_change_feed(
    spark: SparkSession,
    target_path: str,
    keys: Sequence[str],
    compare_cols: Sequence[str] | None = None,
    from_version: int = 1,
    to_version: int | None = None,
) -> DataFrame:
    """Build a Type-2 slowly-changing dimension PURELY from a snapshot
    table's change feed — the history-tracking consumer half of CDF
    (the SCD1 half is :func:`apply_changes`).  Inserts and update
    postimages open a new version of a key when its attributes change
    (the :func:`scd2_apply` merge semantics, commit by commit); deletes
    close the key's current row without opening a successor (soft
    delete — the key simply stops being current).  ``valid_from`` /
    ``valid_to`` carry COMMIT VERSIONS, the feed's native clock.  The
    base table is never rescanned: history is built from batch-sized
    change files.

    Construction, in one pass with two key-partitioned windows:

    1. Per (key, commit) the deterministic upsert winner is chosen with
       :func:`scd2_apply`'s tie-break (attrs descending — within one
       commit the effective version is constant).
    2. Events per key order by (version, kind) with upserts before
       deletes.  An upsert is a NO-OP when its predecessor event is an
       upsert with null-safe-equal attributes (dropped rows always
       carry the open row's attributes, so comparing with the raw
       predecessor equals comparing with the open state); a delete is
       EFFECTIVE only when its predecessor is an upsert (the key is
       open).  One ``lag`` window computes both.
    3. Over the kept events, ``lead(version)`` closes each open row at
       the next kept event for its key — the next attribute change or
       the effective delete — and the last open without a successor is
       current.  Delete events emit no row themselves (soft delete).

    Plan shape (audited via explain): three exchanges total, all over
    batch-sized change rows — the per-(key, commit) winner window, the
    delete distinct, and ONE key-partitioned exchange that both the
    lag and lead windows share (same partitioning + ordering) — no
    driver loop, no checkpoint, and the same job count whatever the
    number of commits.

    The result is lazy: every action on the returned dimension re-runs
    the windows and re-reads the feed's change files.  A caller that
    runs more than one action on it checkpoints or writes it first.
    """
    from pyspark.sql import Window

    feed = read_change_feed(spark, target_path, from_version, to_version)
    keys = list(keys)
    data_fields = [
        f for f in feed.schema.fields
        if f.name not in ("_change_type", "_commit_version")
    ]
    attrs = (
        list(compare_cols)
        if compare_cols is not None
        else [f.name for f in data_fields if f.name not in keys]
    )

    ups = (
        feed.filter(F.col("_change_type").isin("insert", "update_postimage"))
        .select(
            *keys, *attrs,
            F.col("_commit_version").cast("int").alias("__v"),
            F.lit(1).alias("__kind"),
        )
    )
    # scd2_apply's tie-break: dedup_deterministic(updates, keys, [eff
    # desc, attrs desc]) — eff is constant within a commit, so attrs
    # desc decides
    wv = Window.partitionBy(*keys, "__v").orderBy(
        *[F.col(c).desc() for c in attrs]
    )
    ups = (
        ups.withColumn("__rn", F.row_number().over(wv))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    dels = (
        feed.filter(F.col("_change_type") == "delete")
        .select(*keys, F.col("_commit_version").cast("int").alias("__v"))
        .distinct()
        .select(
            *keys,
            *[F.lit(None).cast(ups.schema[c].dataType).alias(c) for c in attrs],
            "__v",
            F.lit(2).alias("__kind"),
        )
    )
    events = ups.unionByName(dels)

    wk = Window.partitionBy(*keys).orderBy("__v", "__kind")
    prev_kind = F.lag("__kind").over(wk)
    same_as_prev = F.lit(True)
    for c in attrs:
        same_as_prev = same_as_prev & F.col(c).eqNullSafe(F.lag(c).over(wk))
    noop_upsert = (F.col("__kind") == 1) & (prev_kind == 1) & same_as_prev
    dead_delete = (F.col("__kind") == 2) & (
        prev_kind.isNull() | (prev_kind == 2)
    )
    kept = events.withColumn(
        "__drop", F.coalesce(noop_upsert | dead_delete, F.lit(False))
    ).filter(~F.col("__drop")).drop("__drop")

    nxt = F.lead("__v").over(wk)
    return (
        kept.withColumn("__next_v", nxt)
        .filter(F.col("__kind") == 1)
        .select(
            *keys,
            *attrs,
            F.col("__v").alias("valid_from"),
            F.col("__next_v").alias("valid_to"),
            F.col("__next_v").isNull().alias("is_current"),
        )
    )


def apply_changes(
    target: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    op_col: str = "op",
    seq_col: str = "seq",
) -> DataFrame:
    """Apply a CDC change feed with inserts/updates/DELETES to a
    snapshot — the ``MERGE ... WHEN MATCHED AND op='D' THEN DELETE``
    extension of :func:`upsert_dataframes` (which the reference's
    ``ON DUPLICATE KEY UPDATE`` load cannot express; deletes are the
    gap every replication pipeline hits).

    ``changes`` carries the target's columns plus ``op_col``
    ('I'/'U'/'D') and a monotonic ``seq_col``; for each key only the
    HIGHEST-seq change is applied (same-seq ties order 'D' < 'I' < 'U'
    ASCENDING so the delete wins deterministically; a full
    (key, seq, op) tie — two conflicting updates with identical
    sequence numbers — resolves to the smallest value tuple, so the
    result never depends on partition order): 'D' removes the row,
    'I'/'U' replace-or-insert it.  Replaying the same feed is
    idempotent.  A data column whose type differs from the target's
    raises, as in :func:`upsert_dataframes`.

    Plan shape: one dedup-by-key over the (small) change feed + one
    anti join on the target — identical cost to a plain upsert; the
    target is never scanned twice.
    """
    keys = list(keys)
    _check_type_drift(target, changes.drop(op_col, seq_col), "apply_changes")
    out_cols = [c for c in target.columns]
    # survivor = FIRST under the ordering: highest seq; on a same-seq
    # tie 'D' < 'I' < 'U' ascending puts the delete first, so the
    # delete wins (the conservative choice the docstring promises —
    # a same-seq tie is a feed anomaly, and dropping beats resurrecting);
    # remaining columns break full ties so the survivor is a total-order
    # choice, not whichever row a shuffle happened to deliver first
    value_tiebreak = [
        F.col(c).asc_nulls_first() for c in out_cols if c not in keys
    ]
    # a NULL / unknown op must NOT reach the apply: the key would be
    # anti-joined out of the survivors (every batch key is) but
    # `op != 'D'` is null-false so the row would never re-insert —
    # a malformed CDC row silently DELETING its key.  A feed anomaly
    # is a loud error, not a phantom delete — and the check runs on
    # the WHOLE feed BEFORE the per-key dedup, so a malformed row
    # shadowed by a later seq for the same key still raises instead of
    # being silently discarded.  Same scan either way: the projection
    # fuses into the dedup's shuffle write, no extra pass.
    changes = changes.withColumn(
        op_col,
        F.when(F.col(op_col).isin("I", "U", "D"), F.col(op_col)).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("apply_changes: op must be I/U/D, got "),
                    F.coalesce(F.col(op_col), F.lit("NULL")),
                )
            )
        ),
    )
    latest = dedup_deterministic(
        changes, keys, [F.col(seq_col).desc(), F.col(op_col).asc(), *value_tiebreak]
    )
    survivors = target.join(
        latest.select(*keys).distinct(), on=keys, how="left_anti"
    ).select(*out_cols)
    upserts = latest.filter(F.col(op_col) != "D").select(*out_cols)
    return survivors.unionByName(upserts)


def apply_changes_parquet(
    spark: SparkSession,
    changes: DataFrame,
    target_path: str,
    keys: Sequence[str],
    op_col: str = "op",
    seq_col: str = "seq",
    partition_by: Sequence[str] | None = None,
    keep_snapshots: int = 2,
) -> None:
    """``APPLY CHANGES INTO`` for the snapshot table layout: fold one
    CDC batch (:func:`apply_changes` semantics — 'I'/'U' upsert, 'D'
    delete, highest ``seq`` per key wins) into the committed table and
    publish a new version.  Creates the table on first batch, laid out
    by ``partition_by``; later batches keep the recorded layout.

    This is the sink half of a replication pipeline: point a streaming
    ``foreachBatch`` at it and a downstream replica follows an upstream
    change feed batch-by-batch.  Partitioned targets merge only the
    partitions the batch's keys touch (same pruning as
    :func:`upsert_parquet`); deletes are keys the merged result no
    longer contains, so no separate delete pass or driver-side key
    collection happens.  Idempotent per batch: replaying a batch
    converges (apply_changes is last-writer-wins on (seq, op)).
    """
    keys = list(keys)
    data_cols = [c for c in changes.columns if c not in (op_col, seq_col)]
    batch_rows = changes.select(*data_cols)

    def fold(rows: "DataFrame | None") -> DataFrame:
        if rows is None:
            rows = batch_rows.limit(0)
        # a feed narrower than the table would make rows.select(
        # *data_cols) silently drop the missing columns from the
        # committed result — column loss, not replication
        missing = [c for c in rows.columns if c not in data_cols]
        if missing:
            raise ValueError(
                "apply_changes_parquet: change feed lacks table "
                f"column(s) {missing}; a replication feed must carry "
                "every target column"
            )
        return apply_changes(rows.select(*data_cols), changes, keys, op_col, seq_col)

    _copy_on_write(
        spark,
        target_path,
        keep_snapshots,
        lambda snap, pcols: _touched_partitions(snap, batch_rows, keys, pcols, False),
        fold,
        partition_by=partition_by,
        cast_to=batch_rows.schema,
    )


def merge_sql(target: str, staging: str, keys: Sequence[str], columns: Sequence[str]) -> str:
    """Build the ANSI/Delta ``MERGE INTO`` equivalent of the reference's
    ``INSERT ... ON DUPLICATE KEY UPDATE`` (dags/etl.py:181-199) — W2
    strategy (b).  Every non-key column is SET on match, exactly like
    ``col=VALUES(col)`` for each column in the reference's generated SQL.
    """
    keys = list(keys)
    non_keys = [c for c in columns if c not in keys]
    on = " AND ".join(f"t.{k} = s.{k}" for k in keys)
    set_clause = ", ".join(f"t.{c} = s.{c}" for c in non_keys)
    insert_cols = ", ".join(columns)
    insert_vals = ", ".join(f"s.{c}" for c in columns)
    return (
        f"MERGE INTO {target} t USING {staging} s ON {on} "
        f"WHEN MATCHED THEN UPDATE SET {set_clause} "
        f"WHEN NOT MATCHED THEN INSERT ({insert_cols}) VALUES ({insert_vals})"
    )
