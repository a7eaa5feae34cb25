"""Property-based tests (hypothesis): upsert algebra and dedup
normalization invariants hold for arbitrary inputs, not just the
hand-picked unit cases."""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from etl_tiki_webscraping_spark.operators.dedup import exact_dedup
from etl_tiki_webscraping_spark.sinks.upsert import upsert_dataframes

KV = st.dictionaries(
    st.text(alphabet="abcdef", min_size=1, max_size=3),  # keys
    st.integers(min_value=-100, max_value=100),          # values
    max_size=6,
)

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


def _df(spark, kv):
    rows = [(k, v) for k, v in kv.items()]
    return spark.createDataFrame(rows, "k string, v int") if rows else spark.createDataFrame([], "k string, v int")


@given(target=KV, updates=KV)
@SETTINGS
def test_upsert_is_dict_merge(spark, target, updates):
    """DataFrame upsert == python dict merge {**target, **updates}."""
    out = upsert_dataframes(_df(spark, target), _df(spark, updates), ["k"])
    got = {r["k"]: r["v"] for r in out.collect()}
    assert got == {**target, **updates}
    assert out.count() == len(got)  # PK uniqueness always holds


@given(tokens=st.lists(st.text(alphabet="xyz", min_size=1, max_size=4), min_size=1, max_size=6))
@SETTINGS
def test_exact_dedup_collapses_formatting_variants(spark, tokens):
    """Case / whitespace variants of one token stream always collapse
    to a single survivor (the lowest id)."""
    base = " ".join(tokens)
    variants = [base, base.upper(), "  " + base.replace(" ", "   ") + " ", base.title()]
    df = spark.createDataFrame(list(enumerate(variants)), "doc_id long, text string")
    out = exact_dedup(df, "text", "doc_id")
    assert out.count() == 1
    assert out.collect()[0]["doc_id"] == 0


@given(
    lb=st.integers(min_value=-20, max_value=120),
    span=st.integers(min_value=1, max_value=200),
    nparts=st.integers(min_value=1, max_value=9),
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
def test_dbapi_read_stride_partitioning_is_exact(spark, tmp_path_factory, lb, span, nparts):
    """Property: for ANY bounds and partition count, the stride union
    reads every row exactly once — including NULL keys and rows outside
    [lower_bound, upper_bound] (spark.read.jdbc's contract)."""
    import functools
    import sqlite3

    from etl_tiki_webscraping_spark.sources.records import dbapi_read

    db = str(tmp_path_factory.mktemp("dbapi") / "p.db")
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE t (k INT, v INT)")
    rows = [(k, k * 10) for k in range(0, 100)] + [(None, -1)]
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    con.commit()
    con.close()

    out = dbapi_read(
        spark,
        functools.partial(sqlite3.connect, db),
        "SELECT k, v FROM t",
        "k bigint, v bigint",
        partition_column="k",
        lower_bound=lb,
        upper_bound=lb + span,
        num_partitions=nparts,
    ).collect()
    got = sorted((r["k"], r["v"]) for r in out if r["k"] is not None)
    assert got == sorted((k, v) for k, v in rows if k is not None)
    assert sum(1 for r in out if r["k"] is None) == 1


# --------------------------------------------------------------------------
# file-skipping reads: pruned == unpruned for ARBITRARY bounds
# --------------------------------------------------------------------------

_SKIP_TABLE: dict[str, str] = {}


def _skip_table(spark, tmp_path_factory):
    """One z-ordered committed table shared across examples (building a
    snapshot per hypothesis example would dominate the test)."""
    path = _SKIP_TABLE.get("p")
    if path is None:
        from etl_tiki_webscraping_spark.sinks.upsert import compact_table, upsert_parquet

        rows = [(i, i % 37, (i * 17) % 29, float(i % 11)) for i in range(2000)]
        df = spark.createDataFrame(rows, "id int, x int, y int, v double")
        path = str(tmp_path_factory.mktemp("prop-skip")) + "/tbl"
        upsert_parquet(spark, df, path, ["id"])
        compact_table(spark, path, target_file_bytes=8 * 1024, zorder_by=["x", "y"])
        _SKIP_TABLE["p"] = path
    return path


BOUND = st.one_of(st.none(), st.integers(min_value=-5, max_value=45))


@given(xlo=BOUND, xhi=BOUND, ylo=BOUND, yhi=BOUND)
@SETTINGS
def test_pruned_read_equals_unpruned_filter_for_any_bounds(
    spark, tmp_path_factory, xlo, xhi, ylo, yhi
):
    """The data-skipping contract: for ANY combination of bounds
    (inverted, empty-range, unbounded, out-of-range), the stats-pruned
    read returns exactly the rows of the unpruned read + filter."""
    from etl_tiki_webscraping_spark.sinks.upsert import _apply_range, read_parquet_table

    path = _skip_table(spark, tmp_path_factory)
    pred = [("x", xlo, xhi), ("y", ylo, yhi)]
    pruned = sorted(
        map(tuple, read_parquet_table(spark, path, range_filter=pred).collect())
    )
    full = sorted(
        map(tuple, _apply_range(read_parquet_table(spark, path), pred).collect())
    )
    assert pruned == full


# --------------------------------------------------------------------------
# CDC apply_changes == sequential dict replay
# --------------------------------------------------------------------------

OPS = st.lists(
    st.tuples(
        st.text(alphabet="abc", min_size=1, max_size=2),   # key
        st.sampled_from(["I", "U", "D"]),                  # op
        st.integers(min_value=0, max_value=9),             # seq
        st.integers(min_value=-50, max_value=50),          # value
    ),
    max_size=10,
)


@given(target=KV, changes=OPS)
@example(  # delete-then-reinsert in ONE batch: the higher-seq insert wins
    target={"a": 1}, changes=[("a", "D", 1, 0), ("a", "I", 2, 7)]
)
@example(  # duplicate seq with an I/U/D mix: the delete wins the tie
    target={"a": 1}, changes=[("a", "U", 5, 1), ("a", "D", 5, 2), ("a", "I", 5, 3)]
)
@example(  # full (key, seq, op) tie: smallest value tuple survives
    target={}, changes=[("a", "U", 5, 9), ("a", "U", 5, 3)]
)
@example(  # reinsert-then-delete arriving out of order: delete (seq 4) wins
    target={}, changes=[("b", "I", 3, 2), ("b", "D", 4, 0), ("b", "I", 1, 5)]
)
@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_apply_changes_is_sequential_replay(spark, target, changes):
    """VERDICT r6 ask #6 — the whole adversarial-CDC lattice against a
    sequential-replay oracle: out-of-order seq (hypothesis emits the
    feed unsorted), duplicate seq on I/U/D mixes (delete wins the tie),
    delete-then-reinsert inside one batch (higher seq wins), and full
    (key, seq, op) value conflicts (smallest value tuple, never
    partition order)."""
    from etl_tiki_webscraping_spark.sinks.upsert import apply_changes

    tgt = _df(spark, target)
    ch_rows = [(k, v, op, seq) for (k, op, seq, v) in changes]
    ch = (
        spark.createDataFrame(ch_rows, "k string, v int, op string, seq int")
        if ch_rows
        else spark.createDataFrame([], "k string, v int, op string, seq int")
    )
    got = {r["k"]: r["v"] for r in apply_changes(tgt, ch, ["k"]).collect()}

    expect = dict(target)
    latest: dict[str, tuple[tuple, str, int]] = {}
    for k, op, seq, v in changes:
        # higher seq wins; on a seq tie the MIN op wins ('D' < 'I' < 'U');
        # on a full (seq, op) tie the MIN value wins
        rank = (seq, -ord(op[0]), -v)
        if k not in latest or rank > latest[k][0]:
            latest[k] = (rank, op, v)
    for k, (_, op, v) in latest.items():
        if op == "D":
            expect.pop(k, None)
        else:
            expect[k] = v
    assert got == expect


# --- change-data-feed invariants ------------------------------------------

# a commit: either an upsert batch (dict) or a predicate delete (key set)
COMMIT = st.one_of(
    st.tuples(st.just("upsert"), KV.filter(bool)),
    st.tuples(
        st.just("delete"),
        st.sets(st.text(alphabet="abcdef", min_size=1, max_size=3), min_size=1, max_size=4),
    ),
)


@given(first=KV.filter(bool), commits=st.lists(COMMIT, min_size=1, max_size=3))
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_change_feed_replay_reconstructs_table(spark, tmp_path_factory, first, commits):
    """For ANY commit sequence (upserts + predicate deletes), folding
    the change feed through apply_changes equals the table's final
    state, and the sequential dict/set model agrees with both."""
    from pyspark.sql import functions as F

    from etl_tiki_webscraping_spark.sinks.upsert import (
        apply_changes,
        delete_where,
        read_change_feed,
        read_parquet_table,
        upsert_parquet,
    )

    path = str(tmp_path_factory.mktemp("cdfprop")) + "/tbl"
    keep = len(commits) + 3

    model: dict = dict(first)
    upsert_parquet(spark, _df(spark, first), path, ["k"], change_feed=True, keep_snapshots=keep)
    for kind, payload in commits:
        if kind == "upsert":
            model.update(payload)
            upsert_parquet(
                spark, _df(spark, payload), path, ["k"], change_feed=True, keep_snapshots=keep
            )
        else:
            for k in payload:
                model.pop(k, None)
            delete_where(
                spark,
                path,
                F.col("k").isin(*payload),
                change_feed=True,
                keep_snapshots=keep,
            )

    table = {r["k"]: r["v"] for r in read_parquet_table(spark, path).collect()}
    assert table == model

    feed = read_change_feed(spark, path)
    mapped = feed.filter(F.col("_change_type") != "update_preimage").select(
        "k",
        "v",
        F.when(F.col("_change_type") == "delete", "D").otherwise("U").alias("op"),
        F.col("_commit_version").alias("seq"),
    )
    replica = apply_changes(
        spark.createDataFrame([], "k string, v int"), mapped, ["k"]
    )
    assert {r["k"]: r["v"] for r in replica.collect()} == model


# --- file-level / join-pruning bloom: no false negatives, ever ------------


@given(
    keys=st.sets(st.integers(min_value=-(10**9), max_value=10**9), min_size=1, max_size=80),
    probes=st.lists(st.integers(min_value=-(10**9), max_value=10**9), min_size=1, max_size=40),
    num_bits=st.sampled_from([64, 256, 4096]),
    k=st.integers(min_value=1, max_value=6),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_bloom_probe_never_drops_a_true_match(spark, keys, probes, num_bits, k):
    """For arbitrary key sets, probe values, bitmap sizes (down to a
    single word), and hash counts: every probe value that IS in the key
    set survives bloom_probe — false negatives are impossible."""
    from etl_tiki_webscraping_spark.operators.bloom import bloom_build, bloom_probe

    keys_df = spark.createDataFrame([(v,) for v in sorted(keys)], "k long")
    probe_df = spark.createDataFrame([(v,) for v in probes], "k long")
    bloom = bloom_build(keys_df, "k", num_bits=num_bits, num_hashes=k)
    passed = {r.k for r in bloom_probe(probe_df, "k", bloom, num_bits=num_bits, num_hashes=k).collect()}
    true_matches = set(probes) & keys
    assert true_matches <= passed


@given(old=KV, new=KV)
@SETTINGS
def test_table_diff_is_dict_diff(spark, old, new):
    """table_diff (both compare paths) == python dict diff: added keys,
    removed keys, changed values — and nothing for unchanged keys."""
    from etl_tiki_webscraping_spark.operators.relational import table_diff

    expected = sorted(
        [(k, "added") for k in new.keys() - old.keys()]
        + [(k, "removed") for k in old.keys() - new.keys()]
        + [(k, "changed") for k in old.keys() & new.keys() if old[k] != new[k]]
    )
    for hash_compare in (False, True):
        got = sorted(
            tuple(r)
            for r in table_diff(
                _df(spark, old), _df(spark, new), ["k"], hash_compare=hash_compare
            ).collect()
        )
        assert got == expected, hash_compare


@given(
    counts=st.dictionaries(
        st.integers(min_value=0, max_value=50),
        st.integers(min_value=1, max_value=30),
        min_size=1,
        max_size=20,
    ),
    threshold=st.integers(min_value=1, max_value=12),
    nparts=st.integers(min_value=1, max_value=5),
)
@SETTINGS
def test_heavy_hitters_equals_group_by_having(spark, counts, threshold, nparts):
    """heavy_hitters == exact GROUP BY ... HAVING for arbitrary value
    multiplicities, thresholds, and partitionings — including capacities
    forced far below the distinct count (real Misra-Gries decrements)."""
    from etl_tiki_webscraping_spark.operators.sketches import heavy_hitters

    rows = [(v,) for v, c in counts.items() for _ in range(c)]
    df = spark.createDataFrame(rows, "v int").repartition(nparts)
    n = len(rows)
    # tightest capacity the MG guarantee permits (2n/threshold), capped
    # low so pruning actually happens on dense inputs
    cap = max(2, (2 * n + threshold - 1) // threshold)
    got = sorted(
        tuple(r) for r in heavy_hitters(df, "v", threshold, capacity=cap).collect()
    )
    expected = sorted((v, c) for v, c in counts.items() if c >= threshold)
    assert got == expected


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),    # group
            st.integers(min_value=-20, max_value=20), # order value (ties likely)
        ),
        min_size=1,
        max_size=40,
    ),
    k=st.integers(min_value=1, max_value=4),
    nparts=st.integers(min_value=1, max_value=4),
)
@SETTINGS
def test_grouped_topk_equals_window_rank(spark, rows, k, nparts):
    """Bounded-shuffle grouped_topk == full window ROW_NUMBER top-k for
    arbitrary groups, tie-heavy orderings, k, and partitionings."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from etl_tiki_webscraping_spark.operators.relational import grouped_topk

    data = [(g, v, i) for i, (g, v) in enumerate(rows)]  # id = unique tiebreak
    df = spark.createDataFrame(data, "g int, v int, id int").repartition(nparts)
    got = sorted(
        tuple(r)
        for r in grouped_topk(df, ["g"], "v", k, tiebreak="id").collect()
    )
    w = Window.partitionBy("g").orderBy(F.col("v").desc(), F.col("id").asc())
    expected = sorted(
        tuple(r)
        for r in df.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .drop("rk")
        .collect()
    )
    assert got == expected


@given(
    batches=st.lists(KV, min_size=1, max_size=4),
    restore_to=st.integers(min_value=1, max_value=4),
)
@SETTINGS
def test_history_fold_restore_vacuum_invariants(
    spark, tmp_path_factory, batches, restore_to
):
    """For ANY commit sequence: every retained version equals the dict
    fold of its prefix; RESTORE to any retained version makes current
    equal that fold; VACUUM keeps current intact and refuses pruned
    time travel."""

    from etl_tiki_webscraping_spark.sinks.upsert import (
        read_parquet_table,
        restore_table,
        upsert_parquet,
        vacuum_table,
    )

    path = str(tmp_path_factory.mktemp("hist") / "t")
    folds = []
    acc: dict = {}
    for kv in batches:
        acc = {**acc, **kv}
        folds.append(dict(acc))
        upsert_parquet(spark, _df(spark, kv), path, ["k"], keep_snapshots=99)

    def table_at(version=None):
        return {
            r["k"]: r["v"]
            for r in read_parquet_table(spark, path, version=version).collect()
        }

    for v, fold in enumerate(folds, start=1):
        assert table_at(v) == fold
    target = min(restore_to, len(folds))
    restore_table(spark, path, version=target, keep_snapshots=99)
    assert table_at() == folds[target - 1]
    # vacuum to the last 1: current survives, the first version refuses
    # (snapshot dirs prune regardless of the pool grace window)
    vacuum_table(path, keep_snapshots=1)
    assert table_at() == folds[target - 1]
    if len(folds) > 1:
        import pytest as _pytest

        with _pytest.raises(FileNotFoundError):
            read_parquet_table(spark, path, version=1)


@given(kv=KV, threshold=st.integers(min_value=-100, max_value=100))
@SETTINGS
def test_dv_delete_equals_cow_delete(spark, tmp_path_factory, kv, threshold):
    """Merge-on-read (deletion vectors) and copy-on-write deletes agree
    with the dict filter for arbitrary contents and predicates."""
    from pyspark.sql import functions as F

    from etl_tiki_webscraping_spark.sinks.upsert import (
        delete_where,
        read_parquet_table,
        upsert_parquet,
    )

    expected = {k: v for k, v in kv.items() if not v >= threshold}
    results = []
    for dv in (False, True):
        path = str(tmp_path_factory.mktemp(f"dv{dv}") / "t")
        upsert_parquet(spark, _df(spark, kv), path, ["k"], keep_snapshots=9)
        delete_where(
            spark, path, F.col("v") >= threshold, deletion_vectors=dv,
            keep_snapshots=9,
        )
        results.append(
            {r["k"]: r["v"] for r in read_parquet_table(spark, path).collect()}
        )
    assert results[0] == results[1] == expected


# --- SCD2: window build == commit-by-commit interval fold ------------------


@given(first=KV.filter(bool), commits=st.lists(COMMIT, min_size=1, max_size=3))
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_scd2_backfill_equals_fold_for_any_commit_sequence(
    spark, tmp_path_factory, first, commits
):
    """For ANY commit sequence (upserts incl. unchanged-value no-ops
    and repeat keys, predicate deletes incl. re-deletes and deletes of
    absent keys), the one-pass window build reproduces EXACTLY the
    dimension of a sequential interval model that folds the commits one
    by one in plain Python."""
    from pyspark.sql import functions as F

    from etl_tiki_webscraping_spark.sinks.upsert import (
        delete_where,
        scd2_from_change_feed,
        upsert_parquet,
    )

    path = str(tmp_path_factory.mktemp("scd2prop")) + "/tbl"
    keep = len(commits) + 3

    upsert_parquet(spark, _df(spark, first), path, ["k"], change_feed=True, keep_snapshots=keep)
    # sequential model: open[k] = (value, from_v); closed = [(k,v,from,to)]
    open_: dict = {k: (v, 1) for k, v in first.items()}
    closed: list = []
    for i, (kind, payload) in enumerate(commits):
        ver = i + 2
        if kind == "upsert":
            upsert_parquet(
                spark, _df(spark, payload), path, ["k"], change_feed=True, keep_snapshots=keep
            )
            for k, v in payload.items():
                if k in open_:
                    if open_[k][0] == v:
                        continue  # unchanged: SCD2 no-op
                    closed.append((k, open_[k][0], open_[k][1], ver))
                open_[k] = (v, ver)
        else:
            delete_where(
                spark, path, F.col("k").isin(*payload),
                change_feed=True, keep_snapshots=keep,
            )
            for k in payload:
                if k in open_:
                    closed.append((k, open_[k][0], open_[k][1], ver))
                    del open_[k]

    expect = sorted(
        [(k, v, f, t, False) for (k, v, f, t) in closed]
        + [(k, v, f, None, True) for k, (v, f) in open_.items()]
    )
    cols = ("k", "v", "valid_from", "valid_to", "is_current")
    got = sorted(
        tuple(r) for r in scd2_from_change_feed(spark, path, ["k"])
        .select(*cols).collect()
    )
    assert got == expect


@given(
    names=st.lists(
        st.text(alphabet="abc", min_size=1, max_size=4),
        min_size=2,
        max_size=8,
    ),
    threshold=st.integers(min_value=0, max_value=3),
)
@SETTINGS
def test_blocked_entity_match_constant_block_equals_all_pairs(
    spark, names, threshold
):
    """With ONE constant block, blocking prunes nothing: the result
    must equal the exact O(n^2) Levenshtein pair set."""
    import itertools

    from etl_tiki_webscraping_spark.operators.relational import (
        blocked_entity_match,
    )

    rows = [(i, nm, "B") for i, nm in enumerate(names)]
    df = spark.createDataFrame(rows, "id int, name string, blk string")
    got = {
        (r.a_id, r.b_id, r.distance)
        for r in blocked_entity_match(
            df, "id", "name", ["blk"], max_distance=threshold
        ).collect()
    }

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    want = {
        (i, j, lev(a, b))
        for (i, a), (j, b) in itertools.combinations(
            [(i, nm) for i, nm in enumerate(names)], 2
        )
        if lev(a, b) <= threshold
    }
    assert got == want


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from("abcdefgh"), min_size=1, max_size=6, unique=True
        ),
        min_size=2,
        max_size=7,
    ),
    num_den=st.sampled_from([(1, 2), (3, 5), (2, 3), (1, 1)]),
)
@SETTINGS
def test_setsim_prefix_join_is_complete_and_sound(spark, docs, num_den):
    """Against arbitrary tiny token sets and thresholds, the prefix
    join returns EXACTLY the brute-force Jaccard >= num/den pairs —
    completeness (prefix pruning never drops a true pair) and
    soundness (integer verification never admits a false one)."""
    import itertools

    from etl_tiki_webscraping_spark.operators.dedup import setsim_prefix_join

    num, den = num_den
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        (r.id_a, r.id_b)
        for r in setsim_prefix_join(df, "doc_id", "text", num, den).collect()
    }
    want = set()
    for (i, a), (j, b) in itertools.combinations(
        [(i, set(t)) for i, t in enumerate(docs)], 2
    ):
        if den * len(a & b) >= num * len(a | b):
            want.add((i, j))
    assert got == want


@given(
    baskets=st.lists(
        st.tuples(st.integers(min_value=1, max_value=4),
                  st.sampled_from("pqrs")),
        max_size=14,
    ),
    min_support=st.integers(min_value=1, max_value=3),
)
@SETTINGS
def test_cooccurrence_equals_python_replay(spark, baskets, min_support):
    import itertools

    from etl_tiki_webscraping_spark.operators.rollup import (
        cooccurrence_pairs,
    )

    df = (
        spark.createDataFrame(baskets, "b int, item string")
        if baskets
        else spark.createDataFrame([], "b int, item string")
    )
    got = {
        (r.item_a, r.item_b): r.support
        for r in cooccurrence_pairs(df, "b", "item", min_support).collect()
    }
    by_basket: dict[int, set] = {}
    for b, item in baskets:
        by_basket.setdefault(b, set()).add(item)
    want: dict[tuple, int] = {}
    for items in by_basket.values():
        for a, c in itertools.combinations(sorted(items), 2):
            want[(a, c)] = want.get((a, c), 0) + 1
    want = {k: v for k, v in want.items() if v >= min_support}
    assert got == want


@given(
    events=st.lists(
        st.tuples(st.integers(min_value=1, max_value=3),   # user
                  st.integers(min_value=0, max_value=9),   # ts
                  st.sampled_from("XYZ")),                 # state
        max_size=12,
    )
)
@SETTINGS
def test_transition_matrix_equals_python_replay(spark, events):
    from etl_tiki_webscraping_spark.operators.rollup import (
        event_transition_matrix,
    )

    rows = [(u, t, i, s) for i, (u, t, s) in enumerate(events)]
    df = (
        spark.createDataFrame(rows, "u int, t int, eid int, s string")
        if rows
        else spark.createDataFrame([], "u int, t int, eid int, s string")
    )
    got = {
        (r.state_from, r.state_to): (r.n, r.p)
        for r in event_transition_matrix(
            df, "u", "t", "s", tiebreak_col="eid"
        ).collect()
    }
    seqs: dict[int, list] = {}
    for u, t, eid, s in rows:
        seqs.setdefault(u, []).append((t, eid, s))
    counts: dict[tuple, int] = {}
    for seq in seqs.values():
        seq.sort()
        for (_, _, a), (_, _, b) in zip(seq, seq[1:]):
            counts[(a, b)] = counts.get((a, b), 0) + 1
    totals: dict[str, int] = {}
    for (a, _), n in counts.items():
        totals[a] = totals.get(a, 0) + n
    want = {
        k: (n, round(n / totals[k[0]], 6)) for k, n in counts.items()
    }
    assert got == want


@given(
    obs=st.lists(
        st.tuples(st.integers(min_value=1, max_value=2),      # key
                  st.integers(min_value=0, max_value=3600),   # offset s
                  st.integers(min_value=-20, max_value=20)),  # value
        max_size=10,
        unique_by=lambda o: (o[0], o[1]),
    )
)
@SETTINGS
def test_twap_equals_python_replay(spark, obs):
    import datetime

    from etl_tiki_webscraping_spark.operators.rollup import (
        time_weighted_average,
    )

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (k, base + datetime.timedelta(seconds=off), i, float(v))
        for i, (k, off, v) in enumerate(obs)
    ]
    df = (
        spark.createDataFrame(rows, "u int, ts timestamp, eid int, v double")
        if rows
        else spark.createDataFrame(
            [], "u int, ts timestamp, eid int, v double"
        )
    )
    got = {
        r.u: r.twap
        for r in time_weighted_average(
            df, "u", "ts", "v", tiebreak_col="eid"
        ).collect()
    }
    series: dict[int, list] = {}
    for k, off, v in obs:
        series.setdefault(k, []).append((off, float(v)))
    want = {}
    for k, pts in series.items():
        pts.sort()
        if len(pts) < 2:
            continue
        num = sum(v * (pts[i + 1][0] - t) for i, (t, v) in enumerate(pts[:-1]))
        den = pts[-1][0] - pts[0][0]
        want[k] = round(num / den, 6) if den else None
    assert got == want


@given(
    xs=st.lists(
        st.tuples(st.sampled_from("ab"),
                  st.integers(min_value=0, max_value=20),
                  st.integers(min_value=-30, max_value=30)),
        min_size=1,
        max_size=12,
    )
)
@example(xs=[("b", 1, -14), ("b", 3, -5), ("b", 7, 0), ("b", 11, 1), ("b", 19, 0)])
@example(xs=[("b", 1, 2), ("b", 3, 3), ("b", 7, 6), ("b", 11, 1), ("b", 19, -2)])
@SETTINGS
def test_grouped_ols_equals_numpy_polyfit(spark, xs):
    """The oracle is the exact rational fit rounded HALF_UP (Spark's
    `round` mode), cross-checked against np.polyfit; rounding polyfit's
    float result directly flips on exact ties such as 0.2734375."""
    from decimal import ROUND_HALF_UP, Decimal
    from fractions import Fraction

    import numpy as np

    from etl_tiki_webscraping_spark.operators.rollup import grouped_ols_trend

    def half_up6(q: Fraction) -> float:
        d = Decimal(q.numerator) / Decimal(q.denominator)
        return float(d.quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))

    rows = [(g, float(x), float(y)) for g, x, y in xs]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    got = {r.g: (r.slope, r.intercept)
           for r in grouped_ols_trend(df, ["g"], "x", "y").collect()}
    by_g: dict[str, list] = {}
    for g, x, y in rows:
        by_g.setdefault(g, []).append((x, y))
    for g, pts in by_g.items():
        xs_, ys_ = zip(*pts)
        if len(pts) < 2 or len(set(xs_)) < 2:
            assert got[g] == (None, None)
            continue
        n = len(pts)
        sx, sy = sum(map(Fraction, xs_)), sum(map(Fraction, ys_))
        sxy = sum(Fraction(x) * Fraction(y) for x, y in pts)
        sxx = sum(Fraction(x) ** 2 for x in xs_)
        b = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        a = (sy - b * sx) / n
        nb, na = np.polyfit(xs_, ys_, 1)
        assert abs(float(nb) - float(b)) < 1e-9, g
        assert abs(float(na) - float(a)) < 1e-9, g
        assert abs(got[g][0] - half_up6(b)) < 1e-6, g
        assert abs(got[g][1] - half_up6(a)) < 1e-6, g


@given(
    n=st.integers(min_value=1, max_value=30),
    k=st.integers(min_value=1, max_value=8),
)
@SETTINGS
def test_weighted_sample_uniform_weights_is_pure_hash_topk(spark, n, k):
    """With ALL weights equal, A-Res degenerates to a uniform sample:
    the selected keys must be exactly the top-k by the raw hash-key
    order — i.e. the weighting is the ONLY thing that biases
    selection."""
    import hashlib

    from etl_tiki_webscraping_spark.operators.relational import (
        weighted_sample_per_group,
    )

    rows = [(i, "g", 1.0) for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id int, lang string, w double")
    got = {
        r.doc_id
        for r in weighted_sample_per_group(
            df, ["lang"], "doc_id", "w", k
        ).collect()
    }

    import math

    def ares(i):
        h = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)
        u = (h + 1.0) / 4294967296.0
        return round(math.log(u) / 1.0, 9)

    want = set(sorted(range(n), key=lambda i: (-ares(i), i))[:k])
    assert got == want


BUDGET_ROWS = st.lists(
    st.tuples(
        st.floats(min_value=0.0, max_value=1.0,
                  allow_nan=False, allow_infinity=False),
        st.integers(min_value=1, max_value=40),
    ),
    min_size=0,
    max_size=60,
)


@given(rows=BUDGET_ROWS, budget=st.integers(min_value=0, max_value=600),
       n_buckets=st.sampled_from([1, 2, 7, 64]))
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_ordered_budget_select_equals_definition(spark, rows, budget,
                                                 n_buckets):
    """For ANY data, budget, and bucket count, the distributed prefix-
    sum select returns exactly the rows the single-window definition
    keeps: cumulative weight in (order DESC, id ASC) order <= budget.
    Bucket count is an execution knob, never a semantics knob."""
    from etl_tiki_webscraping_spark.operators.relational import (
        ordered_budget_select,
    )

    data = [(i, o, w) for i, (o, w) in enumerate(rows)]
    df = (spark.createDataFrame(data, "id long, o double, w long")
          if data else
          spark.createDataFrame([], "id long, o double, w long"))
    got = {r.id for r in ordered_budget_select(
        df, "o", "w", budget, "id", n_buckets=n_buckets
    ).collect()}
    keep, acc = set(), 0
    for i, o, w in sorted(data, key=lambda r: (-r[1], r[0])):
        if acc + w > budget:
            break
        acc += w
        keep.add(i)
    assert got == keep


# ---------------------------------------------------------------------------
# round-13 codec invariants: encode -> decode is the identity for ANY
# input in domain (not just the hand-picked fixtures), and the strict
# decoders never misreport a truncation as success.
# ---------------------------------------------------------------------------

_CODEC_SETTINGS = settings(
    max_examples=25, deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


@given(
    data=st.lists(
        st.integers(min_value=0, max_value=255), min_size=1, max_size=96
    ),
    w=st.integers(min_value=1, max_value=12),
    subtract_green=st.booleans(),
    cache_bits=st.sampled_from([0, 0, 4]),
)
@_CODEC_SETTINGS
def test_webp_roundtrip_is_identity(data, w, subtract_green, cache_bits):
    import numpy as np

    from etl_tiki_webscraping_spark.operators.webp import (
        decode_webp_lossless,
        encode_webp_lossless,
    )

    w = min(w, len(data))
    h = max(1, len(data) // w)
    img = np.array(data[: h * w], dtype=np.uint8).reshape(h, w)
    enc = encode_webp_lossless(
        img, subtract_green=subtract_green, cache_bits=cache_bits
    )
    dec = decode_webp_lossless(enc)
    assert dec is not None
    assert (dec[..., 2] == img).all()  # green channel == gray value
    # truncation anywhere in the stream must reject, never mis-decode
    assert decode_webp_lossless(enc[: len(enc) // 2]) is None


@given(
    pcm=st.lists(
        st.integers(min_value=-32768, max_value=32767),
        min_size=1, max_size=600,
    ),
    blocksize=st.sampled_from([256, 512]),
    mode=st.sampled_from(["fixed", "verbatim", "lpc1"]),
)
@_CODEC_SETTINGS
def test_flac_roundtrip_is_identity(pcm, blocksize, mode):
    import numpy as np

    from etl_tiki_webscraping_spark.operators.flac import (
        decode_flac_pcm,
        encode_flac,
    )

    arr = np.array(pcm, dtype=np.int64)
    if mode == "lpc1" and arr.size < 2:
        mode = "fixed"
    enc = encode_flac(arr, blocksize=blocksize, subframe=mode)
    dec = decode_flac_pcm(enc)
    assert dec is not None and (dec == arr).all()
    assert decode_flac_pcm(enc[:-1]) is None  # truncation rejects


@given(
    indices=st.lists(
        st.integers(min_value=1, max_value=14), min_size=1, max_size=20
    ),
    sr_idx=st.integers(min_value=0, max_value=2),
)
@_CODEC_SETTINGS
def test_mp3_walk_reconstructs_schedule(indices, sr_idx):
    from etl_tiki_webscraping_spark.operators.audiometa import (
        _MP3_BITRATES,
        encode_mp3_frames,
        iter_mp3_frames,
        parse_mp3_stream,
    )

    enc = encode_mp3_frames(indices, sr_idx=sr_idx)
    frames = iter_mp3_frames(enc)
    assert frames is not None and len(frames) == len(indices)
    assert [k for _, k, _ in frames] == [_MP3_BITRATES[i] for i in indices]
    m = parse_mp3_stream(enc)
    assert m["n_frames"] == len(indices)
    assert parse_mp3_stream(enc[:-1]) is None


@given(blob=st.binary(min_size=0, max_size=400))
# pinned: a trailing 0xFF fill-byte run walked the JPEG marker loop
# one past EOF (IndexError in a kernel) before the r15 bounds check
@example(blob=b"\xff")
@settings(max_examples=60, deadline=None)
def test_no_decoder_ever_raises_on_arbitrary_bytes(blob):
    """A decoder exception inside a mapInPandas kernel kills the whole
    task — every strict parser must return None (or route to the
    deterministic fake) on ANY input, never raise.  Also fuzzes with
    real-magic prefixes so the post-sniff parse paths are reached."""
    import numpy as np

    from etl_tiki_webscraping_spark.operators.audiometa import (
        parse_mp3_stream,
        parse_ogg_stream,
    )
    from etl_tiki_webscraping_spark.operators.flac import decode_flac_pcm
    from etl_tiki_webscraping_spark.operators.jpeg import decode_jpeg_luma
    from etl_tiki_webscraping_spark.operators.multimodal import (
        _decode_audio_impl,
        _decode_bmp,
        _decode_gif_frames,
        _decode_image_impl,
        _decode_png,
        _decode_wav,
        sniff_audio_container,
    )
    from etl_tiki_webscraping_spark.operators.webp import (
        decode_webp_lossless,
    )

    prefixes = [
        b"", b"\x89PNG\r\n\x1a\n", b"GIF89a", b"BM", b"\xff\xd8\xff",
        b"RIFF\x20\x00\x00\x00WEBPVP8L", b"fLaC", b"OggS", b"ID3\x04\x00",
        b"\xff\xfb", b"RIFF\x20\x00\x00\x00WAVE",
        b"RIFF\x20\x00\x00\x00AVI ",
    ]
    for pre in prefixes:
        data = pre + blob
        for fn in (
            _decode_png, _decode_bmp, _decode_gif_frames, _decode_wav,
            decode_webp_lossless, decode_flac_pcm, decode_jpeg_luma,
            parse_mp3_stream, parse_ogg_stream, sniff_audio_container,
        ):
            fn(data)  # must not raise; return value unconstrained here
        img = _decode_image_impl(data)       # falls back to the 8x8 fake
        assert isinstance(img, np.ndarray)
        wav = _decode_audio_impl(data)
        assert isinstance(wav, np.ndarray)
