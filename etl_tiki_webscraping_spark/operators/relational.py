"""Core relational operators (SURVEY.md §2.2-2.8).

These wrap bare DataFrame calls only where the reference pins semantics
worth testing explicitly (deterministic dedup, FK semi-join, key-space
union, tail-loss-free repartition).  Everything stays declarative so
Catalyst keeps predicate pushdown / column pruning / join selection.

Reference citations:
- dedup by key:      /root/reference/dags/etl.py:86   (drop_duplicates on shop_id)
- semi-join FK gate: /root/reference/dags/etl.py:247-251 (isin over db∪batch keys)
- key-space union:   /root/reference/dags/etl.py:250
- union-all concat:  /root/reference/dags/etl.py:66,147 (pd.concat of page frames)
- 5-way split:       /root/reference/dags/etl.py:115-120 (tail-loss bug NOT copied)
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_tiki_webscraping_spark.session import spread


def _md5_prefix_long(key_col: str) -> Column:
    """The cross-engine hash-to-integer recipe every deterministic
    sampler here shares: the first 8 hex chars of md5(key) as a bigint
    — replayable verbatim in any SQL dialect (DuckDB:
    CAST('0x' || substr(md5(k), 1, 8) AS BIGINT)).  ONE definition so
    a recipe change can never diverge the operators' documented
    cross-replay consistency."""
    return F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10
    ).cast("bigint")


def dedup_first(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """One arbitrary representative row per key — the reference's
    ``drop_duplicates(subset=["shop_id"])`` (dags/etl.py:86).

    Like the pandas original on unordered input, WHICH row survives is
    not defined.  Use :func:`dedup_deterministic` when the survivor
    matters.  Spark executes this as a partial (map-side) + final
    hash aggregate on the key — one shuffle, no sort.
    """
    return df.dropDuplicates(list(keys))


def dedup_deterministic(df: DataFrame, keys: Sequence[str], order_by: Sequence[Column | str]) -> DataFrame:
    """Deterministic keep-first dedup: the survivor is the first row per
    key under ``order_by`` (SURVEY §2.4 A1 deterministic variant).

    row_number over a window = one shuffle on the key + per-partition
    sort; at 100 TB this is the same cost shape as dropDuplicates plus
    the sort, and AQE handles skewed keys.
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def distinct_keys(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Distinct key tuples (SURVEY §2.4 A2) — ``set(df[key])``."""
    return df.select(*keys).distinct()


def key_space_union(*key_dfs: DataFrame) -> DataFrame:
    """Union of key sets (SURVEY §2.3 J2): ``set(a) | set(b)``
    (dags/etl.py:250).  union + distinct; Catalyst collapses the
    distinct into a single hash aggregate over the union.
    """
    return reduce(DataFrame.unionByName, key_dfs).distinct()


def fk_semi_join(fact: DataFrame, dim_keys: DataFrame, on: Sequence[str] | str) -> DataFrame:
    """FK-enforcement filter (SURVEY §2.3 J1): keep fact rows whose key
    exists in ``dim_keys`` — the distributed form of the reference's
    ``products[products.shop_id.isin(all_shop_id)]`` (dags/etl.py:251).

    Never collects the key set to the driver (100-TB rule).  The key
    side ships to every executor — right whenever the dimension key set
    fits in memory.
    """
    on = [on] if isinstance(on, str) else list(on)
    keys = F.broadcast(dim_keys.select(*on).distinct())
    # USING-joins move key columns to the front; restore the fact's
    # column order so downstream table schemas stay stable
    return fact.join(keys, on=on, how="left_semi").select(*fact.columns)


def anti_join(fact: DataFrame, keys: DataFrame, on: Sequence[str] | str) -> DataFrame:
    """Rows in ``fact`` whose key is absent from ``keys`` (the upsert
    write path's "existing rows not being replaced" leg, SURVEY §2.9 W2c).
    """
    on = [on] if isinstance(on, str) else list(on)
    return fact.join(keys.select(*on).distinct(), on=on, how="left_anti").select(*fact.columns)


def union_all(dfs: Sequence[DataFrame]) -> DataFrame:
    """N-ary UNION ALL by column name (SURVEY §2.5 U1/U2) — the
    reference's ``pd.concat(all_pages)`` (dags/etl.py:66,147).  Narrow
    (no shuffle); in a real Spark source this disappears because one
    read yields one DataFrame.
    """
    if not dfs:
        raise ValueError("union_all of zero DataFrames")
    return reduce(DataFrame.unionByName, dfs)


def top_k_per_group(df: DataFrame, keys: Sequence[str], order_by: Sequence[Column | str], k: int) -> DataFrame:
    """Top-k rows per group via row_number window (SURVEY §2.7).

    At scale this is one shuffle on the group key; Spark's
    ``WindowGroupLimit`` physical rule (3.5+) pushes the k-limit into
    the sort so each partition keeps only k rows before the final
    filter.
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str] | str,
    left_ts: str,
    right_ts: str,
    right_cols: Sequence[str] | None = None,
    direction: str = "backward",
) -> DataFrame:
    """As-of (backward) join: for every left row, attach the right row
    with the greatest ``right_ts`` <= ``left_ts`` within the same key —
    nulls when no prior right row exists.  Spark has no native as-of
    join; the naive formulation (theta-join on key + ts-range, then
    max-per-left-row) explodes to |L|x|R| pairs per key.

    This implementation is the merge-scan shape that survives scale:
    tag and UNION both sides, ONE shuffle on the key, per-key sort by
    (ts, side), then ``last(<right row struct>, ignorenulls)`` over a
    running window forward-fills the most recent right ROW onto each
    left row.  Cost: one shuffle + one sort — identical to a window
    aggregation, independent of match fan-out.  Right rows sort before
    left rows at equal timestamps, so ts-equal matches are included;
    NULL keys never match and a NULL value in the matched row comes
    through as NULL, not an older row's value (DuckDB/pandas
    ``merge_asof`` backward semantics — see the inline comment).

    ``direction`` extends the same merge-scan to the other pandas
    ``merge_asof`` modes at identical cost shape:

    - ``"forward"``: smallest ``right_ts`` >= ``left_ts`` — the sort
      flips to descending (right still before left at equal ts, so
      ts-equal matches stay included) and the running ``last`` now
      forward-fills the nearest FUTURE right row.  One shuffle + one
      sort, as before.
    - ``"nearest"``: both fills run over the SAME exchange (Catalyst
      reuses the shuffle; the second window adds only a sort) and each
      left row keeps whichever side is closer in time, ties preferring
      the backward (earlier) row.  Distances compare on exact integer
      micros (timestamps) or the raw numeric, never floats.
    """
    on = [on] if isinstance(on, str) else list(on)
    rcols = list(right_cols) if right_cols is not None else [
        c for c in right.columns if c not in on and c != right_ts
    ]
    l = left.withColumn("__t", F.col(left_ts)).withColumn("__side", F.lit(1))
    # NULL semantics match equi-join / DuckDB ASOF: right rows with a
    # NULL key or NULL ts never match anything, so they are excluded
    # from the fill source — window partitioning would otherwise treat
    # NULL keys as EQUAL and fill NULL-key left rows from them.  The
    # fill carries the most recent right row as ONE STRUCT, not
    # per-column last(ignorenulls): the per-column form skips a
    # genuine NULL value in the newest matching row (returning a stale
    # older value) and can stitch column values from DIFFERENT right
    # rows into a composite row that never existed.
    r = (
        right.filter(
            reduce(
                lambda a, b: a & b,
                [F.col(c).isNotNull() for c in [*on, right_ts]],
            )
        )
        .select(
            *on,
            F.col(right_ts).alias("__t"),
            F.struct(*[F.col(c).alias(c) for c in rcols]).alias("__r"),
        )
        .withColumn("__side", F.lit(0))
    )
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown asof direction {direction!r}")
    if direction == "nearest":
        # carry the matched right ts inside the struct so the two
        # fills can compare distances without a re-join
        r = r.withColumn(
            "__r", F.struct(F.col("__r").alias("row"), F.col("__t").alias("rt"))
        )
    u = l.unionByName(r, allowMissingColumns=True)
    back = (
        Window.partitionBy(*on)
        .orderBy(F.col("__t").asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    fwd = (
        Window.partitionBy(*on)
        .orderBy(F.col("__t").desc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    if direction in ("backward", "forward"):
        w = back if direction == "backward" else fwd
        filled = u.select(
            "*", F.last("__r", ignorenulls=True).over(w).alias("__f")
        )
        return (
            filled.filter(F.col("__side") == 1)
            .select(*left.columns, *[F.col(f"__f.{c}").alias(c) for c in rcols])
        )
    ts_type = u.schema["__t"].dataType
    tn = (
        F.unix_micros(F.col("__t"))
        if isinstance(ts_type, T.TimestampType)
        else F.col("__t").cast("long")
    )
    tn_of = (
        (lambda c: F.unix_micros(c))
        if isinstance(ts_type, T.TimestampType)
        else (lambda c: c.cast("long"))
    )
    filled = u.select(
        "*",
        F.last("__r", ignorenulls=True).over(back).alias("__b"),
        F.last("__r", ignorenulls=True).over(fwd).alias("__ff"),
        tn.alias("__tn"),
    )
    d_b = F.col("__tn") - tn_of(F.col("__b.rt"))
    d_f = tn_of(F.col("__ff.rt")) - F.col("__tn")
    pick = (
        F.when(F.col("__b").isNull(), F.col("__ff"))
        .when(F.col("__ff").isNull(), F.col("__b"))
        .when(d_b <= d_f, F.col("__b"))  # tie -> backward (earlier) row
        .otherwise(F.col("__ff"))
    )
    return (
        filled.filter(F.col("__side") == 1)
        .withColumn("__f", pick)
        .select(
            *left.columns, *[F.col(f"__f.row.{c}").alias(c) for c in rcols]
        )
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: Sequence[str] | str,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: append a random salt (0..buckets-1) to
    each fact row's key and replicate every dim row once per salt value,
    so one hot key's rows spread over ``salt_buckets`` shuffle
    partitions instead of hammering a single reducer.

    Use when a shuffled join's key distribution is heavily skewed AND
    AQE's skew-join splitting isn't available/enough (AQE splits
    oversized partitions post-shuffle; salting prevents the hot
    partition from forming at all).  Cost: the dim side is replicated
    ``salt_buckets``× — right for a big-fact / modest-dim join with a
    hot fact key, wrong for dim tables small enough to broadcast
    (just broadcast those).

    Only fact-preserving join types are supported: with ``right`` or
    ``full``, every UNMATCHED dim row would surface once per salt value
    (``salt_buckets`` duplicate null-extended rows), silently changing
    the join's semantics.
    """
    if how not in {"inner", "left", "left_semi", "left_anti"}:
        raise ValueError(
            f"salted_join supports how in {{'inner','left','left_semi','left_anti'}}, "
            f"got {how!r}: dim-side salt replication breaks right/full outer semantics"
        )
    on = [on] if isinstance(on, str) else list(on)
    salted_fact = fact.withColumn(
        "__salt", (F.rand(seed=42) * salt_buckets).cast("int")
    )
    salted_dim = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    out = salted_fact.join(salted_dim, on=on + ["__salt"], how=how).drop("__salt")
    return out


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    on: Sequence[str] | str,
    ts_col: str,
    start_col: str,
    end_col: str,
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Point-in-interval (range) join without a cross product: an
    inner join of ``points`` rows onto every ``intervals`` row with the
    same key whose ``[start, end]`` (inclusive) contains the point's
    timestamp.

    Scale shape: a naive non-equi join plans as a per-key cross product
    (BroadcastNestedLoop at worst).  Instead both sides are mapped onto
    fixed time buckets — each interval EXPLODES to the buckets it
    covers, each point to exactly one — turning the range predicate
    into an equi-join on (keys..., bucket) followed by the exact
    BETWEEN filter.  Shuffle is a plain hash join; the blow-up factor
    is ceil(interval_len / bucket_seconds) + 1 copies of the
    (small) interval side, so pick ``bucket_seconds`` near the typical
    interval length.  Requires bounded interval lengths (true for
    session/attribution windows).

    Both inputs must carry the join keys; other column names must not
    collide (alias beforehand).
    """
    on = [on] if isinstance(on, str) else list(on)
    b = bucket_seconds * 1_000_000  # unix_micros resolution
    p = points.withColumn("__bucket", F.floor(F.unix_micros(F.col(ts_col)) / b))
    i = intervals.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.unix_micros(F.col(start_col)) / b),
                F.floor(F.unix_micros(F.col(end_col)) / b),
            )
        ),
    )
    return (
        p.join(i, on=on + ["__bucket"], how="inner")
        .filter((F.col(ts_col) >= F.col(start_col)) & (F.col(ts_col) <= F.col(end_col)))
        .drop("__bucket")
    )


def deterministic_stratified_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    fractions: dict[str, float],
) -> DataFrame:
    """Per-stratum sampling by content-independent key hash: a row of
    stratum ``s`` survives iff ``md5(key) % 100 < fractions[s]*100``
    (strata absent from ``fractions`` are dropped).

    Unlike ``sampleBy`` (seeded rand per task), the same row set comes
    back on ANY engine, cluster size or run — reproducibility training
    pipelines need for dataset mixes ("50% web, 20% code ...").  Pure
    codegen'd expressions, zero shuffle; the filter pushes no I/O cost
    beyond the scan.
    """
    bucket = _md5_prefix_long(key_col) % 100
    pred = F.lit(False)
    for stratum, frac in fractions.items():
        # compare against a QUANTIZED frac*100 — pre-rounding to int
        # silently rewrites sub-percent fractions (0.005 -> 0 rows via
        # banker's rounding; 0.125 -> 12% not 12.5%) away from the
        # documented predicate, but the RAW product is just as wrong
        # the other way: binary floats put many whole-percent products
        # just above the integer (0.07*100 = 7.000000000000001), so
        # `bucket < frac*100` would admit one extra bucket and sample a
        # full extra percentage point.  round(..., 6) snaps those back
        # to the integer while preserving sub-percent thresholds
        # (0.5, 12.5) exactly.  The hash bucket is an integer, so
        # bucket < 0.5 keeps exactly bucket 0 (~1%), the closest the
        # 100-bucket grid can express, instead of dropping the stratum.
        threshold = round(frac * 100, 6)
        pred = pred | ((F.col(strata_col) == stratum) & (bucket < F.lit(threshold)))
    return df.filter(pred)


def table_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str] | None = None,
    hash_compare: bool = False,
) -> DataFrame:
    """Snapshot diff: classify every key as ``added`` / ``removed`` /
    ``changed`` between two versions of a table (unchanged keys are not
    emitted).  The reconciliation primitive for validating incremental
    loads against a rebuild, or diffing two time-travel snapshots.

    One full-outer shuffle join on the key; attribute comparison is
    null-safe so NULL -> value and value -> NULL count as changes.
    Emits only the keys + change_type — at 100 TB you join the output
    back to whichever side you need rather than carrying both payloads
    through the shuffle.

    ``hash_compare=True`` is the WIDE-TABLE scale path: each side
    collapses its compared attributes to one ``xxhash64`` fingerprint
    IN THE SCAN STAGE, so the full-outer exchange carries bare
    ``(key, 8-byte hash)`` rows instead of both payloads — a 100-column
    diff shuffles two long columns.  Position markers are interleaved
    between attributes so NULLs cannot alias across columns (Spark's
    hash skips NULL inputs; ``(NULL, x)`` vs ``(x, NULL)`` must differ),
    and attributes are string-normalized first so the fingerprint is
    layout-stable.  Equal-hash keys are reported unchanged — a 2^-64
    per-key false-negative the exact path doesn't have.
    """
    keys = list(keys)
    attrs = list(compare_cols) if compare_cols is not None else [
        c for c in old.columns if c not in keys
    ]
    if hash_compare:

        def fingerprint(alias: str) -> Column:
            if not attrs:
                # keys-only diff: every matched key is "unchanged" by
                # definition; a zero-arg xxhash64 would fail analysis
                return F.lit(0).cast("bigint").alias(alias)
            parts: list[Column] = []
            for i, c in enumerate(attrs):
                parts += [F.lit(i), F.col(c).cast("string")]
            return F.xxhash64(*parts).alias(alias)

        o = old.select(*keys, fingerprint("__o_fp"), F.lit(True).alias("__in_old"))
        n = new.select(*keys, fingerprint("__n_fp"), F.lit(True).alias("__in_new"))
        j = o.join(n, on=keys, how="full_outer")
        same = F.col("__o_fp").eqNullSafe(F.col("__n_fp"))
    else:
        o = old.select(*keys, *[F.col(c).alias(f"__o_{c}") for c in attrs], F.lit(True).alias("__in_old"))
        n = new.select(*keys, *[F.col(c).alias(f"__n_{c}") for c in attrs], F.lit(True).alias("__in_new"))
        j = o.join(n, on=keys, how="full_outer")
        same = F.lit(True)
        for c in attrs:
            same = same & F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
    change = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(~same, F.lit("changed"))
    )
    return j.select(*keys, change.alias("change_type")).filter(F.col("change_type").isNotNull())


def grouped_topk(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    k: int,
    tiebreak: str | None = None,
    ascending: bool = False,
) -> DataFrame:
    """EXACT top-k rows per group with a BOUNDED exchange — the scale
    form of :func:`top_k_per_group` (which window-sorts every row of
    every group through the shuffle).

    Phase 1: each partition reduces to its LOCAL top-k per group in an
    Arrow kernel (running state bounded by ``groups_seen x k`` rows per
    partition), so the group-keyed exchange carries at most
    ``partitions x groups x k`` rows instead of the whole table.  The
    global top-k of a union is always contained in the union of local
    top-ks, so phase 2's ordinary rank over the shrunken set is exact.

    Phase 2: row_number over (order_col, tiebreak) per group, keep
    rank <= k.  ``tiebreak`` (a unique column) makes the result
    deterministic when order values collide; required for an exact
    oracle, optional otherwise."""
    import pandas as pd

    gcols = list(group_cols)
    cols = df.columns
    sort_cols = [order_col] + ([tiebreak] if tiebreak else [])
    sort_asc = [ascending] + ([True] if tiebreak else [])

    # pandas must rank NULL order values exactly where the phase-2
    # Spark window does (asc -> NULLS FIRST, desc -> NULLS LAST):
    # with the pandas default (always last), a NULL row belonging in
    # the exact ascending top-k would be pruned in phase 1 on some
    # partitionings and survive on others — same data, different
    # partitioning, different answer
    na_pos = "first" if ascending else "last"

    def local_topk(batches) -> "pd.DataFrame":
        state = None
        for pdf in batches:
            both = pdf if state is None else pd.concat([state, pdf])
            state = (
                both.sort_values(sort_cols, ascending=sort_asc,
                                 na_position=na_pos)
                .groupby(gcols, sort=False, dropna=False)
                .head(k)
            )
        if state is not None and len(state):
            yield state[cols]

    shrunk = df.mapInPandas(local_topk, schema=df.schema)
    order = F.col(order_col).asc() if ascending else F.col(order_col).desc()
    order_by = [order] + ([F.col(tiebreak).asc()] if tiebreak else [])
    w = Window.partitionBy(*gcols).orderBy(*order_by)
    return (
        shrunk.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def repartition_even(df: DataFrame, n: int) -> DataFrame:
    """Split into ``n`` parallel parts covering EVERY row — the fixed
    form of the reference's 5-way split whose integer-division slicing
    drops up to n-1 tail rows (dags/etl.py:115-120, SURVEY §2.8 R1).
    Round-robin repartition: even sizes, no key skew, no tail loss.
    """
    return df.repartition(n)


def cohort_retention(
    events: DataFrame, user_col: str = "user_id", day_col: str = "day"
) -> DataFrame:
    """Weekly cohort-retention matrix over (user, activity-day) events:
    users cohort by the Monday-truncated week of their FIRST day, and
    each (cohort_week, week_offset) cell counts the distinct users of
    that cohort active floor((day - cohort_week) / 7) weeks in, with
    ``retention`` = cell count / cohort size rounded to 6 places.

    Shape at scale: one user-keyed aggregate finds first days; the
    per-user cohort label joins back onto the event scan (user-keyed
    shuffle); the final groupBy runs over the bounded cohort x offset
    grid and the size table collapses to one row per cohort, so it
    broadcasts.  Week offsets are integer day arithmetic — no float in
    the grid."""
    ev = events.select(
        F.col(user_col).alias("user_id"), F.col(day_col).alias("day")
    )
    firsts = ev.groupBy("user_id").agg(F.min("day").alias("first_day"))
    cohorts = firsts.select(
        "user_id",
        F.date_trunc("week", "first_day").cast("date").alias("cohort_week"),
    )
    activity = (
        ev.join(cohorts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            F.floor(F.datediff("day", "cohort_week") / 7).alias("week_offset"),
        )
        .distinct()
    )
    sizes = cohorts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    return (
        activity.groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            F.round(
                F.col("n_active").cast("double") / F.col("cohort_size"), 6
            ).alias("retention"),
        )
    )


def deletion_variant_keys(name: Column, max_distance: int) -> Column:
    """All strings obtainable from ``name`` by deleting up to
    ``max_distance`` characters (the deletion neighborhood of
    Mor & Fraenkel 1982; SymSpell's candidate index), distinct, as an
    array<string>.

    The pigeonhole this buys: ``lev(a, b) <= k`` implies the two
    del<=k neighborhoods INTERSECT (delete from ``a`` the characters
    an optimal alignment substitutes-or-deletes, from ``b`` those it
    substitutes-or-inserts: each side deletes <= k and the results are
    equal).  So joining on a shared variant is an EXACT candidate
    generator — no false negatives — whose selectivity follows the
    variant strings (mostly-intact names), not any coarse block key.

    Entirely JVM-side nested higher-order functions (no UDF); only
    ``max_distance`` in {1, 2} is supported — neighborhood size is
    C(L, <=k), which at k=3 (~1000 variants for L=20) stops being the
    cheap side of the trade.
    """
    if max_distance not in (1, 2):
        raise ValueError(
            "deletion_variant_keys supports max_distance in {1, 2}; "
            f"got {max_distance} (C(L, k) variants per row explodes past 2)"
        )
    L = F.length(name)
    idx = F.sequence(F.lit(1), L)
    empty = F.array().cast("array<string>")

    def _del1(i: Column) -> Column:
        return F.concat(name.substr(F.lit(1), i - 1), name.substr(i + 1, L - i))

    def _del2(i: Column, j: Column) -> Column:
        # j > i: drop chars i and j (1-based)
        return F.concat(
            name.substr(F.lit(1), i - 1),
            name.substr(i + 1, j - i - 1),
            name.substr(j + 1, L - j),
        )

    parts = [F.array(name)]
    parts.append(
        F.when(L >= 1, F.transform(idx, _del1)).otherwise(empty)
    )
    if max_distance == 2:
        parts.append(
            F.when(
                L >= 2,
                F.flatten(
                    F.transform(
                        idx,
                        lambda i: F.transform(
                            F.filter(idx, lambda j: j > i),
                            lambda j: _del2(i, j),
                        ),
                    )
                ),
            ).otherwise(empty)
        )
    return F.array_distinct(F.flatten(F.array(*parts)))


def _deletion_variant_rows(
    df: DataFrame,
    name_col: str,
    max_distance: int,
    keep_cols: Sequence[str] | None = None,
) -> DataFrame:
    """One Arrow kernel emitting the input row once per DISTINCT
    deletion variant of its ``name_col`` — the exploded twin of
    :func:`deletion_variant_keys` (parity unit-tested, see
    tests/test_deletion_join.py).

    Why a kernel and not the expression: the nested
    transform/filter/substr/concat tree is INTERPRETED per element by
    Catalyst — measured 4.4 s just to explode 15k 18-char names
    (~170 variants each) at sf0.1, dominating the whole deletion join
    — while per-batch python slicing over the same Arrow batch is
    ~10x cheaper.  NULL names yield no rows (the explode of a NULL
    array drops the row, same as the expression form).

    ``keep_cols`` limits which INPUT columns ride the exploded output,
    in the given order (default: all, in schema order); a name that is
    not an input column raises ``ValueError``, as does a missing
    ``name_col``.  Everything emitted crosses the Python->JVM Arrow
    boundary ~170x per input row, so a caller that only needs the id
    and block keys downstream should not ship the name with every
    variant (guide §4: pass only the columns the function needs —
    r17, measured on the entity-match path).
    """
    import pandas as pd

    if max_distance not in (1, 2):  # the deletion_variant_keys contract
        raise ValueError(
            "deletion neighborhoods support max_distance in {1, 2}; "
            f"got {max_distance} (C(L, k) variants per row explodes past 2)"
        )
    if name_col not in df.columns:
        raise ValueError(f"name_col {name_col!r} not in the input")
    if keep_cols is None:
        fields = df.schema.fields
    else:
        missing = [c for c in keep_cols if c not in df.columns]
        if missing:
            raise ValueError(f"keep_cols not in the input: {missing}")
        fields = [df.schema[c] for c in dict.fromkeys(keep_cols)]
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in fields
    ) + ", _variant string"
    cols = [f.name for f in fields]
    k = max_distance

    def gen(batches):
        for b in batches:
            if len(b) == 0:
                continue
            idx: list[int] = []
            variants: list[str] = []
            for i, s in enumerate(b[name_col]):
                if s is None:
                    continue
                vs = {s}
                L = len(s)
                for a in range(L):
                    vs.add(s[:a] + s[a + 1:])
                if k == 2:
                    for a in range(L):
                        for c in range(a + 1, L):
                            vs.add(s[:a] + s[a + 1:c] + s[c + 1:])
                idx.extend([i] * len(vs))
                variants.extend(vs)
            out = b[cols].iloc[idx].reset_index(drop=True)
            out["_variant"] = variants
            yield out

    return df.mapInPandas(gen, schema=out_schema)


def deletion_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_cols: Sequence[str],
    max_distance: int = 2,
) -> DataFrame:
    """EXACT Levenshtein-``<= max_distance`` pairs within blocks via the
    deletion-neighborhood join — the near-linear alternative to the
    block self-join when blocks are huge.

    Plan: each row explodes to its <= C(L, <=k)+L+1 deletion variants
    (:func:`_deletion_variant_rows`, the Arrow kernel), each variant
    hashed to an 8-byte md5-prefix key so the exchange carries
    (id, bigint) instead of near-full-length strings; ONE self
    equi-join on (block key, variant hash) -> distinct candidate pairs
    -> length-band + thresholded-levenshtein verify (hash collisions
    are harmless — verification is exact).  The two join sides are the
    SAME plan aliased twice, so the shuffle of the variant table is
    built once and read twice (ReusedExchange), not computed twice.
    Cost is sum over variant-key buckets of |bucket|^2, and bucket
    membership tracks NEAR-DUPLICATE density (names within distance k
    of a common subsequence), not block size: growing a block 100x
    grows this join ~100x, where the block self-join grows 10,000x.

    The sf10 scaling probe (tools/bench_sf10.py) is what surfaced the
    need: customer blocks key on (nation, segment) whose cardinality
    is CONSTANT in table size, so at 100x data every block is 100x
    fatter and the self-join's sum(|block|^2) explodes quadratically.
    """
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(name_col).alias("name"),
        *[F.col(c).alias(f"_bk{i}") for i, c in enumerate(block_cols)],
    )
    # spread the pre-explode rows: an under-split input (one parquet
    # file at small SF) would serialize the ~170x variant explode; the
    # rows being spread are the CHEAP side (pre-explosion)
    base = spread(base)
    bk = [f"_bk{i}" for i in range(len(block_cols))]
    # keep_cols: the variant stream never needs the name — names are
    # re-joined onto the DEDUPED pairs from `base` below, so shipping
    # the name with all ~170 variants of every row across the Arrow
    # boundary was pure payload (r17)
    v = _deletion_variant_rows(
        base, "name", max_distance, keep_cols=["id", *bk]
    ).select(
        "id",
        *bk,
        F.conv(F.substring(F.md5("_variant"), 1, 15), 16, 10)
        .cast("bigint")
        .alias("_vh"),
    )
    # bare-id bucket join: the multi-variant explode makes every true
    # pair meet in MANY buckets (a distance-1 pair shares ~L variants),
    # so the pre-distinct stream is the dominant shuffle — carry only
    # (bk, vh, id), never names (the lsh_topk bare-id-pairs rule), and
    # re-join names onto the deduped pairs afterwards
    vb = v.select(*bk, "_vh", "id")
    # explicit sort-merge hint: the mapInPandas explode defeats
    # Catalyst's size estimation (it sees the SMALL pre-explode child
    # and would happily plan a broadcast of the ~170x-exploded variant
    # table — 32 GiB at the sf10 probe, an instant OOM; shuffle_hash
    # OOMs the same probe building 5M-row per-partition hash maps).
    # A partitioned SPILL-SAFE join on (block, variant-hash) is the
    # only plan that survives any scale, so pin it instead of trusting
    # the estimate.
    vb = vb.hint("merge")
    left, right = vb.alias("l"), vb.alias("r")
    cand_ids = (
        left.join(
            right,
            [F.col(f"l.{c}") == F.col(f"r.{c}") for c in (*bk, "_vh")],
        )
        .filter(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("a_id"), F.col("r.id").alias("b_id"))
        .distinct()
    )
    names = base.select("id", "name")
    cand = (
        cand_ids.join(
            names.select(F.col("id").alias("a_id"), F.col("name").alias("a_name")),
            on="a_id",
        )
        .join(
            names.select(F.col("id").alias("b_id"), F.col("name").alias("b_name")),
            on="b_id",
        )
        .select("a_id", "b_id", "a_name", "b_name")
    )
    dist = F.levenshtein("a_name", "b_name", int(max_distance))
    return (
        cand.filter(
            F.abs(F.length("a_name") - F.length("b_name")) <= max_distance
        )
        .withColumn("distance", dist)
        .filter(F.col("distance") >= 0)
        .select("a_id", "b_id", "a_name", "b_name", "distance")
    )


def blocked_entity_match(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_cols: Sequence[str],
    max_distance: int = 2,
    max_block_rows: int | None = None,
    overflow: str = "exclude",
) -> DataFrame:
    """Blocked fuzzy entity matching (record linkage): candidate pairs
    are generated ONLY within a blocking key, then scored with exact
    Levenshtein edit distance and kept when ``<= max_distance``.

    The all-pairs O(n^2) comparison is the classic entity-resolution
    scale killer; blocking makes the cost sum(|block|^2) — bounded by
    the blocking key's selectivity, never by table size.  The physical
    plan is ONE shuffle on the block key (a self equi-join); the edit
    distance runs JVM-side (``F.levenshtein``, whole-stage codegen) on
    the blocked candidates only.  ``a_id < b_id`` canonicalizes pairs.

    ``max_block_rows`` caps oversized blocks (a skewed blocking key —
    e.g. a null-heavy column — degenerates back to all-pairs inside
    that block; at 100 TB a single fat block stalls the stage).  What
    happens to the capped rows is ``overflow``:

    - ``"exclude"`` (default): drop oversized blocks entirely —
      deterministic and oracle-replayable with a windowed count, but
      lossy.
    - ``"deletion_join"``: route oversized-block rows through
      :func:`deletion_neighborhood_pairs` — the EXACT near-linear
      candidate generator — so the result is IDENTICAL to the uncapped
      self-join while the per-block cost stops being quadratic.  This
      is the 100 TB configuration: equi-join for the small blocks
      (cheapest when sum(|block|^2) is affordable), deletion join for
      the fat ones.

    Returns (a_id, b_id, a_name, b_name, distance), one row per
    matched pair.
    """
    if overflow not in ("exclude", "deletion_join"):
        raise ValueError(f"unknown overflow policy {overflow!r}")
    blocks = [F.col(c) for c in block_cols]
    left = df.select(
        F.col(id_col).alias("a_id"),
        F.col(name_col).alias("a_name"),
        *[F.col(c).alias(f"_bk{i}") for i, c in enumerate(block_cols)],
    )
    right = df.select(
        F.col(id_col).alias("b_id"),
        F.col(name_col).alias("b_name"),
        *[F.col(c).alias(f"_bk{i}") for i, c in enumerate(block_cols)],
    )
    hot_pairs = None
    if max_block_rows is not None:
        sizes = (
            df.groupBy(*blocks)
            .agg(F.count(F.lit(1)).alias("_bsz"))
            .filter(F.col("_bsz") <= max_block_rows)
            .select(*[F.col(c).alias(f"_bk{i}") for i, c in enumerate(block_cols)])
        )
        # small by construction (<= distinct block keys); the semi join
        # broadcasts and prunes oversized blocks before the self-join
        left = left.join(F.broadcast(sizes), [f"_bk{i}" for i in range(len(block_cols))], "left_semi")
        right = right.join(F.broadcast(sizes), [f"_bk{i}" for i in range(len(block_cols))], "left_semi")
        if overflow == "deletion_join":
            hot_rows = df.join(
                F.broadcast(
                    sizes.select(
                        *[
                            F.col(f"_bk{i}").alias(c)
                            for i, c in enumerate(block_cols)
                        ]
                    )
                ),
                list(block_cols),
                "left_anti",
            )
            hot_pairs = deletion_neighborhood_pairs(
                hot_rows, id_col, name_col, block_cols, max_distance
            )
    bk = [f"_bk{i}" for i in range(len(block_cols))]
    pairs = left.join(right, bk).filter(F.col("a_id") < F.col("b_id"))
    # two cheap cuts before the DP: a length band (edit distance >=
    # length difference, so the band is free pruning), then the
    # thresholded levenshtein (returns -1 past the threshold and
    # short-circuits the O(len^2) DP to O(len * max_distance))
    dist = F.levenshtein("a_name", "b_name", int(max_distance))
    out = (
        pairs.filter(
            F.abs(F.length("a_name") - F.length("b_name")) <= max_distance
        )
        .withColumn("distance", dist)
        .filter(F.col("distance") >= 0)
        .select("a_id", "b_id", "a_name", "b_name", "distance")
    )
    if hot_pairs is not None:
        out = out.unionByName(hot_pairs)
    return out


def weighted_sample_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    key_col: str,
    weight_col: Column | str,
    k: int,
) -> DataFrame:
    """Weighted reservoir sample of ``k`` rows per group
    (Efraimidis-Spirakis A-Res): each row draws a deterministic
    uniform u from its key hash and ranks by ``ln(u) / w`` descending —
    the top-k per group is EXACTLY a weighted sample without
    replacement, where a row's inclusion odds scale with its weight.
    The corpus-mixing primitive ("sample 10k docs per language,
    favoring longer documents") that seeded ``rand()`` can't give
    reproducibly across engines, cluster sizes, or retries.

    u comes from the md5-prefix construction
    (:func:`deterministic_stratified_sample`): content-independent,
    engine-portable, replayable in any SQL dialect.  The sort key
    rounds to 9 places before ranking (the repo's cross-engine ranking
    convention) so the oracle's rank matches.  Rows with weight <= 0
    are EXCLUDED (their A-Res key is undefined); callers clamp first
    if zero-weight rows should still be eligible.

    Plan shape: scan + ONE top-k-per-group (rank window over a
    group-keyed exchange) — the same bounded shape as
    :func:`top_k_per_group`; nothing scales with k x groups beyond the
    output.
    """
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    # u in (0, 1]: (h + 1) / 2^32 over the 32-bit md5 prefix — never 0,
    # so ln(u) is finite
    h = _md5_prefix_long(key_col).cast("double")
    u = (h + F.lit(1.0)) / F.lit(4294967296.0)
    ares = F.round(F.log(u) / w, 9)
    return (
        df.filter(w > 0)
        .withColumn("_ares", ares)
        .transform(
            lambda d: top_k_per_group(
                d,
                list(group_cols),
                [F.col("_ares").desc(), F.col(key_col).asc()],
                k,
            )
        )
        .drop("_ares")
    )


def weighted_median(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    weight_col: str,
) -> DataFrame:
    """Exact weighted median per group: the smallest value whose
    cumulative weight reaches half the group's total — the robust
    location estimate consensus pipelines use where weights are
    trust/quality scores.

    Rows first PRE-AGGREGATE to one (group, value, total weight) row
    per distinct value — a map-side-combinable shuffle that shrinks
    the ordered pass from row count to distinct-value count (the
    window's sort parallelism is capped at the number of GROUPS, so
    feeding it raw rows serializes row-count work onto #groups tasks;
    feeding it distinct values bounds that serial work by the value
    domain).  Then ONE group-keyed window computes the running weight
    in value order with DECIMAL(38,6) accumulation (order-exact, so
    the crossing value cannot differ per partitioning) and a
    min-over-qualifying aggregate picks the crossing value.
    Non-positive weights are excluded; groups with no positive weight
    vanish.  Returns (group_cols..., wmedian).
    """
    pos = df.filter(F.col(weight_col) > 0)
    per_value = pos.groupBy(*group_cols, F.col(value_col).alias("_v")).agg(
        F.sum(F.col(weight_col).cast("decimal(38,6)")).alias("_w")
    )
    win = (
        Window.partitionBy(*group_cols)
        .orderBy(F.col("_v").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    totals = Window.partitionBy(*group_cols)
    marked = per_value.select(
        *group_cols,
        "_v",
        F.sum("_w").over(win).alias("_cum"),
        F.sum("_w").over(totals).alias("_tot"),
    )
    return (
        marked.filter(F.col("_cum") * 2 >= F.col("_tot"))
        .groupBy(*group_cols)
        .agg(F.min("_v").alias("wmedian"))
    )


def ordered_budget_select(
    df: DataFrame,
    order_col: str,
    weight_col: str,
    budget: float,
    tie_col: str,
    n_buckets: int = 256,
    group_cols: "Sequence[str] | None" = None,
) -> DataFrame:
    """Select rows in (``order_col`` DESC, ``tie_col`` ASC) order while
    the running total of ``weight_col`` stays <= ``budget`` — the
    "fill a token budget with the best documents" primitive of a
    training-data pipeline (quality-ranked corpus truncation).  With
    ``group_cols``, the order and the budget apply PER GROUP (each
    language/source fills its own quota — the per-stratum form data-
    mix curation uses).

    The naive form is a GLOBAL-order cumulative window — a single
    partition processing every row (or one partition per group, each
    carrying that group's full row count), which cannot work at
    100 TB.  This runs as a distributed two-pass prefix sum instead:

    1. ONE aggregate finds the order column's [lo, hi] range (per
       group when grouped); each row maps to one of ``n_buckets``
       equi-width buckets, numbered so bucket index ASCENDS as
       consumption order proceeds (highest ``order_col`` first).  The
       mapping is monotone, so bucket order refines the selection
       order and equal order values can never straddle a bucket
       boundary.
    2. ONE map-side-combined aggregate computes each (group,) bucket's
       weight sum; a window over <= ``n_buckets`` rows per group
       (tiny) turns that into each bucket's STRICT-PRIOR prefix total.
    3. The prefix joins back by (group,) bucket, and a window
       PARTITIONED BY (group,) BUCKET — parallel across buckets, never
       global — adds the within-bucket running weight.  A row survives
       iff prior-buckets total + within-bucket running total <=
       budget.

    Weights accumulate in DECIMAL(38,6) so the running total is exact
    and order-independent; the result is identical to the single-
    window definition row-for-row.  Rows with a NULL order or weight
    are EXCLUDED up front (explicitly — otherwise a NULL bucket key
    would drop them silently at the join while their weight skewed
    nothing; a ranking that can be NULL must be coalesced by the
    caller).  Degenerate case: all order values equal in a group ->
    one bucket -> that group's window serializes (documented; the
    caller picked a constant ranking).  Returns the input columns,
    filtered; no ordering guarantee (order downstream if needed).

    The input has three consumers — the range aggregate, the
    per-bucket totals, and the final filtered join — so callers pass
    the narrow projection (id, order, weight[, group]), not the wide
    table.  The range/prefix sides are broadcast only in the ungrouped
    form; grouped, they are |groups| x n_buckets rows and the join
    planner (AQE) picks broadcast vs shuffle from the actual size.
    """
    gcols = list(group_cols or [])
    df = df.filter(
        F.col(order_col).isNotNull() & F.col(weight_col).isNotNull()
    )
    lo_hi = df.groupBy(*gcols).agg(
        F.min(order_col).alias("__lo"), F.max(order_col).alias("__hi")
    ) if gcols else df.agg(
        F.min(order_col).alias("__lo"), F.max(order_col).alias("__hi")
    )

    def _null_safe_join(left: DataFrame, right: DataFrame,
                        join_cols: "list[str]") -> DataFrame:
        # name-based equi joins never match NULL keys, which would
        # silently drop every row of a NULL-valued group (a legitimate
        # stratum — e.g. unknown language) from the selection; eqNullSafe
        # keeps NULL groups first-class
        renamed = right.select(
            *[F.col(c).alias(f"__rj_{c}") for c in join_cols],
            *[c for c in right.columns if c not in join_cols],
        )
        cond = reduce(
            lambda a, b: a & b,
            [left[c].eqNullSafe(renamed[f"__rj_{c}"]) for c in join_cols],
        )
        out = left.join(renamed, cond)
        return out.drop(*[f"__rj_{c}" for c in join_cols])

    with_b = (
        _null_safe_join(df, lo_hi, gcols) if gcols
        else df.join(F.broadcast(lo_hi))
    )
    width = (F.col("__hi") - F.col("__lo")) / F.lit(n_buckets)
    # a range narrower than n_buckets ulps (e.g. [0, 5e-324]) underflows
    # to a zero width even though hi > lo: one bucket, not a division
    bucket = (
        F.when(width <= F.lit(0.0), F.lit(0))
        .otherwise(
            F.least(
                F.lit(n_buckets - 1),
                F.greatest(
                    F.lit(0),
                    F.floor((F.col("__hi") - F.col(order_col)) / width),
                ),
            )
        )
        .cast("int")
    )
    with_b = with_b.withColumn("__bucket", bucket).drop("__lo", "__hi")
    per_bucket = with_b.groupBy(*gcols, "__bucket").agg(
        F.sum(F.col(weight_col).cast("decimal(38,6)")).alias("__btoks")
    )
    # <= n_buckets rows per group: the window here is over a tiny
    # relation by construction, not over the data
    prior_w = (
        (Window.partitionBy(*gcols) if gcols else Window)
        .orderBy("__bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = per_bucket.select(
        *gcols,
        "__bucket",
        F.coalesce(
            F.sum("__btoks").over(prior_w),
            F.lit(0).cast("decimal(38,6)"),
        ).alias("__prior"),
    )
    within = (
        Window.partitionBy(*gcols, "__bucket")
        .orderBy(F.col(order_col).desc(), F.col(tie_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out_cols = df.columns
    joined = (
        _null_safe_join(with_b, prefix, [*gcols, "__bucket"]) if gcols
        else with_b.join(F.broadcast(prefix), "__bucket")
    )
    return (
        joined.withColumn(
            "__cum",
            F.col("__prior")
            + F.sum(F.col(weight_col).cast("decimal(38,6)")).over(within),
        )
        .filter(F.col("__cum") <= F.lit(budget))
        .select(*out_cols)
    )


def distributed_ntile(
    df: DataFrame,
    order_col: str,
    tie_col: str,
    n: int = 3,
    n_buckets: int = 256,
    ascending: bool = True,
    out_col: str = "tile",
) -> DataFrame:
    """``NTILE(n) OVER (ORDER BY order_col [ASC|DESC], tie_col ASC)``
    without the single-partition global sort the window form compiles
    to — the quantile-band assignment of CCNet-style perplexity
    bucketing (head/middle/tail) and any other "label each row by its
    global quantile" task.

    Plan (the :func:`ordered_budget_select` two-pass prefix shape):

    1. ONE aggregate finds [lo, hi] of ``order_col``; each row maps to
       one of ``n_buckets`` equi-width range buckets, numbered so the
       bucket index ascends in rank order.  The map is monotone and
       equal values can never straddle a boundary, so bucket order
       refines rank order.
    2. ONE map-side-combined count per bucket; a window over
       <= ``n_buckets`` rows turns that into strict-prior prefix
       counts and the 1-row grand total broadcasts.
    3. global rank = prior-bucket count + within-bucket row_number —
       the within window is PARTITIONED BY bucket, parallel across
       buckets, never global.

    The tile is then pure integer arithmetic on the rank (NTILE's
    exact definition: the first ``N mod n`` tiles get ``N div n + 1``
    rows, the rest ``N div n``), so the result is row-for-row
    identical to the window form and engine-portably exact — no float
    participates after the monotone bucket map.

    Rows with a NULL ``order_col`` are EXCLUDED (callers coalesce
    first if NULL should rank).  Ties: ``tie_col`` must complete a
    total order or ranks (and thus tiles at tile boundaries) are
    nondeterministic — same contract as SQL NTILE with an
    under-specified ORDER BY.  Skewed value distributions degrade
    gracefully: a hot equi-width bucket serializes only ITS rows
    through one window partition (worst case all-equal values -> one
    bucket -> the global-window plan you started with).
    """
    if n < 1:
        raise ValueError(f"NTILE needs n >= 1, got {n}")
    df = df.filter(F.col(order_col).isNotNull())
    lo_hi = df.agg(
        F.min(order_col).alias("__lo"), F.max(order_col).alias("__hi")
    )
    with_b = df.join(F.broadcast(lo_hi))
    width = (F.col("__hi") - F.col("__lo")) / F.lit(n_buckets)
    pos = (
        (F.col(order_col) - F.col("__lo"))
        if ascending
        else (F.col("__hi") - F.col(order_col))
    )
    bucket = (
        F.when(F.col("__hi") <= F.col("__lo"), F.lit(0))
        .otherwise(
            F.least(
                F.lit(n_buckets - 1),
                F.greatest(F.lit(0), F.floor(pos / width)),
            )
        )
        .cast("int")
    )
    with_b = with_b.withColumn("__bucket", bucket).drop("__lo", "__hi")
    per_bucket = with_b.groupBy("__bucket").agg(
        F.count(F.lit(1)).alias("__bn")
    )
    prior_w = Window.orderBy("__bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    prefix = per_bucket.select(
        "__bucket",
        F.coalesce(F.sum("__bn").over(prior_w), F.lit(0)).alias("__prior"),
    )
    total = per_bucket.agg(F.sum("__bn").alias("__total"))
    order_expr = (
        F.col(order_col).asc() if ascending else F.col(order_col).desc()
    )
    within = Window.partitionBy("__bucket").orderBy(
        order_expr, F.col(tie_col).asc()
    )
    ranked = (
        with_b.join(F.broadcast(prefix), "__bucket")
        .join(F.broadcast(total))
        .withColumn("__rank", F.col("__prior") + F.row_number().over(within))
    )
    base = F.floor(F.col("__total") / n).cast("bigint")
    rem = (F.col("__total") % n).cast("bigint")
    big_cut = rem * (base + 1)  # rows covered by the (base+1)-sized tiles
    tile = F.when(
        F.col("__rank") <= big_cut,
        F.floor((F.col("__rank") - 1) / (base + 1)) + 1,
    ).otherwise(
        rem + F.floor((F.col("__rank") - big_cut - 1) / base) + 1
    )
    return ranked.withColumn(out_col, tile.cast("int")).drop(
        "__bucket", "__prior", "__total", "__rank"
    )
