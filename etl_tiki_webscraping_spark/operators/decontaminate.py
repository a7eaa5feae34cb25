"""Benchmark decontamination + intra-document repetition scoring —
training-data pipeline operators (BASELINE.json north star; the
reference has no analog, its dedup is PK-level only,
/root/reference/dags/etl.py:86,181-202).

Decontamination is the standard pre-training hygiene step: any corpus
document sharing a long-enough word n-gram with a held-out
benchmark/test set is removed so the model can't be evaluated on data
it memorized.  Repetition scoring flags boilerplate/spam documents
whose content is mostly self-repeating n-grams.

Scale shape (100 TB corpus, small benchmark — the realistic case):
- the benchmark's distinct n-gram set is tiny (test suites are MBs),
  so the contamination check is a BROADCAST semi join: corpus n-grams
  are generated inside whole-stage codegen (split/transform/slice —
  zero Python) and never shuffled; only the contaminated-id set (also
  small) feeds the final anti join.
- with ``min_hits > 1`` the colliding (id, gram) pairs — bounded by
  benchmark size × collision rate, not corpus size — take one
  aggregate shuffle.
- repetition scoring is a pure per-row expression: zero shuffle,
  zero UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_tiki_webscraping_spark.session import spread


def ngrams_of_tokens(tok: Column, n: int) -> Column:
    """Space-joined ``n``-grams of an already-tokenized array column.
    Prefer this over :func:`word_ngrams` when the token array is
    materialized in a prior projection — referencing a computed array
    column keeps the tokenization at once-per-row instead of Catalyst
    re-inlining the split into every gram slice."""
    return F.when(
        F.size(tok) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(tok) - n + 1),
            lambda i: F.concat_ws(" ", F.slice(tok, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def word_ngrams(col: Column | str, n: int) -> Column:
    """Array of space-joined word ``n``-grams of the normalized text
    (lowercase, whitespace-split) — a codegen'd expression, no UDF.
    Documents with fewer than ``n`` tokens yield an empty array."""
    c = F.col(col) if isinstance(col, str) else col
    return ngrams_of_tokens(F.split(F.lower(F.trim(c)), "[ \t\n\f\r]+"), n)


def repetition_ratio(col: Column | str, n: int = 3) -> Column:
    """Fraction of repeated ``n``-grams within the document:
    ``1 - distinct/total`` (0.0 for docs too short to have any).
    High values mean boilerplate/keyword-stuffed content."""
    grams = word_ngrams(col, n)
    return F.when(F.size(grams) <= 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - F.size(F.array_distinct(grams)).cast("double") / F.size(grams).cast("double")
    )


def repetition_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Per-document repetition ratio as a DataFrame operator:
    ``(id_col, repetition)`` with the same 1 - distinct/total
    definition as :func:`repetition_ratio` (docs with no grams,
    including NULL text, score 0.0).

    Why this exists alongside the Column form: referencing the grams
    array three times (total size, distinct size, the guard) makes
    Catalyst inline the nested higher-order ``transform`` chain once
    per reference, and nested HOFs run INTERPRETED — measured 12 s for
    5k docs where this shape runs ~1.5 s.  The plan here is the Gopher
    family's: ONE explode into a map-side-combined
    ``(id, gram) -> count`` aggregate (exchanges carry nothing wider
    than an n-gram), then a per-doc rollup where ``COUNT(*)`` is the
    distinct-gram count and ``SUM`` the total — the shape that also
    survives 100 TB, where a per-row array materialization would not.
    """
    # one id-keyed exchange of raw text on a small input (r16; a large
    # one keeps its partitions, see spread): hashpartitioning(id)
    # satisfies the clustering of BOTH aggregates and the final join,
    # so the per-gram exchange (n-gram strings, heavier than the text)
    # disappears and the gram construction parallelizes past however
    # few splits the scan produced (guide §2.3/§2.4)
    df = spread(df.select(F.col(id_col), F.col(text_col)), F.col(id_col))
    ids = df.select(id_col)
    # tokenize in its OWN projection (the ngrams_of_tokens contract):
    # passing word_ngrams(text) straight to the explode inlines the
    # split/lower/trim into every interpreted gram slice — measured
    # 4.2 s vs 0.6 s at sf0.1 for the gram explode alone (r16, guide
    # §4.1: keep per-row work out of re-evaluated HOF lambdas)
    toks = df.select(
        F.col(id_col),
        F.split(F.lower(F.trim(F.col(text_col))), "[ \t\n\f\r]+").alias("__tok"),
    )
    per_gram = (
        toks.select(
            F.col(id_col),
            F.explode(ngrams_of_tokens(F.col("__tok"), n)).alias("__g"),
        )
        .groupBy(id_col, "__g")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    per_doc = per_gram.groupBy(id_col).agg(
        F.sum("__c").alias("__total"),
        F.count(F.lit(1)).alias("__distinct"),
    )
    rep = F.lit(1.0) - F.col("__distinct").cast("double") / F.col(
        "__total"
    ).cast("double")
    return ids.join(per_doc, id_col, "left").select(
        id_col, F.coalesce(rep, F.lit(0.0)).alias("repetition")
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
    min_hits: int = 1,
) -> DataFrame:
    """Remove corpus documents sharing at least ``min_hits`` distinct
    word ``n``-grams with the benchmark set.

    Returns the surviving corpus rows (original schema).  The benchmark
    gram set is broadcast (it is small by construction); corpus grams
    are generated and probed map-side, so for the default
    ``min_hits=1`` the whole check adds NO shuffle beyond the final
    bare-id anti join.
    """
    if n < 1:
        raise ValueError("need n >= 1")
    # probe on 64-bit gram hashes, not gram strings: the strings stay
    # inside whole-stage codegen, the broadcast set is 8 bytes per gram,
    # and the join compares longs (xxhash64 collisions are 2^-64 per
    # candidate pair — and a collision only ever OVER-removes, the safe
    # direction for decontamination)
    def gram_hashes(df: DataFrame, *keep: Column) -> DataFrame:
        # tokenize in its own projection so the split runs once per row
        # (inlined, every gram slice would re-split the text)
        t = df.select(
            *keep, F.split(F.lower(F.trim(F.col(text_col))), "[ \t\n\f\r]+").alias("__tok")
        )
        return t.select(
            *[c for c in t.columns if c != "__tok"],
            F.explode(
                F.transform(ngrams_of_tokens(F.col("__tok"), n), lambda g: F.xxhash64(g))
            ).alias("__g"),
        )

    bench_grams = gram_hashes(benchmark).distinct()
    corpus_grams = gram_hashes(corpus, F.col(id_col).alias("__id"))
    hits = corpus_grams.join(F.broadcast(bench_grams), on="__g", how="inner")
    if min_hits <= 1:
        contaminated = hits.select("__id").distinct()
    else:
        contaminated = (
            hits.distinct()
            .groupBy("__id")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") >= min_hits)
            .select("__id")
        )
    return corpus.join(
        contaminated.withColumnRenamed("__id", id_col), on=id_col, how="left_anti"
    ).select(*corpus.columns)


def pack_by_token_budget(
    df: DataFrame,
    token_col: str,
    id_col: str,
    budget: int,
    n_shards: int = 256,
    shard_expr: Column | None = None,
) -> DataFrame:
    """Token-stream chunk assignment: within each shard, documents are
    (conceptually) concatenated in id order and the stream cut every
    ``budget`` tokens; each document gets the ``pack_id`` of the chunk
    its first token lands in — GPT-style concat-then-cut packing, the
    batch-building pass of a pretraining pipeline (documents may
    straddle chunk boundaries, exactly as in that scheme; capacity-
    strict bin packing is a different, order-destroying problem).

    Deterministic: shard = hash(id) % n_shards (override with
    ``shard_expr`` to pin a custom routing), order by id.

    Scale shape: ONE window per shard partition (running token sum) —
    no global ordering, no driver state; parallelism = n_shards.  At
    100 TB, size ``n_shards`` to ~executor-count x 4.
    """
    if budget < 1:
        # a zero budget would float-divide to Infinity and only fail
        # (or worse, wrap) at the final bigint cast — fail loud instead
        raise ValueError("need budget >= 1")
    if shard_expr is None and n_shards < 1:
        raise ValueError("need n_shards >= 1")
    shard = (
        shard_expr
        if shard_expr is not None
        else F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_shards))
    ).alias("__shard")
    w = (
        Window.partitionBy("__shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    toks = F.col(token_col)
    return (
        df.select(*df.columns, shard)
        .withColumn("__cum", F.sum(toks).over(w))
        .withColumn(
            "pack_id", F.floor((F.col("__cum") - toks) / F.lit(budget)).cast("bigint")
        )
        .select(*df.columns, F.col("__shard").alias("shard"), "pack_id")
    )


# --------------------------------------------------------------------------
# DSIR — data selection with importance resampling (Xie et al., 2023)
# --------------------------------------------------------------------------

def _tokens(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, term) stream under the repo's standard tokenizer (lowercase,
    ``[^a-z0-9]+`` split) — the exact shape ``doc_unigram_logprob``'s
    oracle replays in DuckDB."""
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.filter(
                F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
                lambda t: t != F.lit(""),
            )
        ).alias("term"),
    )


def _md5_bucket(term: Column, n_buckets: int) -> Column:
    """Hash a token into ``n_buckets`` via the repo's cross-engine
    md5-prefix recipe (``relational._md5_prefix_long``): the first 8
    hex chars of md5 as a bigint, mod buckets — replayable verbatim in
    any SQL dialect, unlike xxhash64/murmur whose constants differ per
    engine."""
    return (
        F.conv(F.substring(F.md5(term), 1, 8), 16, 10).cast("bigint")
        % F.lit(n_buckets)
    )


def dsir_log_weights(
    pool: DataFrame,
    target: DataFrame,
    text_col: str,
    id_col: str,
    n_buckets: int = 4096,
) -> DataFrame:
    """Per-document DSIR importance log-weight ``ln p_target(x) /
    p_raw(x)`` over hashed unigram features (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): the
    published recipe for steering a raw 100 TB crawl toward a curated
    target domain without training a model — two hashed bag-of-words
    unigram LMs (add-1 smoothed over ``n_buckets`` md5 buckets), and
    each pool document scores the sum of per-token log-ratios.

    Returns ``(id, n_tokens, log_weight)`` for every pool document
    with at least one token (token-less documents have no features,
    hence no weight — callers route them separately).

    Scale shape: both corpora tokenize ONCE; the two feature
    histograms are ``n_buckets``-bounded aggregates (map-side
    combinable; the hashing is exactly why DSIR scales — the
    vocabulary never leaves the fixed bucket grid), their log-ratio
    table is <= ``n_buckets`` rows and BROADCASTS into the pool's
    token stream; the per-doc reduce is one groupBy(id) carrying
    bare (id, bigint) pairs.  Nothing shuffles document text.

    Cross-engine determinism: the per-bucket log-ratio quantizes to
    integer 1e-8 units via ``floor(x*1e8 + 0.5)`` — the same
    IEEE-double formula on both engines — and per-doc sums accumulate
    exactly in DECIMAL(38,0), so the DuckDB oracle hash-matches at any
    precision (the tpch_q9 lesson: double->DECIMAL casts round
    half-way ties differently per engine; FLOOR of an exact product
    does not).
    """
    if n_buckets < 2:
        raise ValueError("need n_buckets >= 2")
    pool_toks = _tokens(pool, text_col, id_col)
    tgt_toks = _tokens(target, text_col, id_col)
    b = F.lit(float(n_buckets))

    def hist(toks: DataFrame) -> DataFrame:
        return (
            toks.select(_md5_bucket(F.col("term"), n_buckets).alias("bucket"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    raw_hist = hist(pool_toks)
    tgt_hist = hist(tgt_toks)
    # COALESCE the totals: SUM over an empty histogram is NULL, and a
    # NULL total would silently NULL every log-weight.  With 0 the
    # add-1 smoothing degrades gracefully: a token-less target means a
    # UNIFORM target density (1/B per bucket), so weights rank by
    # inverse raw frequency instead of vanishing.
    raw_total = raw_hist.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).alias("n_raw")
    )
    tgt_total = tgt_hist.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).alias("n_tgt")
    )
    # full outer over the bucket grid: a bucket seen only in one corpus
    # still gets its smoothed ratio (add-1 keeps both densities > 0)
    ratios = (
        raw_hist.withColumnRenamed("cnt", "c_raw")
        .join(tgt_hist.withColumnRenamed("cnt", "c_tgt"), "bucket", "full_outer")
        .crossJoin(F.broadcast(raw_total))
        .crossJoin(F.broadcast(tgt_total))
        .select(
            "bucket",
            F.floor(
                F.log(
                    (
                        (F.coalesce(F.col("c_tgt"), F.lit(0)).cast("double") + F.lit(1.0))
                        / (F.col("n_tgt").cast("double") + b)
                    )
                    / (
                        (F.coalesce(F.col("c_raw"), F.lit(0)).cast("double") + F.lit(1.0))
                        / (F.col("n_raw").cast("double") + b)
                    )
                )
                * F.lit(1e8)
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("lw_units"),
        )
    )
    scored = pool_toks.select(
        "id", _md5_bucket(F.col("term"), n_buckets).alias("bucket")
    ).join(F.broadcast(ratios), "bucket")
    return scored.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        (
            F.sum(F.col("lw_units").cast("decimal(38,0)")).cast("double")
            / F.lit(1e8)
        ).alias("log_weight"),
    )


def dsir_resample(
    pool: DataFrame,
    target: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    n_buckets: int = 4096,
) -> DataFrame:
    """DSIR selection: draw ``k`` pool documents WITHOUT replacement
    with inclusion odds proportional to the DSIR importance weight —
    the Gumbel-top-k trick in log space (``key = log_weight + Gumbel``
    with a deterministic per-document uniform from the md5-prefix
    hash), which never exponentiates the weight (exp(log_weight) of a
    long document under/overflows double).

    The Gumbel noise uses ``u = (h + 0.5) / 2^32`` — strictly inside
    (0, 1) so ``ln(-ln(u))`` is always finite (``+1`` would allow
    u = 1.0 and an infinite key for that row regardless of weight).
    The key quantizes to integer 1e-9 units via the floor recipe, so
    rank order (key desc, id asc) is bit-identical cross-engine.

    Plan shape: :func:`dsir_log_weights` + ONE global top-k
    (TakeOrderedAndProject — bounded at k per partition, no full
    sort).  Returns ``(id, n_tokens, log_weight, key_units)``.
    """
    lw = dsir_log_weights(pool, target, text_col, id_col, n_buckets)
    h = F.conv(
        F.substring(F.md5(F.col("id").cast("string")), 1, 8), 16, 10
    ).cast("bigint").cast("double")
    u = (h + F.lit(0.5)) / F.lit(4294967296.0)
    key_units = F.floor(
        (F.col("log_weight") - F.log(-F.log(u))) * F.lit(1e9) + F.lit(0.5)
    ).cast("bigint")
    return (
        lw.withColumn("key_units", key_units)
        .orderBy(F.col("key_units").desc(), F.col("id").asc())
        .limit(k)
    )
