"""Gopher-style repetition quality signals for pretraining corpora.

The repetition rules of Rae et al. 2021 ("Scaling Language Models:
... Gopher", §A1.1) filter documents dominated by repeated n-grams —
the most load-bearing heuristic family in production curation stacks
(Gopher, MassiveText, FineWeb, Dolma all ship a variant).  The
reference pipeline has no analog (`/root/reference/dags/etl.py` is a
product scraper); this is extension surface for the LLM-data-pipeline
requirement.

Because the published rules are described over lines/paragraphs the
fixture corpus doesn't have, this implements the TOKEN-STREAM subset
as an exactly-specified, engine-portable variant:

- ``top{n}gram_mass`` (n = 2, 3, 4): characters covered by the single
  most frequent word n-gram, ``max over grams g of count(g) *
  length(g)`` where ``length`` counts the joined gram string
  (tokens + internal spaces).  Gopher bounds the top-n-gram character
  fraction at 0.20 / 0.18 / 0.16.
- ``dup5gram_mass``: characters in DUPLICATED 5-grams, ``sum over
  grams with count >= 2 of count(g) * length(g)``.  This is the
  occurrence-mass variant, NOT position-coverage: overlapping
  occurrences are each counted, so the fraction may exceed 1 for
  degenerate inputs (position-coverage dedup lives in
  ``dedup.winnow_span_dedup``).  Gopher's threshold family uses 0.15
  for duplicate 5-grams.
- denominators and ratios: ``total_chars = length(' '.join(tokens))``
  and ``frac = mass / total_chars`` as a float64 division of two
  exact int64s — bit-identical across engines; NULL when the document
  has no tokens.

Every signal is an INTEGER until the final division, and the filter
query compares integers cross-multiplied against rational thresholds
(``mass * 5 <= chars`` for 0.20), so no float tie can ever flip a
keep/drop decision between engines (the repo's r10 float discipline).

Scale shape: one explode of tagged (n, gram) structs — ~4x the token
count — into a single map-side-combined groupBy keyed
(doc_id, n, gram); per-task partial aggregation collapses repeated
grams BEFORE the exchange, so shuffle rows are bounded by per-task
DISTINCT grams, not corpus positions.  The two follow-up aggregations
are keyed by doc_id subsets of the same key, and every key contains
doc_id, so AQE coalesces them without a second wide exchange.  No
UDF, no driver collect, no text wider than a 5-gram ever shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_tiki_webscraping_spark.session import spread

#: (n-gram size -> (numerator, denominator)) of the max allowed
#: character fraction for the TOP n-gram — Gopher table A1.
TOP_NGRAM_LIMITS: dict[int, tuple[int, int]] = {
    2: (1, 5),    # 0.20
    3: (9, 50),   # 0.18
    4: (4, 25),   # 0.16
}

#: max allowed duplicated-5-gram character fraction (0.15).
DUP_5GRAM_LIMIT: tuple[int, int] = (3, 20)

#: drop documents shorter than this many tokens before the repetition
#: rules even apply (a 3-word doc whose words repeat is noise, not a
#: repetition-spam signal).
MIN_WORDS: int = 5


def _ws_tokens(text_col: Column) -> Column:
    """Lowercased whitespace tokens, empties dropped — the same
    tokenization contract as the MinHash/SimHash kernels, replayable
    as ``list_filter(string_split_regex(lower(coalesce(text, '')),
    '\\s+'), x -> x <> '')``.  The split class is the explicit
    ``[ \\t\\n\\f\\r]`` (RE2 ``\\s``, which the oracle uses; Java ``\\s``
    also matches U+000B — ADVICE r13)."""
    return F.filter(
        F.split(F.lower(F.coalesce(text_col, F.lit(""))), "[ \t\n\f\r]+"),
        lambda x: x != "",
    )


def _doc_tokens(text_col: Column, segment_cjk: bool) -> Column:
    """Token stream for the repetition rules.  ``segment_cjk=False``
    keeps the historical whitespace contract; ``True`` routes through
    ``functions.text.tokenize_mixed`` so no-space scripts (CJK / Thai /
    ...) contribute character bigrams instead of one sentence-sized
    token — without it every repetition mass on such text is trivially
    0 (a 1-token doc has no 2-gram).

    LOAD-BEARING CONTRACT (r16 ADVICE): the returned array never
    contains NULL elements — both branches split/filter non-null
    strings, so every element is a non-null string.  The lead-window
    gram guard in :func:`repetition_signals` (``t{n-1} IS NOT NULL``
    marks a complete n-gram) is equivalent to the old ``size(toks) >=
    n`` slice guard ONLY under this no-NULL-token invariant; a future
    tokenizer emitting NULL tokens would silently drop mid-document
    grams.  Keep any new branch NULL-free (or change the guard)."""
    if not segment_cjk:
        return _ws_tokens(text_col)
    from etl_tiki_webscraping_spark.functions.text import tokenize_mixed

    return tokenize_mixed(F.lower(F.coalesce(text_col, F.lit(""))))


def repetition_signals(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    segment_cjk: bool = False,
) -> DataFrame:
    """Per-document repetition signal table:

    ``(doc_id, n_words, total_chars, top2gram_mass, top3gram_mass,
    top4gram_mass, dup5gram_mass, top2gram_frac, top3gram_frac,
    top4gram_frac, dup5gram_frac)``

    Masses are exact BIGINTs (0 when the document has no gram of that
    size), fracs are ``mass / total_chars`` float64 (NULL for empty
    documents).  See the module docstring for the exact variant
    definitions and the plan shape.
    """
    # on a small input (spread leaves a large one as it arrives), ONE
    # id-keyed exchange of raw text up front (r16): every keyed
    # step below — the (doc_id, n, g) gram aggregate, the per-(doc_id,
    # n) rollup, the per-doc pivot, and the final doc_id join — has a
    # required clustering that hashpartitioning(doc_id) already
    # satisfies, so the plan needs NO further exchange.  Without this
    # the gram aggregate exchanges ~4 gram-strings per token position
    # (far heavier than the text itself) and the tokenizer + gram
    # construction run in however few tasks the scan produced (one on
    # a single-file input) — guide §2.3/§2.4: project before the
    # exchange, share one exchange across same-keyed operations.
    docs_part = spread(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text")),
        "doc_id",
    )
    base = (
        docs_part.select(
            "doc_id",
            _doc_tokens(F.col("__text"), segment_cjk).alias("toks"),
        )
        .select(
            "doc_id",
            "toks",
            F.size("toks").alias("n_words"),
            F.length(F.array_join("toks", " ")).alias("total_chars"),
        )
    )

    # Tagged (n, gram) stream via posexplode + lead window instead of
    # the former flatten(array(transform × 4)) HOF chain (r16): higher-
    # order transforms run INTERPRETED with per-element struct
    # allocation — measured 4.0 s vs 1.4 s at sf0.1 for the full
    # signals chain — while posexplode, lead, concat_ws and the
    # 4-struct array below are all codegen.  Gram strings are
    # IDENTICAL (tokens + internal spaces): lead(k) is NULL exactly
    # beyond the document tail, so `g IS NULL` reproduces the old
    # `size(toks) >= n` guard gram-for-gram.  The window's clustering
    # (doc_id) is pre-satisfied by the repartition above — no
    # exchange; the sort is per-doc positions.
    from pyspark.sql import Window

    te = base.select("doc_id", F.posexplode("toks").alias("pos", "t0"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    led = te.select(
        "doc_id",
        "t0",
        *[F.lead("t0", k).over(w).alias(f"t{k}") for k in (1, 2, 3, 4)],
    )
    grams = (
        led.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(n).cast("int").alias("n"),
                            F.when(
                                F.col(f"t{n - 1}").isNotNull(),
                                F.concat_ws(
                                    " ", "t0", *[f"t{k}" for k in range(1, n)]
                                ),
                            ).alias("g"),
                        )
                        for n in (2, 3, 4, 5)
                    ]
                )
            ).alias("x"),
        )
        .filter(F.col("x.g").isNotNull())
        .select("doc_id", F.col("x.n").alias("n"), F.col("x.g").alias("g"))
    )

    per_gram = grams.groupBy("doc_id", "n", "g").agg(F.count(F.lit(1)).alias("c"))
    per_n = per_gram.groupBy("doc_id", "n").agg(
        F.max(F.col("c") * F.length("g")).alias("top_mass"),
        F.sum(
            F.when(F.col("c") >= 2, F.col("c") * F.length("g")).otherwise(F.lit(0))
        ).alias("dup_mass"),
    )
    wide = per_n.groupBy("doc_id").agg(
        F.max(F.when(F.col("n") == 2, F.col("top_mass"))).alias("top2gram_mass"),
        F.max(F.when(F.col("n") == 3, F.col("top_mass"))).alias("top3gram_mass"),
        F.max(F.when(F.col("n") == 4, F.col("top_mass"))).alias("top4gram_mass"),
        F.max(F.when(F.col("n") == 5, F.col("dup_mass"))).alias("dup5gram_mass"),
    )

    out = base.drop("toks").join(wide, "doc_id", "left")
    masses = ["top2gram_mass", "top3gram_mass", "top4gram_mass", "dup5gram_mass"]
    for m in masses:
        out = out.withColumn(m, F.coalesce(F.col(m), F.lit(0)).cast("bigint"))
    for m in masses:
        out = out.withColumn(
            m.replace("_mass", "_frac"),
            F.when(
                F.col("total_chars") > 0,
                F.col(m).cast("double") / F.col("total_chars").cast("double"),
            ),
        )
    return out


def repetition_filter(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    segment_cjk: bool = False,
) -> DataFrame:
    """Documents SURVIVING the Gopher repetition rules — every
    threshold applied as an integer cross-multiplication
    (``mass * den <= total_chars * num``), so the keep/drop boundary
    is exact on both engines.  Returns the signal columns of the
    survivors (join back to ``docs`` on ``doc_id`` for full rows)."""
    sig = repetition_signals(docs, text_col, id_col, segment_cjk=segment_cjk)
    cond = F.col("n_words") >= MIN_WORDS
    for n, (num, den) in TOP_NGRAM_LIMITS.items():
        cond = cond & (
            F.col(f"top{n}gram_mass") * den <= F.col("total_chars") * num
        )
    d_num, d_den = DUP_5GRAM_LIMIT
    cond = cond & (F.col("dup5gram_mass") * d_den <= F.col("total_chars") * d_num)
    return sig.filter(cond)
