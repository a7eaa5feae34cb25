"""Deduplication operators for the training-data pipeline surface
(BASELINE.json north star; run on the ``documents`` fixture).

The reference's only dedup is keyed dropDuplicates
(/root/reference/dags/etl.py:86) plus upsert-by-PK across daily runs
(:181-202).  The operators here extend that to content-level dedup:

- exact           : hash-groupBy on normalized text
- minhash_lsh     : shingle -> minhash signature -> band -> bucket join
- simhash         : 64-bit simhash + hamming-banded candidates
- ngram_jaccard   : exact n-gram Jaccard verification on candidate pairs

All pure DataFrame compositions of built-ins (split/transform/
aggregate/xxhash64/explode/groupBy) — no Python UDFs, no driver-side
loops.  Scale shape: one shuffle to band buckets, pairwise work only
WITHIN buckets (the LSH point), exact verification only on candidate
pairs.  That is the shape that survives 100 TB; all-pairs comparison
does not.
"""

from __future__ import annotations

import re as _re
from collections.abc import Iterable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_tiki_webscraping_spark.functions.text import tokenize_ws
from etl_tiki_webscraping_spark.session import spread

# ASCII whitespace split for Python kernels — the explicit RE2-\s class
# the DuckDB oracles use; str.split() would split on U+3000/NBSP and
# Java \s additionally matches U+000B (the udtf.py pitfall, ADVICE r13)
_WS_ASCII = _re.compile("[ \t\n\f\r]+")


def _ws_split_ascii(text: str) -> "list[str]":
    return [t for t in _WS_ASCII.split(text) if t]


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------

def normalize_text(col: Column | str) -> Column:
    """Canonical form for exact dedup: lowercase, collapse whitespace
    (explicit ``[ \\t\\n\\f\\r]`` class — RE2 ``\\s`` semantics, matching
    the DuckDB oracles; Java ``\\s`` also matches U+000B, ADVICE r13)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.lower(F.trim(c)), "[ \t\n\f\r]+", " ")


def cap_bucket_membership(
    buckets: DataFrame, bucket_keys: Sequence[str], cap: int | None
) -> DataFrame:
    """Hot-bucket guard for LSH candidate generation: DROP every bucket
    whose membership exceeds ``cap`` before the bucket self-join.

    A degenerate bucket — millions of empty docs shingling to the
    sentinel, a dense SRP cell, the all-zero SimHash chunk — produces
    O(|bucket|^2) candidate pairs in ONE task; at 100 TB a single
    pathological bucket stalls the whole stage.  Production MinHash
    pipelines cap or drop such buckets: a bucket bigger than ``cap``
    carries almost no discriminative signal (it pairs everything with
    everything), and members keep their recall through the OTHER
    bands/tables they hash into.  Exactly-identical texts are caught by
    :func:`exact_dedup` regardless.

    Plan shape: one ``count(*) over (partition by keys)`` window and a
    filter.  The window's exchange on the bucket key is the one the
    self-join needs, so both join sides reuse it and the rows upstream
    (a signature kernel) are computed once.  Rows with a NULL key are
    never capped: they cannot join.  Pass ``cap=None`` to disable.  Use
    :func:`hot_buckets` to observe what a cap would drop.
    """
    if cap is None:
        return buckets
    keys = list(bucket_keys)
    keep = F.col("__bucket_n") <= cap
    for k in keys:
        keep = keep | F.col(k).isNull()
    return (
        buckets.withColumn("__bucket_n", F.count(F.lit(1)).over(Window.partitionBy(*keys)))
        .filter(keep)
        .drop("__bucket_n")
    )


def hot_buckets(
    buckets: DataFrame, bucket_keys: Sequence[str], cap: int
) -> DataFrame:
    """Diagnostic: the (bucket key, membership) rows a ``cap`` would
    drop — count/log these when tuning ``bucket_cap`` on a new corpus."""
    keys = list(bucket_keys)
    return (
        buckets.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("members"))
        .filter(F.col("members") > cap)
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact content dedup: keep the lowest-id row per distinct
    normalized text.  Rows with NULL text are NOT candidates — they
    all pass through: ``md5(NULL)`` is NULL, ``groupBy`` treats NULLs
    as equal, and without the filter every NULL-text row (missing
    field, failed fetch) would land in ONE group with only ``min(id)``
    surviving — silently deleting rows that are not duplicates of
    anything.  (NULL != '' here: empty strings dedup among themselves;
    absent text is unknown content.)

    Shuffle discipline: the survivor election aggregates (md5, id)
    pairs only — 24-byte rows — and the winners semi-join back onto the
    full table.  A window over the hash would drag every document body
    through the shuffle; min-per-group is also a partial (map-side)
    aggregate, which row_number cannot be.  NULL-text pass-through is
    a COALESCE to a per-row synthetic key (``"\\0null:" || id`` — the
    NUL prefix cannot collide with 32-hex md5 output), NOT a
    filter/union split: branching the hashed stream would recompute
    the whole upstream lineage once per branch (measured 1.5x on the
    corpus capstone, whose upstream is the decontamination probe).
    """
    ids = (
        df.select(
            F.coalesce(
                F.md5(normalize_text(text_col)),
                F.concat(F.lit("\x00null:"), F.col(id_col).cast("string")),
            ).alias("__h"),
            F.col(id_col),
        )
        .groupBy("__h")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(ids, on=id_col, how="left_semi").select(*df.columns)


# --------------------------------------------------------------------------
# shingling + minhash
# --------------------------------------------------------------------------

def shingles_of_tokens(toks: Column, n: int) -> Column:
    """Distinct word n-gram shingles of an already-materialized token
    array column.  Prefer this over :func:`shingles` whenever the token
    array can live in its own projection: passing the tokenizer
    expression straight into the shingle transform makes Catalyst
    inline the split/lower chain into EVERY interpreted gram slice
    (the r16 word_ngrams lesson — measured 7x on the gram explode)."""
    if n == 1:
        # fast path: unigram shingles ARE the distinct tokens — skip the
        # interpreted sequence/slice/concat_ws chain entirely (empty docs
        # keep the [""] sentinel the general branch produces)
        return F.when(F.size(toks) >= 1, F.array_distinct(toks)).otherwise(
            F.array(F.lit(""))
        )
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    # short docs (< n tokens): fall back to the whole doc as one shingle
    return F.when(F.size(toks) >= n, F.array_distinct(grams)).otherwise(
        F.array(F.concat_ws(" ", toks))
    )


def shingles(col: Column | str, n: int = 3, segment_cjk: bool = False) -> Column:
    """Word n-gram shingle set (distinct).  ``segment_cjk=True`` routes
    tokenization through ``functions.text.tokenize_mixed`` so no-space
    scripts (CJK/Thai/...) shingle over character bigrams instead of
    collapsing each sentence to ONE token (which would make every
    same-length CJK doc pair Jaccard-0 and near-dup detection blind).

    NOTE: this inlines the tokenizer into the shingle transform —
    fine for one-shot column use, but materialize the token array in
    its own projection and call :func:`shingles_of_tokens` on any hot
    path (see that function's docstring)."""
    c = F.col(col) if isinstance(col, str) else col
    if segment_cjk:
        from etl_tiki_webscraping_spark.functions.text import tokenize_mixed

        toks = tokenize_mixed(F.lower(c))
    else:
        toks = tokenize_ws(F.lower(c))
    return shingles_of_tokens(toks, n)


MINHASH_PRIME = (1 << 31) - 1  # Mersenne prime 2^31-1


def minhash_hash_params(num_hashes: int = 64) -> "tuple[np.ndarray, np.ndarray]":
    """The fixed-seed universal-hash family (a_i, b_i) shared by the
    Arrow kernel AND the catalog's DuckDB oracle (which embeds these
    as literals, the language_id pattern) — one source of truth so the
    constants cannot drift between engines."""
    rng = np.random.default_rng(42)  # fixed: deterministic across runs/nodes
    a = rng.integers(1, MINHASH_PRIME, size=num_hashes, dtype=np.int64)
    b = rng.integers(0, MINHASH_PRIME, size=num_hashes, dtype=np.int64)
    return a, b


def minhash_analysis_udf(
    num_hashes: int = 64, shingle_n: int = 3, segment_cjk: bool = False
):
    """Arrow-vectorized tokenize→shingle→hash→signature kernel (the
    scale path): text → struct<sig: array<bigint>, hset: array<bigint>>.

    One pass per document: whitespace tokens, distinct word n-gram
    shingles, a stable 31-bit base hash per shingle (the first 4 md5
    bytes masked to 31 bits — process- and node-independent, and
    REPLAYABLE in ANSI SQL as ``('0x' || substr(md5(s), 1, 8))::BIGINT
    & 2147483647``, which is what upgraded the LSH catalog queries
    from rows-only to full DuckDB oracles in round 11), then the
    classic universal-hash family g_i(h) = (a_i*h + b_i) mod p with
    p = 2^31-1 as a numpy (num_hashes × n_shingles) broadcast +
    column-min.  Products stay under 2^62, so everything runs in
    native int64 — no object math.  ``hset`` (the sorted distinct
    shingle hashes) rides along so exact Jaccard verification
    downstream intersects bigint arrays JVM-side instead of
    re-shingling text.  Fusing the whole chain into one Arrow batch
    kernel replaced an interpreted higher-order-function pipeline that
    spent ~8 s shingling 5 k docs; per-partition, no shuffle.  31-bit
    hash space is ample for Jaccard estimation (collision rate
    ~n_shingles/2^31 per doc); md5 costs ~3x crc32 per shingle but the
    kernel is embarrassingly parallel and hashing is <10%% of its
    wall-clock.

    ``segment_cjk=True`` routes tokenization through the Python twin of
    ``functions.text.tokenize_mixed`` (r12 VERDICT ask #5): no-space
    scripts expand to overlapping character bigrams instead of
    collapsing each sentence to ONE token — without it, a CJK document
    pair differing by one sentence shares zero word-level shingles and
    near-dup detection is blind.  The twin is semantically identical to
    the Spark/DuckDB expression form, so the LSH oracles replay the CJK
    path too.
    """
    from hashlib import md5 as _md5

    from etl_tiki_webscraping_spark.functions.text import tokenize_mixed_py

    p = MINHASH_PRIME
    a, b = minhash_hash_params(num_hashes)
    a = a[:, None]
    b = b[:, None]

    @F.pandas_udf(f"struct<sig: array<bigint>, hset: array<bigint>>")
    def analyze(texts: pd.Series) -> pd.DataFrame:
        sigs, hsets = [], []
        for t in texts:
            if segment_cjk:
                toks = tokenize_mixed_py((t or "").lower())
            else:
                toks = _ws_split_ascii((t or "").lower())
            if len(toks) >= shingle_n:
                sh = {
                    " ".join(toks[i : i + shingle_n])
                    for i in range(len(toks) - shingle_n + 1)
                }
            else:
                sh = {" ".join(toks)}
            base = np.unique(
                np.fromiter(
                    (
                        int.from_bytes(_md5(s.encode()).digest()[:4], "big")
                        & 0x7FFFFFFF
                        for s in sh
                    ),
                    dtype=np.int64,
                    count=len(sh),
                )
            )
            hsets.append(base.tolist())
            g = (a * base[None, :] + b) % p  # (k, n) int64, no overflow
            sigs.append(g.min(axis=1).tolist())
        return pd.DataFrame({"sig": sigs, "hset": hsets})

    return analyze


def minhash_analysis(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    shingle_n: int = 3,
    segment_cjk: bool = False,
) -> DataFrame:
    """(id, sig, hset) per document — the shared input of candidate
    generation and verification.  At pipeline scale, checkpoint this to
    parquet once and feed both consumers from the checkpoint instead of
    recomputing the narrow scan.

    A small input is spread by id first (:func:`spread`, guide §2.5
    input-skew — a single-file corpus otherwise runs the whole kernel
    on ONE core).  Keying the exchange by id additionally makes every
    downstream id-keyed join/groupBy over the analysis exchange-free."""
    df = spread(df, F.col(id_col))
    udf = minhash_analysis_udf(num_hashes, shingle_n, segment_cjk)
    return df.select(
        F.col(id_col).alias("id"), udf(F.col(text_col)).alias("a")
    ).select("id", F.col("a.sig").alias("sig"), F.col("a.hset").alias("hset"))


def _band_buckets(sig_col: Column, bands: int, rows_per_band: int) -> Column:
    """Hash each band of the signature to one bucket id:
    array<struct<band:int, bucket:bigint>>.  The bucket is the first
    15 md5 hex digits (60 bits) of the band's comma-joined values —
    an 8-byte shuffle key exactly as the old xxhash64 form, but
    replayable in DuckDB as ``('0x' || substr(md5(str), 1, 15))::
    BIGINT`` (the round-11 oracle upgrade)."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                ",",
                                *[
                                    sig_col[b * rows_per_band + r].cast("string")
                                    for r in range(rows_per_band)
                                ],
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("bigint").alias("bucket"),
            )
            for b in range(bands)
        ]
    )


def minhash_candidate_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    bucket_cap: int | None = 1024,
) -> DataFrame:
    """LSH candidate pairs (id_a < id_b): docs sharing >=1 band bucket.

    Plan shape: narrow signature computation -> explode to (band,
    bucket) -> self-join within buckets.  The self-join shuffles both
    sides on (band, bucket) — small keys — and the pair blow-up is
    bounded by ``bucket_cap`` (oversized buckets dropped, see
    :func:`cap_bucket_membership`), not corpus size.
    """
    assert num_hashes % bands == 0, "bands must divide num_hashes"
    r = num_hashes // bands
    sig = minhash_analysis(df, text_col, id_col, num_hashes, shingle_n).select("id", "sig")
    buckets = sig.select("id", F.explode(_band_buckets(F.col("sig"), bands, r)).alias("bb")).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    buckets = cap_bucket_membership(buckets, ["band", "bucket"], bucket_cap)
    left = buckets.alias("l")
    right = buckets.alias("r")
    return (
        left.join(right, on=["band", "bucket"])
        .filter(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )


def minhash_candidate_pairs_cross(
    new_df: DataFrame,
    old_df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    bucket_cap: int | None = 1024,
) -> DataFrame:
    """LSH candidate pairs BETWEEN two corpora: ``(new_id, old_id)``
    where an incoming document shares >=1 band bucket with an existing
    one — the incremental-crawl near-dup primitive ("which new docs
    duplicate something already in the training set"), the cross-corpus
    analog of :func:`minhash_candidate_pairs`.

    Plan shape: each side computes signatures narrowly and explodes to
    bare ``(band, bucket, id)`` rows; the inner join shuffles only
    those small keys (document text never enters an exchange).  The
    hot-bucket cap is applied on EACH side before the join, so a
    degenerate bucket (empty docs, boilerplate) bounds the pair
    blow-up at ``cap`` per side instead of |new| x |old|.  At scale the
    old corpus's bucket table is computed once per crawl batch and
    persisted alongside the snapshot, not recomputed — the signature
    step is embarrassingly parallel either way.
    """
    assert num_hashes % bands == 0, "bands must divide num_hashes"
    r = num_hashes // bands

    def buckets_of(df: DataFrame, out_id: str) -> DataFrame:
        sig = minhash_analysis(df, text_col, id_col, num_hashes, shingle_n).select("id", "sig")
        b = sig.select(
            "id", F.explode(_band_buckets(F.col("sig"), bands, r)).alias("bb")
        ).select(
            F.col("id").alias(out_id),
            F.col("bb.band").alias("band"),
            F.col("bb.bucket").alias("bucket"),
        )
        return cap_bucket_membership(b, ["band", "bucket"], bucket_cap)

    new_b = buckets_of(new_df, "new_id")
    old_b = buckets_of(old_df, "old_id")
    return (
        new_b.join(old_b, on=["band", "bucket"])
        .select("new_id", "old_id")
        .distinct()
    )


def jaccard_on_pairs(
    pairs: DataFrame,
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs: join shingle sets back
    on both ids, intersect/union sizes.  Only candidate pairs pay the
    set comparison cost.

    Deliberately NOT persisted (r17, measured): pinning the shingle
    table for the two join legs trades a cheap narrow recompute for a
    corpus-sized cache (all shingle arrays) plus a serializing cache-
    materialization stage — measured net-slower at fixture scale, and
    at 100 TB the disk round-trip of the cache costs more than
    re-deriving shingles from the scan.  Instead, a small input's text
    is spread by id (:func:`spread`, guide §2.5): both legs' shingle
    builds parallelize past however few splits the scan produced, the
    id-keyed joins reuse that partitioning, and because the two legs'
    repartition subtrees are identical, ReuseExchange ships the text
    once.
    """
    base = spread(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t")), "id"
    )
    sh = base.select("id", shingles("__t", shingle_n).alias("sh"))
    return (
        pairs.join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), on="id_a")
        .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), on="id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
                / F.size(F.array_union("sh_a", "sh_b")).cast("double")
            ).alias("jaccard"),
        )
    )


def minhash_duplicate_edges(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    bucket_cap: int | None = 1024,
    segment_cjk: bool = False,
) -> DataFrame:
    """Verified near-duplicate edges ``(id_a < id_b)``: MinHash-LSH
    candidates filtered by exact n-gram Jaccard >= threshold.
    ``segment_cjk=True`` shingles over mixed-script tokens (character
    bigrams for no-space-script runs) — see :func:`minhash_analysis_udf`.

    Scale shape: the band explode and bucket self-join shuffle BARE IDS
    (8-byte hashes + ids, never documents or shingle sets); buckets
    with more than ``bucket_cap`` members are dropped before the
    self-join (see :func:`cap_bucket_membership` — the O(|bucket|^2)
    guard); candidate pairs are DISTINCT'd before verification so a
    pair sharing k bands is verified once, not k times (a
    near-dup-heavy corpus shares most bands — worst case is exactly
    where redundant verification would hurt most); then the
    shingle-hash sets join back once for the exact Jaccard check.
    """
    assert num_hashes % bands == 0, "bands must divide num_hashes"
    r = num_hashes // bands
    analysis = minhash_analysis(
        df, text_col, id_col, num_hashes, shingle_n, segment_cjk=segment_cjk
    )
    buckets = analysis.select(
        "id", F.explode(_band_buckets(F.col("sig"), bands, r)).alias("bb")
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    buckets = cap_bucket_membership(buckets, ["band", "bucket"], bucket_cap)
    cand = (
        buckets.alias("l")
        .join(buckets.alias("r"), on=["band", "bucket"])
        .filter(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )
    hs = analysis.select("id", "hset")
    return (
        cand.join(hs.withColumnRenamed("id", "id_a").withColumnRenamed("hset", "h_a"), on="id_a")
        .join(hs.withColumnRenamed("id", "id_b").withColumnRenamed("hset", "h_b"), on="id_b")
        .filter(
            F.size(F.array_intersect("h_a", "h_b")).cast("double")
            / F.size(F.array_union("h_a", "h_b")).cast("double")
            >= threshold
        )
        .select("id_a", "id_b")
    )


def minhash_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    exact_components: bool = False,
    bucket_cap: int | None = 1024,
    segment_cjk: bool = False,
) -> DataFrame:
    """Near-dup removal over verified MinHash-LSH duplicate edges.
    ``segment_cjk=True`` makes the shingle stream CJK-aware (see
    :func:`minhash_analysis_udf`) so no-space-script near-dup pairs are
    actually caught.

    Two survivor rules:

    - default (single-pass): drop the higher id of each duplicate pair
      — a doc is dropped if it is near-identical to ANY lower-id doc.
      No iteration; the cheap corpus-dedup default.  It can keep two
      docs that are only transitively similar (a~c, b~c but a!~b keeps
      both a and b).
    - ``exact_components=True``: run min-id connected components over
      the verified edges and keep exactly ONE doc (the min id) per
      duplicate cluster, so a~b~c chains collapse to a single survivor
      even when the endpoints are not directly similar.  Costs
      O(diameter) extra bare-id shuffles (see connected_components).
    """
    edges = minhash_duplicate_edges(
        df, text_col, id_col, threshold, num_hashes, bands, shingle_n,
        bucket_cap, segment_cjk=segment_cjk,
    )
    if exact_components:
        comps = connected_components(edges)
        dups = comps.filter(F.col("id") != F.col("component")).select(
            F.col("id").alias(id_col)
        )
    else:
        dups = edges.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(dups, on=id_col, how="left_anti")


# --------------------------------------------------------------------------
# connected components over duplicate edges
# --------------------------------------------------------------------------

def _local_union_find(edges: DataFrame) -> DataFrame:
    """Partition-local union-find over an edge list ``(id_a, id_b)``:
    each task unions every edge it holds (path-halving, min-id roots)
    and emits ``(id, root)`` for every node it saw.  One Arrow pass,
    zero shuffles; memory is O(nodes per partition).
    """

    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for batch in batches:
            for a, b in zip(batch["id_a"], batch["id_b"]):
                a, b = int(a), int(b)
                parent.setdefault(a, a)
                parent.setdefault(b, b)
                ra, rb = find(a), find(b)
                if ra != rb:
                    if rb < ra:
                        ra, rb = rb, ra
                    parent[rb] = ra  # min id becomes the root
        if parent:
            nodes = list(parent)
            yield pd.DataFrame({"id": nodes, "root": [find(x) for x in nodes]})

    return edges.mapInPandas(run, "id bigint, root bigint")


# below this many edges a single-partition union-find is exact and
# cheaper than any distributed round (patchable in tests to force the
# contraction path on small fixtures)
_CC_LOCAL_THRESHOLD = 100_000


def connected_components(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Connected components over an undirected edge list ``(id_a, id_b)``
    by iterated partition-local contraction: each round runs union-find
    INSIDE every partition (one Arrow pass, no shuffle), rewrites the
    surviving inter-partition edges onto the local roots, and recurses
    on that strictly-smaller boundary graph until no edges remain.

    Returns ``(id, component)`` for every node that appears in an edge;
    ``component`` is the minimum id of the node's component.

    Scale shape: the expensive work (union-find) is embarrassingly
    parallel and shuffle-free; only BOUNDARY edges — edges whose
    endpoints landed in different partitions — survive a round, so the
    graph contracts geometrically (a random edge partition kills the
    fraction of edges that are partition-internal; as the graph shrinks
    it is repartitioned onto fewer partitions, raising that fraction
    toward 1).  Near-dup clusters resolve in 2-3 rounds; each round is
    one mapInPandas pass + two bare-id joins.  This is the
    contraction-hierarchy shape of MapReduce CC algorithms
    (Kiveris et al.) rather than O(diameter) label propagation, which
    an adversarial chain of consecutive near-identical docs stretches
    to hundreds of rounds.  Lineage is truncated per round via
    ``localCheckpoint``.

    Small graphs short-circuit: once the edge list fits one task
    (<= ``local_threshold``), a single-partition union-find is exact by
    construction, so the boundary iteration — and its per-round job
    overhead — is skipped entirely.  This is the local-solve fallback
    every distributed CC implementation carries; the contraction path
    is the >threshold scale path.
    """
    # materialize the edge list once: round 1 otherwise recomputes the
    # (possibly expensive — LSH) edge lineage for the union-find pass
    # AND both re-label joins
    cur = pairs.select("id_a", "id_b").localCheckpoint(eager=True)
    if cur.count() <= _CC_LOCAL_THRESHOLD:
        return _local_union_find(cur.coalesce(1)).select(
            "id", F.col("root").alias("component")
        )
    mappings: list[DataFrame] = []
    for _ in range(max_iter):
        # a node seen by several partitions emits one row per partition;
        # keep one root per node (min).  Connectivity survives: such a
        # node has an edge into every local set it appeared in, and those
        # edges rewrite into boundary edges between the sets' roots.
        mapping = (
            _local_union_find(cur)
            .groupBy("id")
            .agg(F.min("root").alias("root"))
            .localCheckpoint(eager=True)
        )
        mappings.append(mapping)
        ra = mapping.withColumnRenamed("id", "id_a").withColumnRenamed("root", "__ra")
        rb = mapping.withColumnRenamed("id", "id_b").withColumnRenamed("root", "__rb")
        cur = (
            cur.join(ra, on="id_a")
            .join(rb, on="id_b")
            .filter(F.col("__ra") != F.col("__rb"))
            .select(F.col("__ra").alias("id_a"), F.col("__rb").alias("id_b"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        n_left = cur.count()
        if n_left == 0:
            break
        # shrink the partition count with the graph so the next round's
        # union-find sees denser locality (tail rounds: one partition)
        cur = cur.repartition(max(1, n_left // 100_000))
    else:
        # exhausting max_iter with boundary edges left would compose a
        # hierarchy that labels CONNECTED nodes with different
        # components — silently wrong dedup clusters.  Loud failure
        # instead; each contraction at least halves the boundary graph
        # in practice, so hitting this means a pathological input, not
        # a tuning problem.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            f"contraction rounds ({n_left} boundary edges remain); "
            "raise max_iter"
        )

    # compose the contraction hierarchy top-down: the deepest roots are
    # final; each shallower mapping re-labels through the level above it
    comp = mappings[-1].select("id", F.col("root").alias("component"))
    for mapping in reversed(mappings[:-1]):
        above = comp.withColumnRenamed("id", "root")
        comp = (
            mapping.join(above, on="root", how="left")
            .select("id", F.coalesce("component", F.col("root")).alias("component"))
        )
    return comp


# --------------------------------------------------------------------------
# simhash
# --------------------------------------------------------------------------

def simhash64_udf():
    """Arrow-vectorized SimHash kernel: stable 64-bit token hashes
    (first 8 md5 bytes big-endian — node-independent AND replayable in
    ANSI SQL as ``('0x' || substr(md5(tok), 1, 16))::UBIGINT``, which
    is what upgraded dedup_simhash from rows-only to a full DuckDB
    oracle in round 11; was blake2b before the upgrade), numpy
    bit-matrix votes, sign-packed into one signed int64 — one batch
    kernel per Arrow chunk instead of an interpreted 64-wide fold per
    token."""
    from hashlib import md5 as _md5

    shifts = np.arange(64, dtype=np.uint64)

    @F.pandas_udf("bigint")
    def sh(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            toks = _ws_split_ascii((t or "").lower())
            if not toks:
                out.append(0)
                continue
            h = np.fromiter(
                (
                    int.from_bytes(_md5(s.encode()).digest()[:8], "big")
                    for s in toks
                ),
                dtype=np.uint64,
                count=len(toks),
            )
            bits = ((h[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int64)
            votes = (bits * 2 - 1).sum(axis=0)
            packed = int(((votes > 0).astype(np.uint64) << shifts).sum(dtype=np.uint64))
            out.append(packed - (1 << 64) if packed >= (1 << 63) else packed)
        return pd.Series(out, dtype="int64")

    return sh


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit hashes (bit_count of xor)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_candidate_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    bucket_cap: int | None = 1024,
) -> DataFrame:
    """Near-dup candidates by SimHash: band the 64-bit hash into 4
    16-bit chunks; by pigeonhole, any pair within hamming distance 3
    shares at least one exact chunk.  Join within chunk buckets, then
    verify the full hamming distance.

    Chunk buckets larger than ``bucket_cap`` are dropped before the
    self-join (:func:`cap_bucket_membership`): a mass of byte-identical
    docs all hashes to ONE simhash, putting the whole mass in the same
    4 buckets and exploding the join quadratically — and exact
    duplicates are :func:`exact_dedup`'s job, not SimHash's.

    ``max_hamming`` is capped at 3: the fixed 4-chunk banding only
    GUARANTEES a shared chunk up to distance 3 (pigeonhole) — a larger
    value would silently miss qualifying pairs that differ in all four
    chunks, a filter that appears to honor the parameter but loses
    recall.  (d differing bits need d+1 bands; the 8-band image-hash
    variant covers d <= 7.)
    """
    if not 0 <= max_hamming <= 3:
        raise ValueError(
            "max_hamming must be in [0, 3]: the 4-chunk banding only "
            "guarantees candidate generation up to hamming distance 3"
        )
    sh = df.select(F.col(id_col).alias("id"), simhash64_udf()(F.col(text_col)).alias("sh"))
    chunks = sh.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftright(F.col("sh"), 16 * i).bitwiseAND(F.lit(0xFFFF)).alias("val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select("id", "sh", F.col("c.chunk").alias("chunk"), F.col("c.val").alias("val"))
    chunks = cap_bucket_membership(chunks, ["chunk", "val"], bucket_cap)
    l, r = chunks.alias("l"), chunks.alias("r")
    return (
        l.join(r, on=["chunk", "val"])
        .filter(F.col("l.id") < F.col("r.id"))
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            hamming64(F.col("l.sh"), F.col("r.sh")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def setsim_prefix_join(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    threshold_num: int,
    threshold_den: int,
    shingle_n: int = 1,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (the
    AllPairs/PPJoin candidate generation, VLDB's standard exact
    algorithm): every pair of documents with token-set Jaccard
    ``>= threshold_num / threshold_den`` — no LSH false negatives, no
    all-pairs blow-up.

    The threshold is a RATIONAL, and every pruning and verification
    decision is integer arithmetic (``den * inter >= num * union``),
    so the result is bit-exact and replayable on any engine — a float
    ``t * len`` comparison at a boundary (0.6 * 5 = 3.0000...04)
    would silently drop true pairs.

    Candidate generation: tokens order globally by (document
    frequency, token) ascending — rarest first — and each document
    exposes only its first ``len - ceil(t * len) + 1`` tokens as its
    PREFIX.  Sharing >= 1 prefix token is NECESSARY for Jaccard >= t
    (if all shared tokens hide in the last ceil(t*len)-1 positions,
    the intersection is provably < t * union), so joining prefix to
    prefix finds every qualifying pair while high-frequency tokens —
    the fan-out killers — almost never enter a prefix.  A length
    filter (``den * |B| >= num * |A|``) prunes incompatible sizes
    inside the same join.

    Scale shape: three token-keyed shuffles (document frequency,
    prefix self-join, intersection count), all carrying bare
    (id, token) rows — document text never shuffles; the prefix join
    is the only quadratic term and its per-token fan-out is bounded
    by the rarest-first ordering.  Verification counts shared tokens
    per surviving pair and applies the integer Jaccard test.

    Returns (id_a, id_b, inter, union_sz) with id_a < id_b; callers
    derive the float ratio if they want one.
    """
    if not (0 < threshold_num <= threshold_den):
        raise ValueError("threshold must satisfy 0 < num/den <= 1")
    num, den = int(threshold_num), int(threshold_den)

    # Shingle ARRAYS, one row per doc (r16 reshape).  The
    # former shape exploded to (id, token) rows first and then rebuilt
    # the per-doc arrays with a collect_list groupBy — paying an extra
    # id-keyed exchange of every token just to recover what the
    # shingle transform already produced.  Keeping the array form as
    # the root gives sizes (F.size) and both verify legs
    # with NO exchange at all; only dfreq/ranked explode it.  On a
    # small input the id-keyed raw-text spread up front (a)
    # parallelizes the shingle transform past however few splits the
    # scan produced and (b) pre-satisfies every id-keyed clustering
    # downstream (guide §2.3/§2.4).  Tokens materialize in their own
    # projection so the tokenizer isn't re-inlined into every
    # interpreted gram slice
    # (shingles_of_tokens contract — measured 7x on word_ngrams).
    # shingles emit array_distinct arrays, so the exploded (id, token)
    # stream is already unique per doc — no distinct shuffle needed.
    sh = (
        spread(
            docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text")),
            "id",
        )
        .select("id", tokenize_ws(F.lower(F.col("__text"))).alias("__tok"))
        .select(
            "id", shingles_of_tokens(F.col("__tok"), shingle_n).alias("tok")
        )
    )
    sizes = sh.select("id", F.size("tok").alias("sz"))
    toks = sh.select("id", F.explode("tok").alias("token"))
    dfreq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("df"))

    w = Window.partitionBy("id").orderBy("df", "token")
    ranked = (
        toks.join(dfreq, "token")
        .withColumn("rn", F.row_number().over(w))
        .join(sizes, "id")
    )
    # prefix length = sz - ceil(num*sz/den) + 1, all-integer ceil
    prefix = ranked.filter(
        F.col("rn")
        <= F.col("sz") - F.expr(f"(({num} * sz) + {den} - 1) DIV {den}") + 1
    ).select("id", "token", "sz")

    a = prefix.select(
        F.col("id").alias("id_a"), "token", F.col("sz").alias("sz_a")
    )
    b = prefix.select(
        F.col("id").alias("id_b"), "token", F.col("sz").alias("sz_b")
    )
    cand = (
        a.join(b, "token")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            # Jaccard >= t forces den*min_sz >= num*max_sz
            & (den * F.col("sz_b") >= num * F.col("sz_a"))
            & (den * F.col("sz_a") >= num * F.col("sz_b"))
        )
        .select("id_a", "id_b")
        .distinct()
    )

    # verification: join each candidate pair to the two token ARRAYS
    # and intersect in codegen — an exploded (pair x token) join would
    # amplify |cand| by tokens-per-doc before matching (100x row blowup
    # measured at sf0.1); this shape shuffles each pair with one array
    # per side, so verify cost is O(|cand| * doc_len), never
    # O(|cand| * doc_len) ROWS through an exchange.  Both legs read
    # the shingle arrays directly (id-partitioned, so only
    # the candidate side exchanges — r16).
    aa = sh.select(
        F.col("id").alias("id_a"), F.col("tok").alias("tok_a"),
        F.size("tok").alias("sz_a"),
    )
    ab = sh.select(
        F.col("id").alias("id_b"), F.col("tok").alias("tok_b"),
        F.size("tok").alias("sz_b"),
    )
    return (
        cand.join(aa, "id_a")
        .join(ab, "id_b")
        .withColumn(
            "inter", F.size(F.array_intersect("tok_a", "tok_b")).cast("bigint")
        )
        .withColumn("union_sz", F.col("sz_a") + F.col("sz_b") - F.col("inter"))
        .filter(den * F.col("inter") >= num * F.col("union_sz"))
        .select("id_a", "id_b", "inter", "union_sz")
    )


# position encoder base for winnowing fingerprints: the (hash, pos)
# pair packs into ONE bigint (h * BASE + pos) so the window minimum —
# lexicographic on (hash, then leftmost position) — is a plain
# array_min; 2^20 supports documents up to ~1M chars with the 32-bit
# hash still fitting bigint (h * 2^20 < 2^52)
_WINNOW_BASE = 1 << 20


def winnow_fingerprints(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 16,
    w: int = 8,
    with_grams: bool = False,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every character ``k``-gram of
    the normalized text, slide a window of ``w`` consecutive gram
    hashes, and keep each window's minimum.  GUARANTEE: any substring
    of length >= k + w - 1 shared by two documents yields at least one
    shared fingerprint — the span-level dedup primitive (contaminated
    boilerplate, quoted passages, licence blocks) that set-level
    Jaccard and MinHash cannot see, because a 40-char copied span
    barely moves whole-document similarity.

    The gram hash is the md5-prefix integer (engine-portable, same
    construction as :func:`deterministic_stratified_sample`), so an
    oracle replays fingerprint selection bit-exactly.  Fingerprints
    are (id, h, pos) rows: positions ride along for span verification;
    selection density is ~2/(w+1) of gram count.  Documents shorter
    than k + w - 1 normalized chars emit nothing (no span of guarantee
    length exists).  Pure built-in expressions per document — no
    shuffle at all until a consumer joins.

    ``with_grams=True`` additionally attaches the actual k-char gram
    at each fingerprint position (one id-keyed join carrying each
    document's text ONCE, immediately projected down to the k-char
    gram).  A gram-carrying fingerprint store is SELF-CONTAINED for
    collision verification: consumers compare grams on the hash join
    directly, so no verification stage ever shuffles full document
    text — and an incremental base store (see
    :func:`contaminated_new_docs`) never needs the base corpus text
    retained at all.  Cost: +k chars per fingerprint row, at ~2/(w+1)
    fingerprints per char that is ~2k/(w+1) bytes per corpus char in
    the STORE, while the winnow window exchange itself stays bare.
    """
    if k < 2 or w < 1:
        raise ValueError("need k >= 2 and w >= 1")
    # RELATIONAL winnowing, not nested array expressions: a
    # transform-inside-transform formulation re-evaluates the whole
    # md5 chain per window element (interpreted higher-order functions
    # get no common-subexpression elimination — measured minutes on
    # 100 docs), so grams EXPLODE to rows (one md5 each) and the
    # window minimum is a per-document sliding ROWS frame — one
    # id-keyed sort, linear work, and the winnow min is a plain
    # aggregate the optimizer understands.
    norm = docs.select(
        F.col(id_col).alias("id"), normalize_text(text_col).alias("t")
    ).filter(
        (F.length("t") >= k + w - 1)
        # positions pack into the low bits of the encoded fingerprint;
        # a document longer than the encoder base would silently
        # corrupt hashes, so such docs are excluded (chunk them first
        # — doc_chunking — or raise _WINNOW_BASE)
        & (F.length("t") < _WINNOW_BASE)
    )
    # on a small input (spread leaves a large one as it arrives), an
    # id-keyed exchange of RAW TEXT (~1 byte/char), placed BEFORE the
    # gram explode: the winnow window below requires clustering by id
    # anyway, and without this the exchange lands AFTER the explode —
    # carrying (id, n_grams, i, enc) rows at ~36 bytes PER CHARACTER
    # (~30x the bytes) — while the per-gram md5 chain runs in however
    # few tasks the scan produced (ONE task on a single-file input:
    # guide §2.5 input-skew, §2.3 project-before-the-exchange).  Any
    # hashpartitioning(id, n) satisfies the window's ClusteredDistri-
    # bution(id), so no second exchange appears (r16, plan-audited).
    norm = spread(norm, "id")
    grams = norm.select(
        "id",
        (F.length("t") - (k - 1)).alias("n_grams"),
        F.explode(F.sequence(F.lit(1), F.length("t") - (k - 1))).alias("i"),
        F.col("t"),
    ).select(
        "id",
        "n_grams",
        "i",
        (
            F.conv(
                F.substring(F.md5(F.substr(F.col("t"), F.col("i"), F.lit(k))), 1, 8),
                16,
                10,
            ).cast("bigint")
            * _WINNOW_BASE
            + F.col("i")
        ).alias("enc"),
    )
    win = (
        Window.partitionBy("id").orderBy("i").rowsBetween(0, w - 1)
    )
    fps = (
        grams.withColumn("wmin", F.min("enc").over(win))
        .filter(F.col("i") <= F.col("n_grams") - (w - 1))
        .select("id", "wmin")
        .distinct()
        .select(
            "id",
            (F.col("wmin") / _WINNOW_BASE).cast("bigint").alias("h"),
            (F.col("wmin") % _WINNOW_BASE).cast("int").alias("pos"),
        )
    )
    if not with_grams:
        return fps
    return fps.join(norm, "id").select(
        "id", "h", "pos", F.substr(F.col("t"), F.col("pos"), F.lit(k)).alias("gram")
    )


def substring_dup_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 16,
    w: int = 8,
    min_shared: int = 1,
) -> DataFrame:
    """Span-level duplicate detection: document pairs sharing >=
    ``min_shared`` VERIFIED winnowing fingerprints — i.e. pairs that
    provably contain identical character spans (every span >=
    k + w - 1 chars is caught; shorter copies may be).

    Scale shape: the fingerprint inverted index carries its own
    k-char gram per row (``winnow_fingerprints(with_grams=True)`` —
    each document's text crosses ONE id-keyed join and is immediately
    cut down to grams), so the hash-keyed candidate join verifies by
    gram equality inline — killing 32-bit collisions without ever
    shuffling document text: every verification exchange carries at
    most (id, h, k chars).  No all-pairs stage anywhere; fan-out per
    hash is bounded by how many documents genuinely share that span
    (cap pathological boilerplate hashes upstream with
    :func:`cap_bucket_membership` on ``h`` if a corpus has them).

    Returns (id_a, id_b, shared) with id_a < id_b, ``shared`` =
    distinct verified fingerprint hashes in common.
    """
    fps = winnow_fingerprints(docs, id_col, text_col, k, w, with_grams=True)
    a = fps.select(
        F.col("id").alias("id_a"), "h", F.col("gram").alias("gram_a")
    )
    b = fps.select(
        F.col("id").alias("id_b"), "h", F.col("gram").alias("gram_b")
    )
    verified = a.join(b, "h").filter(
        (F.col("id_a") < F.col("id_b")) & (F.col("gram_a") == F.col("gram_b"))
    )
    return (
        verified.groupBy("id_a", "id_b")
        .agg(F.count_distinct(F.col("h")).alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


def contaminated_new_docs(
    new_docs: DataFrame,
    base_fps: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 16,
    w: int = 8,
    min_shared: int = 1,
) -> DataFrame:
    """Ingest-time span-contamination check: which NEW documents
    contain a character span (>= k + w - 1 chars, the winnowing
    guarantee) already present in the base corpus — the incremental
    consumer of :func:`winnow_fingerprints`, mirroring
    ``incremental_postings_bm25`` / ``incremental_dedup_new_docs``:
    the base corpus is represented ONLY by its PERSISTED gram-carrying
    fingerprint store (``base_fps``: id/h/pos/gram rows from
    ``winnow_fingerprints(with_grams=True)``, appended batch-by-batch)
    — the base is never re-fingerprinted per batch, and the base
    TEXT never needs to be retained or joined at probe time: the
    store's k-char grams are the collision-verification payload.

    Join shape: batch fingerprints (small side) against the store on
    the hash with inline gram-equality verification, then one
    aggregate per (new doc, base doc) — no exchange anywhere carries
    more than (id, h, k chars).  Returns (new_id, base_id, shared)
    with ``shared`` = distinct verified fingerprints in common,
    filtered to >= ``min_shared``.
    """
    fps_new = winnow_fingerprints(
        new_docs, id_col, text_col, k, w, with_grams=True
    )
    a = fps_new.select(
        F.col("id").alias("new_id"), "h", F.col("gram").alias("gram_new")
    )
    b = base_fps.select(
        F.col("id").alias("base_id"), "h", F.col("gram").alias("gram_base")
    )
    verified = a.join(b, "h").filter(F.col("gram_new") == F.col("gram_base"))
    return (
        verified.groupBy("new_id", "base_id")
        .agg(F.count_distinct(F.col("h")).alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


def winnow_coverage(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 16,
    w: int = 8,
) -> DataFrame:
    """Span-dedup COVERAGE report: how every document routes through
    :func:`winnow_fingerprints` — the observability twin of the two
    silent exclusion filters there, so corpus-level coverage loss is a
    number in a report instead of rows that quietly vanish.

    Statuses (disjoint, every doc counted exactly once):
    - ``fingerprinted``          — in the guarantee regime
    - ``too_short``              — normalized length < k + w - 1 (or
      the text is NULL — fingerprints emit nothing for it, exactly
      like a too-short doc): no span of guarantee length exists, but
      the count shows how much of the corpus the guarantee cannot
      cover
    - ``oversize_quarantined``   — normalized length >= the position-
      encoder base (would corrupt packed fingerprints): ROUTE THESE
      THROUGH :func:`doc_chunking` first and fingerprint the chunks,
      or raise ``_WINNOW_BASE``

    NULL text needs its own branch: a NULL normalized length makes
    BOTH range conditions NULL (falsy), which would fall through to
    the ``otherwise`` and claim the doc as fingerprinted — the exact
    silent-exclusion bug this report exists to surface.

    One projection + one tiny groupBy (status cardinality 3); returns
    (status, n_docs, total_chars) ordered by status.
    """
    n = F.coalesce(F.length(normalize_text(text_col)), F.lit(0))
    status = (
        F.when(n >= _WINNOW_BASE, F.lit("oversize_quarantined"))
        .when(n < k + w - 1, F.lit("too_short"))
        .otherwise(F.lit("fingerprinted"))
    )
    return (
        docs.select(status.alias("status"), n.alias("n"))
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n").cast("bigint").alias("total_chars"),
        )
        .orderBy("status")
    )
