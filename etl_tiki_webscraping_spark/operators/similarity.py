"""Embedding similarity search (BASELINE.json north star; run on the
``embeddings`` fixture: vec_id bigint, embedding array<float>, label int).

Three tiers, in increasing scale:

- brute_force_topk : exact cosine top-k, queries broadcast against the
  corpus.  Baseline + oracle-checkable.  Right answer when
  |queries| * |corpus| pairs fit the cluster (it parallelizes
  perfectly — no shuffle except the final per-query top-k).
- lsh_topk : random-hyperplane (signed random projection) bucketing;
  only same-bucket pairs are scored.  Approximate; recall tunable by
  number of tables/bits.  The 100-TB path for all-pairs-ish workloads.
- ivf_topk : inverted-file index — assign vectors to nearest of C
  centroids (one narrow pass), probe the nprobe nearest cells per
  query.  The classic billion-vector layout (FAISS IVF) expressed
  relationally: cell assignment is a column, probing is a semi-join.

Everything is built-in array functions (zip_with/aggregate) — the dot
products run inside codegen, Python never touches a vector.

Embedding cosine near-dup (dedup tier): ``cosine_dedup_pairs`` reuses
the LSH bucketing to find pairs with cosine >= threshold.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_tiki_webscraping_spark.operators.relational import top_k_per_group


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<numeric> columns, JVM-side."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    """Exact JVM cosine; NULL when either vector has zero norm
    (cosine is undefined there).  ``try_divide`` rather than ``/``:
    under the session's ANSI mode a bare double division THROWS
    DIVIDE_BY_ZERO, so one zero-norm embedding (failed encode,
    padding row) would abort the whole query instead of being
    excluded.  NULL then drops through ``>=`` filters and sorts
    NULLS LAST under desc — the same exclusion the Arrow
    ``ivf_assign`` scorer implements."""
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def as_double_vec(a: Column | str) -> Column:
    """Cast array<float> -> array<double> up front so every arithmetic
    step is double-precision (and matches external oracles)."""
    c = F.col(a) if isinstance(a, str) else a
    return F.transform(c, lambda x: x.cast("double"))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k per query: broadcast the (small) query set,
    score every corpus vector, window top-k per query.

    Plan: one narrow broadcast-nested-loop scoring pass over the corpus
    (perfectly parallel, no shuffle) + one shuffle on query_id for the
    top-k.  Ties broken by neighbor id for determinism.
    """
    q = queries.select(
        F.col(query_id_col).alias("__qid"), as_double_vec(vec_col).alias("__qvec")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), as_double_vec(vec_col).alias("__cvec"))
    scored = c.crossJoin(F.broadcast(q)).select(
        F.col("__qid").alias(query_id_col),
        "neighbor_id",
        cosine(F.col("__qvec"), F.col("__cvec")).alias("cosine"),
    ).filter(F.col("cosine").isNotNull())  # zero-norm rows are not neighbors
    return top_k_per_group(
        scored, [query_id_col], [F.col("cosine").desc(), F.col("neighbor_id").asc()], k
    )


# --------------------------------------------------------------------------
# LSH: signed random projections, deterministic pseudo-random hyperplanes
# --------------------------------------------------------------------------

def srp_buckets_udf(tables: int, bits: int):
    """Arrow-vectorized signed-random-projection bucketing,
    SQL-REPLAYABLE end to end.

    Hyperplanes are md5-derived Rademacher (+-1) vectors — plane j
    (j = table*bits + bit) has entry +1 at dimension d iff the first
    60 bits of md5(f"{j}:{d}") are even — and every vector quantizes
    to exact integer units ``floor(v * 1e6 + 0.5)`` before projecting,
    so each sign decision is an exact int64 dot (no float ULP can flip
    a bucket bit) and an external SQL engine replays the bucket ids
    bit-for-bit (see the ``knn_lsh`` / ``dedup_embedding_cosine``
    oracles in plans/catalog.py — the r3 ``language_id`` seeded-hash
    upgrade pattern applied to SRP).  Rademacher entries are a standard
    sign-random-projection family: the angle-preserving property needs
    only a symmetric entry distribution, and +-1 is the form a SQL
    replay can express as a CASE over md5.

    Planes derive lazily from the observed vector dimension INSIDE the
    worker — same dim gives identical planes on every executor and
    every run, with no stored model and no driver-side dimension probe
    (which would cost an extra job per invocation).  Whole Arrow batch
    of vectors projects in one (n x dim) @ (dim x tables*bits) int64
    matmul (|unit| < 2^40 per element leaves 4096 dims of exact-sum
    headroom); sign bits pack into one bucket id per table.  Returns
    array<bigint> of length ``tables``.  This replaces an interpreted
    per-element expression fold ~100x slower; per-partition, no
    shuffle.
    """
    import hashlib

    weights = (1 << np.arange(bits - 1, -1, -1)).astype(np.int64)
    plane_cache: dict[int, np.ndarray] = {}

    def planes_for(dim: int) -> np.ndarray:
        if dim not in plane_cache:
            s = np.empty((dim, tables * bits), np.int64)
            for j in range(tables * bits):
                for d in range(dim):
                    h = int(hashlib.md5(f"{j}:{d}".encode()).hexdigest()[:15], 16)
                    s[d, j] = 1 if h % 2 == 0 else -1
            plane_cache[dim] = s
        return plane_cache[dim]

    @F.pandas_udf("array<bigint>")
    def buckets(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])  # (n, dim)
        units = np.floor(mat * 1e6 + 0.5).astype(np.int64)
        planes = planes_for(mat.shape[1])
        signs = (units @ planes >= 0).astype(np.int64).reshape(len(mat), tables, bits)
        ids = signs @ weights  # (n, tables)
        return pd.Series(list(ids))

    return buckets


def _with_srp_buckets(df: DataFrame, vec_col: str, tables: int, bits: int) -> DataFrame:
    """Attach (table, bucket) rows: posexplode of the per-table bucket
    array from the vectorized kernel."""
    udf = srp_buckets_udf(tables, bits)
    return (
        df.withColumn("__buckets", udf(F.col(vec_col)))
        .select("*", F.posexplode("__buckets").alias("table", "bucket"))
        .drop("__buckets")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    tables: int = 8,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: score only corpus vectors sharing an LSH
    bucket with the query in any table.

    Scale shape: the bucket join shuffles (table, bucket, id) rows ONLY
    — a corpus vector is never duplicated through the multi-table
    explode (at ``tables=8`` that duplication would 8× the shuffle
    volume of the dominant side).  Candidate pairs are distinct'd as
    bare id pairs, then the corpus vectors join back once (one shuffle
    of each vector) and the query vectors broadcast.

    Candidates score with the JVM sequential-fold cosine rounded to
    6dp — the same arithmetic the knn_bruteforce oracle replays — so
    with the SQL-replayable SRP buckets the WHOLE approximate path is
    DuckDB-checkable (buckets, candidate set, scores, ranking).
    """
    c = corpus.select(F.col(id_col).alias("neighbor_id"), as_double_vec(vec_col).alias("__cvec"))
    q = queries.select(F.col(query_id_col).alias("__qid"), as_double_vec(vec_col).alias("__qvec"))
    cb = _with_srp_buckets(c.select("neighbor_id", F.col("__cvec").alias("__v")), "__v", tables, bits).select(
        "neighbor_id", "table", "bucket"
    )
    qb = _with_srp_buckets(q.select("__qid", F.col("__qvec").alias("__v")), "__v", tables, bits).select(
        "__qid", "table", "bucket"
    )
    cand = (
        cb.join(qb, on=["table", "bucket"])
        .select("__qid", "neighbor_id")
        .distinct()
    )
    scored = (
        cand.join(c, on="neighbor_id")
        .join(F.broadcast(q), on="__qid")
        .select(
            F.col("__qid").alias(query_id_col),
            "neighbor_id",
            F.round(cosine(F.col("__qvec"), F.col("__cvec")), 6).alias("cosine"),
        )
        .filter(F.col("cosine").isNotNull())  # zero-norm rows excluded
    )
    return top_k_per_group(
        scored, [query_id_col], [F.col("cosine").desc(), F.col("neighbor_id").asc()], k
    )


# --------------------------------------------------------------------------
# IVF: inverted-file cells via relational assignment
# --------------------------------------------------------------------------

def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """Assign every vector to its nearest centroid (max QUANTIZED
    cosine; ties -> lowest centroid id).  One narrow mapInPandas pass:
    the centroid matrix broadcasts as numpy and each Arrow batch is a
    single (batch × dim) @ (dim × n_cells) matmul + argmax — no
    |corpus| × |centroids| row blow-up, no shuffle.  At 100 TB you'd
    persist the output partitioned-by-cell so queries prune whole
    files (partition pruning does the index lookup).

    Cross-engine determinism: vectors and centroids quantize to exact
    ``floor(v * 1e6 + 0.5)`` integer units, the dot matmul is exact
    int64 (|unit| < 2^20, 64 dims -> < 2^46), and the similarity is
    ``floor(dot / (sqrt(nv) * sqrt(nc)) * 1e6 + 0.5)`` — every step an
    IEEE correctly-rounded op over exactly-representable integers, so
    an external SQL engine replays the argmax cell assignment
    bit-for-bit (the knn_ivf oracle).  Zero-norm vectors or centroids
    are excluded from the sim (undefined cosine): an all-NULL row
    keeps the lowest centroid id via the final nan-safe argmax, and a
    zero-norm corpus vector can never surface as a neighbor anyway
    (the scorer drops NULL cosines).
    """
    import pandas as pd

    c_rows = sorted(
        centroids.select(centroid_id_col, vec_col).collect(), key=lambda r: r[centroid_id_col]
    )
    c_ids = np.array([r[centroid_id_col] for r in c_rows])
    c_units = np.stack(
        [np.floor(np.asarray(r[vec_col], dtype=np.float64) * 1e6 + 0.5) for r in c_rows]
    ).astype(np.int64)
    bc = corpus.sparkSession.sparkContext.broadcast((c_ids, c_units))

    out_fields = corpus.schema.fields
    out_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in out_fields) + ", cell bigint"
    cols = [f.name for f in out_fields]

    def assign(batches):
        ids, cu = bc.value
        nc = (cu * cu).sum(axis=1).astype(np.float64)  # exact, < 2^46
        sqrt_nc = np.sqrt(nc)
        for batch in batches:
            if len(batch) == 0:
                continue
            mat = np.stack([np.asarray(v, dtype=np.float64) for v in batch[vec_col]])
            units = np.floor(mat * 1e6 + 0.5).astype(np.int64)
            nv = (units * units).sum(axis=1).astype(np.float64)
            dots = (units @ cu.T).astype(np.float64)  # exact int64 -> exact double
            with np.errstate(divide="ignore", invalid="ignore"):
                simq = np.floor(dots / (np.sqrt(nv)[:, None] * sqrt_nc[None, :]) * 1e6 + 0.5)
            simq[~np.isfinite(simq)] = -np.inf  # zero norms: undefined cosine
            # argmax returns the FIRST max index; centroids sorted by id,
            # so ties resolve to the lowest centroid id
            best = simq.argmax(axis=1)
            out = batch[cols].copy()
            out["cell"] = ids[best]
            yield out

    return corpus.mapInPandas(assign, schema=out_schema)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """IVF search: per query, probe the ``nprobe`` nearest cells and
    run exact cosine only inside them.

    Cell probing uses the SAME quantized similarity as
    :func:`ivf_assign` (exact 1e-6 integer units, one IEEE formula —
    JVM-side here, numpy there: identical doubles), and candidates
    score with the round-6 JVM cosine — so with deterministic
    centroids the whole search replays in SQL (the knn_ivf oracle).
    """
    assigned = ivf_assign(corpus, centroids, id_col, vec_col, centroid_id_col)

    def _units(c: Column) -> Column:
        return F.transform(c, lambda x: F.floor(x.cast("double") * F.lit(1e6) + F.lit(0.5)))

    cents = centroids.select(
        F.col(centroid_id_col).alias("cell"),
        as_double_vec(vec_col).alias("__cent"),
        _units(F.col(vec_col)).alias("__cu"),
    )
    q = queries.select(
        F.col(query_id_col).alias("__qid"),
        as_double_vec(vec_col).alias("__qvec"),
        _units(F.col(vec_col)).alias("__qu"),
    )
    dot_u = F.aggregate(
        F.zip_with(F.col("__qu"), F.col("__cu"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    nq = F.aggregate(F.col("__qu"), F.lit(0.0), lambda acc, v: acc + v * v)
    ncen = F.aggregate(F.col("__cu"), F.lit(0.0), lambda acc, v: acc + v * v)
    simq = F.floor(
        F.try_divide(dot_u, F.sqrt(nq) * F.sqrt(ncen)) * F.lit(1e6) + F.lit(0.5)
    )
    qcells = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("__sim", simq)
        .filter(F.col("__sim").isNotNull())  # zero-norm query/centroid
        .transform(lambda d: top_k_per_group(d, ["__qid"], [F.col("__sim").desc(), F.col("cell").asc()], nprobe))
        .select("__qid", "__qvec", "cell")
    )
    cand = assigned.withColumn("__cvec", as_double_vec(vec_col)).join(qcells, on="cell")
    scored = cand.select(
        F.col("__qid").alias(query_id_col),
        F.col(id_col).alias("neighbor_id"),
        F.round(cosine(F.col("__qvec"), F.col("__cvec")), 6).alias("cosine"),
    ).filter(F.col("cosine").isNotNull())  # zero-norm rows excluded
    return top_k_per_group(
        scored, [query_id_col], [F.col("cosine").desc(), F.col("neighbor_id").asc()], k
    )


def cosine_dedup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    tables: int = 8,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_cap: int | None = 1024,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine >=
    threshold) via the same SRP bucketing — self-join within buckets
    only.  Bare-id bucket join + distinct pairs + one vector re-join
    per side (see lsh_topk's scale notes).  SRP cells denser than
    ``bucket_cap`` are dropped before the self-join (the O(|cell|^2)
    hot-bucket guard, see dedup.cap_bucket_membership); members keep
    recall through the other ``tables`` they hash into.

    Pairs score with the JVM sequential-fold cosine rounded to 6dp
    (knn_bruteforce's oracle arithmetic), so combined with the
    SQL-replayable SRP buckets the full pair list — buckets, cap,
    candidate pairs, scores, threshold — replays in DuckDB."""
    from etl_tiki_webscraping_spark.operators.dedup import cap_bucket_membership

    v = df.select(F.col(id_col).alias("id"), as_double_vec(vec_col).alias("__vec"))
    b = _with_srp_buckets(v.select("id", F.col("__vec").alias("__v")), "__v", tables, bits).select(
        "id", "table", "bucket"
    )
    b = cap_bucket_membership(b, ["table", "bucket"], bucket_cap)
    pairs = (
        b.alias("l")
        .join(b.alias("r"), on=["table", "bucket"])
        .filter(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )
    return (
        pairs.join(v.select(F.col("id").alias("id_a"), F.col("__vec").alias("va")), on="id_a")
        .join(v.select(F.col("id").alias("id_b"), F.col("__vec").alias("vb")), on="id_b")
        .select("id_a", "id_b", F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def cosine_threshold_pairs_exact(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """EXACT cosine-threshold pairs (id_a < id_b, rounded cosine >=
    threshold): broadcast one full side and score every pair with the
    JVM-side codegen cosine — the oracle-checkable verification twin of
    :func:`cosine_dedup_pairs` (whose SRP buckets only SEE pairs that
    co-hash).  O(n^2) by construction: use it to verify, and the
    LSH-bucketed variant to scale — the same split as brute_force_topk
    vs lsh_topk.  The comparison happens on the ROUNDED score so a
    DuckDB replay of the same arithmetic lands on identical edges."""
    v = df.select(F.col(id_col).alias("id"), as_double_vec(vec_col).alias("__vec"))
    a = v.select(F.col("id").alias("id_a"), F.col("__vec").alias("__va"))
    b = v.select(F.col("id").alias("id_b"), F.col("__vec").alias("__vb"))
    return (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("__va"), F.col("__vb")), round_to).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def ivf_train_centroids(
    corpus: DataFrame,
    n_cells: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iter: int = 10,
    seed: int = 42,
) -> DataFrame:
    """Train IVF cell centroids with distributed k-means
    (``pyspark.ml.clustering.KMeans`` — Lloyd's over the cluster, the
    same coarse quantizer FAISS IVF uses).  Returns (centroid_id,
    embedding) ready for :func:`ivf_assign` / :func:`ivf_topk`.

    Scale: k-means passes are map-side sums + one small reduce per
    iteration; run it on a sample when the corpus is huge (centroid
    quality saturates long before full-corpus training pays off).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = corpus.select(array_to_vector(as_double_vec(vec_col)).alias("features"))
    model = KMeans(k=n_cells, maxIter=max_iter, seed=seed).fit(train)
    spark = corpus.sparkSession
    rows = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    return spark.createDataFrame(rows, f"centroid_id bigint, {vec_col} array<double>")


def brute_force_topk_blocked(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    round_digits: int | None = None,
) -> DataFrame:
    """EXACT cosine top-k, blocked-matmul form — the 100 TB brute-force
    path.  The query matrix (small) broadcasts to every task as numpy;
    each corpus partition streams through ``mapInPandas`` doing ONE
    (batch x dim) @ (dim x n_queries) matmul and keeps only its local
    top-k per query, so the shuffle into the global top-k carries
    ``partitions x queries x k`` rows instead of ``|corpus| x queries``.
    Same answers as :func:`brute_force_topk`; that one stays as the
    oracle-exact JVM fold.
    """
    import pandas as pd

    q_rows = queries.select(query_id_col, vec_col).collect()  # small, broadcast below
    if not q_rows:  # empty query set -> empty result, not a numpy stack crash
        return corpus.sparkSession.createDataFrame(
            [], f"{query_id_col} bigint, neighbor_id bigint, cosine double"
        )
    q_ids = np.array([r[query_id_col] for r in q_rows])
    q_mat = np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in q_rows])
    q_mat = q_mat / np.maximum(
        np.linalg.norm(q_mat, axis=1, keepdims=True), 1e-12
    )
    sc = corpus.sparkSession.sparkContext
    bq = sc.broadcast((q_ids, q_mat))

    out_schema = f"{query_id_col} bigint, neighbor_id bigint, cosine double"

    def score(batches):
        ids, qm = bq.value
        for batch in batches:
            if len(batch) == 0:
                continue
            c_ids = batch[id_col].to_numpy()
            c_mat = np.stack([np.asarray(v, dtype=np.float64) for v in batch[vec_col]])
            c_mat = c_mat / np.maximum(
        np.linalg.norm(c_mat, axis=1, keepdims=True), 1e-12
    )  # zero-norm floor: keeps degenerate vectors finite (~0 sim), never NaN
            sims = c_mat @ qm.T  # (batch, n_queries)
            if round_digits is not None:
                # the GLOBAL ranking happens on half-up-rounded scores, so the
                # local selection must rank the same way — selecting on raw
                # cosines could evict a row that ties at the rounded cutoff
                # but wins the id tie-break globally
                scale = 10.0**round_digits
                rank_sims = np.copysign(np.floor(np.abs(sims) * scale + 0.5), sims) / scale
            else:
                rank_sims = sims
            kk = min(k, len(c_ids))
            recs = []
            for qi in range(len(ids)):
                s = rank_sims[:, qi]
                order = np.lexsort((c_ids, -s))  # sim desc, id asc — the global order
                cut = s[order[kk - 1]]
                last = kk
                # keep every row tied with the kk-th rounded score so ties
                # survive to the global top-k
                while last < len(order) and s[order[last]] == cut:
                    last += 1
                for ci in order[:last]:
                    recs.append((int(ids[qi]), int(c_ids[ci]), float(sims[ci, qi])))
            yield pd.DataFrame(recs, columns=[query_id_col, "neighbor_id", "cosine"])

    local = corpus.select(id_col, vec_col).mapInPandas(score, schema=out_schema)
    # rounding BEFORE the global ranking so tie-breaking matches an
    # external oracle that ranks on rounded scores
    if round_digits is not None:
        local = local.withColumn("cosine", F.round("cosine", round_digits))
    return top_k_per_group(
        local, [query_id_col], [F.col("cosine").desc(), F.col("neighbor_id").asc()], k
    )


def pq_train_codebooks(
    corpus: DataFrame,
    m: int = 8,
    k: int = 16,
    vec_col: str = "embedding",
    max_iter: int = 10,
    seed: int = 42,
) -> DataFrame:
    """Train PRODUCT-QUANTIZATION codebooks (the FAISS PQ layout): the
    vector splits into ``m`` contiguous subspaces and each subspace gets
    its own ``k``-centroid k-means codebook, so a d-dim float vector
    compresses to ``m`` small codes (here m bytes) while the effective
    cell count is ``k^m``.  Returns (subspace, code, subvec) rows —
    ``m x k`` rows total, a broadcast-sized model regardless of corpus
    size.

    The driver loop runs ``m`` DISTRIBUTED k-means fits (bounded by the
    subspace count, never rows); like :func:`ivf_train_centroids`,
    train on a sample when the corpus is huge — codebook quality
    saturates early."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    dim_row = corpus.select(F.size(as_double_vec(vec_col)).alias("d")).first()
    if dim_row is None:
        raise ValueError("pq_train_codebooks needs a non-empty corpus")
    d = dim_row["d"]
    if d % m != 0:
        raise ValueError(f"vector dim {d} not divisible by m={m} subspaces")
    sub = d // m
    spark = corpus.sparkSession
    rows = []
    vec = as_double_vec(vec_col)
    for j in range(m):
        train = corpus.select(
            array_to_vector(F.slice(vec, j * sub + 1, sub)).alias("features")
        )
        model = KMeans(k=k, maxIter=max_iter, seed=seed + j).fit(train)
        rows += [
            (j, c, [float(x) for x in cent])
            for c, cent in enumerate(model.clusterCenters())
        ]
    return spark.createDataFrame(
        rows, "subspace int, code int, subvec array<double>"
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """Encode every corpus vector to its ``m`` nearest-codebook codes
    plus its exact L2 norm — ``(id, codes array<int>, norm)``, the
    compressed representation ADC search scans.  One Arrow kernel pass
    with the (m x k x sub) codebook tensor broadcast; no shuffle.
    ``carry_cols`` ride through unchanged (e.g. the IVF ``cell`` id for
    the composed :func:`ivf_pq_topk` index)."""
    import pandas as pd

    carry = list(carry_cols)
    cb = codebooks.orderBy("subspace", "code").collect()  # m*k rows, broadcast below
    m = 1 + max(r["subspace"] for r in cb)
    k = 1 + max(r["code"] for r in cb)
    sub = len(cb[0]["subvec"])
    tensor = np.zeros((m, k, sub))
    for r in cb:
        tensor[r["subspace"], r["code"]] = np.asarray(r["subvec"])
    bt = corpus.sparkSession.sparkContext.broadcast(tensor)

    # declared in CARRY order, not corpus-schema order: mapInPandas
    # assigns pandas columns to the declared schema positionally, and
    # the kernel appends carries in ``carry`` order — a schema in
    # table order would silently swap the values of two same-typed
    # carries (or throw a confusing Arrow cast otherwise)
    field_by_name = {f.name: f for f in corpus.schema.fields}
    carry_schema = "".join(
        f", {c} {field_by_name[c].dataType.simpleString()}" for c in carry
    )
    out_schema = f"{id_col} bigint, codes array<int>, norm double" + carry_schema

    def encode(batches):
        t = bt.value  # (m, k, sub)
        for batch in batches:
            if len(batch) == 0:
                continue
            mat = np.stack(
                [np.asarray(v, dtype=np.float64) for v in batch[vec_col]]
            )  # (n, d)
            n = len(mat)
            codes = np.empty((n, m), dtype=np.int32)
            for j in range(m):
                seg = mat[:, j * sub : (j + 1) * sub]  # (n, sub)
                # squared L2 to each code: ||x||^2 - 2 x.c + ||c||^2
                d2 = (
                    -2.0 * seg @ t[j].T
                    + (t[j] ** 2).sum(axis=1)[None, :]
                )
                codes[:, j] = d2.argmin(axis=1)
            out = {
                id_col: batch[id_col].to_numpy(),
                "codes": list(codes),
                "norm": np.linalg.norm(mat, axis=1),
            }
            for c in carry:
                out[c] = batch[c].to_numpy()
            yield pd.DataFrame(out)

    return corpus.select(id_col, vec_col, *carry).mapInPandas(
        encode, schema=out_schema
    )


def pq_topk(
    codes: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate cosine top-k by ASYMMETRIC DISTANCE COMPUTATION over
    PQ codes: per query, an ``(m x k)`` lookup table of subquery·code
    dot products is built once; a vector's approximate dot product is
    the sum of ``m`` table lookups on its codes (its exact stored norm
    de-biases the cosine).  Each corpus partition scans CODES (m ints
    per vector, not d floats), gathers LUT sums vectorized, and keeps a
    local top-k per query — the shuffle carries ``partitions x queries
    x k`` rows, and the full float vectors are never read after encode
    time.  Approximate by construction; recall floors are pinned in
    tests like the LSH/IVF paths."""
    import pandas as pd

    cb = codebooks.orderBy("subspace", "code").collect()
    m = 1 + max(r["subspace"] for r in cb)
    ncodes = 1 + max(r["code"] for r in cb)
    sub = len(cb[0]["subvec"])
    tensor = np.zeros((m, ncodes, sub))
    for r in cb:
        tensor[r["subspace"], r["code"]] = np.asarray(r["subvec"])

    q_rows = queries.select(query_id_col, vec_col).collect()  # small side
    if not q_rows:  # empty query set -> empty result, not a numpy stack crash
        return codes.sparkSession.createDataFrame(
            [], f"{query_id_col} bigint, neighbor_id bigint, cosine double"
        )
    q_ids = np.array([r[query_id_col] for r in q_rows])
    q_mat = np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in q_rows])
    # clamp like the corpus-side guard below: a zero-norm query would
    # make sims NaN/inf and corrupt that query's whole top-k ordering
    q_norm = np.maximum(np.linalg.norm(q_mat, axis=1, keepdims=True), 1e-12)
    nq = len(q_ids)
    # LUT[q, j, c] = dot(q_subvec_j, codebook[j][c])
    lut = np.einsum("qjs,jcs->qjc", q_mat.reshape(nq, m, sub), tensor)
    bq = codes.sparkSession.sparkContext.broadcast((q_ids, q_norm, lut))

    out_schema = f"{query_id_col} bigint, neighbor_id bigint, cosine double"

    def scan(batches):
        ids, qn, tables = bq.value  # (nq,), (nq,1), (nq, m, c)
        for batch in batches:
            n = len(batch)
            if n == 0:
                continue
            code_mat = np.stack(batch["codes"].to_numpy())  # (n, m)
            norms = batch["norm"].to_numpy()  # (n,)
            # adc[q, i] = sum_j tables[q, j, code_mat[i, j]]
            gathered = tables[:, np.arange(m)[None, :], code_mat]  # (nq, n, m)
            adc = gathered.sum(axis=2)  # (nq, n)
            sims = adc / (qn * np.maximum(norms[None, :], 1e-12))
            top = min(k, n)
            # lexsort, not argpartition: duplicate vectors encode to
            # identical codes+norms (exactly tied ADC scores), and an
            # arbitrary tied subset at the batch cutoff would make the
            # result depend on row-to-partition assignment.  (sim desc,
            # id asc) matches the global window's tie contract, so the
            # batch shortlist always keeps the rows the global ranking
            # would keep.
            batch_ids = batch[id_col].to_numpy()
            out_q, out_id, out_s = [], [], []
            for qi in range(len(ids)):
                order = np.lexsort((batch_ids, -sims[qi]))[:top]
                out_q += [ids[qi]] * top
                out_id += list(batch_ids[order])
                out_s += list(sims[qi, order])
            yield pd.DataFrame(
                {query_id_col: out_q, "neighbor_id": out_id, "cosine": out_s}
            )

    local = codes.mapInPandas(scan, schema=out_schema)
    from pyspark.sql import Window

    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        local.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def pq_refine(
    shortlist: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """EXACT re-rank of an ADC shortlist (FAISS's refine step): join the
    shortlist ids back to their true vectors, score exact cosine against
    the broadcast query vectors, keep the top-k.  ADC's quantized
    distances order CLUSTERS well but cannot separate near-identical
    neighbors (resolution is the quantization cell); re-ranking the
    bounded ``|queries| x shortlist`` candidate set restores exact
    ordering while still never scanning full vectors corpus-wide —
    the standard PQ + refine pipeline."""
    from pyspark.sql import Window

    cand = shortlist.select(query_id_col, F.col("neighbor_id"))
    cvec = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double_vec(vec_col).alias("__cv")
    )
    qvec = queries.select(
        F.col(query_id_col), as_double_vec(vec_col).alias("__qv")
    )
    scored = (
        cand.join(cvec, "neighbor_id")
        .join(F.broadcast(qvec), query_id_col)
        .select(
            query_id_col,
            "neighbor_id",
            # denominator clamped on BOTH sides (matching pq_topk's
            # guards): zero-norm vectors score 0, not NaN
            (
                dot(F.col("__cv"), F.col("__qv"))
                / (
                    F.greatest(norm(F.col("__cv")), F.lit(1e-12))
                    * F.greatest(norm(F.col("__qv")), F.lit(1e-12))
                )
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def ivf_pq_topk(
    corpus: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    shortlist_k: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """COMPOSED IVF x PQ search — the shape that actually serves 10^9+
    vectors (FAISS ``IVFx,PQy``): route each query to its ``nprobe``
    nearest IVF cells, ADC-scan PQ codes ONLY within the probed lists,
    then exact-refine the shortlist.  IVF prunes the scan to
    ~nprobe/n_cells of the corpus; PQ shrinks what IS scanned to m
    small ints + a norm per vector; refine restores exact ordering on
    the bounded candidate set.

    Plan shape (the 100 TB story): cell assignment and code encoding
    are shuffle-free Arrow passes (persist the code table partitioned
    by ``cell`` and the probe join becomes partition pruning); query
    routing happens driver-side on the already-collected small query
    matrix, so the (query, cell) probe list BROADCASTS onto the code
    table — the scan side never shuffles.  The ADC kernel scores and
    keeps a per-batch shortlist, so the only wide exchange carries
    (query_id, neighbor_id, adc) rows bounded by partitions x queries
    x shortlist_k; full vectors are touched only for the refined ids.

    Quantization is on RAW vectors (IVF is routing-only); FAISS's
    residual encoding (quantize x - centroid[cell]) is a known
    accuracy refinement that needs per-(query, cell) LUTs — at the
    pinned recall gate it is not needed.  Approximate by construction:
    recall floor pinned in tests/test_quality_gates.py.
    """
    spark = corpus.sparkSession

    # centroids and codebooks are collected ONCE each (r17): the same
    # rows feed the fused index kernel's broadcast AND the driver-side
    # query routing / ADC LUT build — previously ivf_assign and
    # pq_encode each re-collected their model table (4 driver jobs for
    # 2 small tables) and the two kernels moved every corpus vector
    # across the Python boundary twice (guide §4: fewer round trips).
    c_rows = sorted(
        centroids.select(centroid_id_col, vec_col).collect(),
        key=lambda r: r[centroid_id_col],
    )
    c_ids = np.array([r[centroid_id_col] for r in c_rows])
    c_raw = np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in c_rows])
    # quantized-unit form for the assignment argmax (ivf_assign parity)
    c_units = np.floor(c_raw * 1e6 + 0.5).astype(np.int64)
    c_mat = c_raw / np.maximum(
        np.linalg.norm(c_raw, axis=1, keepdims=True), 1e-12
    )

    cb = codebooks.orderBy("subspace", "code").collect()
    m = 1 + max(r["subspace"] for r in cb)
    ncodes = 1 + max(r["code"] for r in cb)
    sub = len(cb[0]["subvec"])
    tensor = np.zeros((m, ncodes, sub))
    for r in cb:
        tensor[r["subspace"], r["code"]] = np.asarray(r["subvec"])

    # index build: cell assignment + raw-vector PQ codes FUSED into one
    # Arrow pass (r17; was ivf_assign -> pq_encode, two MapInPandas
    # nodes).  Identical arithmetic: the assignment is the exact
    # quantized-unit argmax of ivf_assign, the codes/norm are
    # pq_encode's — only the second JVM->Python->JVM round trip of the
    # full vector column is gone.
    b_index = spark.sparkContext.broadcast((c_ids, c_units, tensor))
    codes_schema = f"{id_col} bigint, codes array<int>, norm double, cell bigint"

    def assign_encode(batches):
        ids, cu, t = b_index.value
        nc = (cu * cu).sum(axis=1).astype(np.float64)  # exact, < 2^46
        sqrt_nc = np.sqrt(nc)
        for batch in batches:
            if len(batch) == 0:
                continue
            mat = np.stack(
                [np.asarray(v, dtype=np.float64) for v in batch[vec_col]]
            )
            # --- ivf_assign parity: quantized cosine argmax ---
            units = np.floor(mat * 1e6 + 0.5).astype(np.int64)
            nv = (units * units).sum(axis=1).astype(np.float64)
            dots = (units @ cu.T).astype(np.float64)
            with np.errstate(divide="ignore", invalid="ignore"):
                simq = np.floor(
                    dots / (np.sqrt(nv)[:, None] * sqrt_nc[None, :]) * 1e6 + 0.5
                )
            simq[~np.isfinite(simq)] = -np.inf  # zero norms: undefined cosine
            best = simq.argmax(axis=1)  # first max -> lowest centroid id
            # --- pq_encode parity: per-subspace nearest code + norm ---
            n = len(mat)
            pq = np.empty((n, m), dtype=np.int32)
            for j in range(m):
                seg = mat[:, j * sub : (j + 1) * sub]
                d2 = -2.0 * seg @ t[j].T + (t[j] ** 2).sum(axis=1)[None, :]
                pq[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {
                    id_col: batch[id_col].to_numpy(),
                    "codes": list(pq),
                    "norm": np.linalg.norm(mat, axis=1),
                    "cell": ids[best],
                }
            )

    codes = corpus.select(id_col, vec_col).mapInPandas(
        assign_encode, schema=codes_schema
    )

    q_rows = queries.select(query_id_col, vec_col).collect()
    if not q_rows:  # empty query set -> empty result, not a numpy stack crash
        return corpus.sparkSession.createDataFrame(
            [], f"{query_id_col} bigint, neighbor_id bigint, cosine double"
        )
    q_ids = np.array([r[query_id_col] for r in q_rows])
    q_mat = np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in q_rows])
    q_norm = np.maximum(np.linalg.norm(q_mat, axis=1, keepdims=True), 1e-12)
    nq = len(q_ids)

    # nprobe nearest cells per query (cosine; ties -> lowest cell id,
    # matching ivf_topk's ordering)
    sims_qc = (q_mat / q_norm) @ c_mat.T  # (nq, n_cells)
    order = np.argsort(-sims_qc, axis=1, kind="stable")[:, :nprobe]
    probe_rows = [
        (int(q_ids[qi]), int(c_ids[ci]))
        for qi in range(nq)
        for ci in order[qi]
    ]
    qcells = spark.createDataFrame(
        probe_rows, f"{query_id_col} bigint, cell bigint"
    )

    # LUT[q, j, c] = dot(q_subvec_j, codebook[j][c])
    lut = np.einsum("qjs,jcs->qjc", q_mat.reshape(nq, m, sub), tensor)
    qidx = {int(q): i for i, q in enumerate(q_ids)}
    bq = spark.sparkContext.broadcast((qidx, q_norm, lut))

    cand = codes.join(F.broadcast(qcells), on="cell")
    out_schema = f"{query_id_col} bigint, neighbor_id bigint, cosine double"

    def scan(batches):
        idx, qn, tables = bq.value
        for batch in batches:
            n = len(batch)
            if n == 0:
                continue
            qi = batch[query_id_col].map(idx).to_numpy()  # (n,)
            code_mat = np.stack(batch["codes"].to_numpy())  # (n, m)
            norms = np.maximum(batch["norm"].to_numpy(), 1e-12)
            # adc[i] = sum_j tables[qi[i], j, code_mat[i, j]]
            adc = tables[qi[:, None], np.arange(m)[None, :], code_mat].sum(axis=1)
            sims = adc / (qn[qi, 0] * norms)
            out = pd.DataFrame(
                {
                    query_id_col: batch[query_id_col].to_numpy(),
                    "neighbor_id": batch[id_col].to_numpy(),
                    "cosine": sims,
                }
            )
            # per-batch shortlist: bounds the global window input to
            # partitions x queries x shortlist_k rows
            yield (
                out.sort_values(
                    [query_id_col, "cosine", "neighbor_id"],
                    ascending=[True, False, True],
                )
                .groupby(query_id_col, sort=False)
                .head(shortlist_k)
            )

    local = cand.mapInPandas(scan, schema=out_schema)
    shortlist = top_k_per_group(
        local,
        [query_id_col],
        [F.col("cosine").desc(), F.col("neighbor_id").asc()],
        shortlist_k,
    )
    return pq_refine(
        shortlist, corpus, queries, k, id_col, vec_col, query_id_col
    )


def embedding_pca(
    df: DataFrame, vec_col: str, k: int = 8
) -> "tuple[np.ndarray, np.ndarray, np.ndarray]":
    """Distributed PCA over an embedding column: returns
    ``(mean, eigenvalues, components)`` of the POPULATION covariance
    ``gram/n - outer(mean, mean)`` (divide by n, not n-1; callers
    wanting the textbook sample estimator scale eigenvalues by
    n/(n-1) — eigenvectors and explained-variance RATIOS are
    identical under either convention) — ``eigenvalues`` descending
    (length d), ``components`` the matching eigenvectors as rows
    (k x d).

    Scale shape: the O(n d^2) work — accumulating the Gram matrix
    X^T X and the column sums — runs in ONE Arrow pass
    (``mapInPandas``: each batch contributes a d^2-element partial),
    and the partials reduce through a posexplode + groupBy(pos) whose
    cardinality is d^2 + d, never n.  Only the d x d Gram (small by
    construction: 64-dim -> 32 KB) reaches the driver, where the
    eigensolve is O(d^3) numpy.  n never leaves the executors; no row
    data is collected.

    Sums accumulate in float64 from float32 inputs; for 100 TB-scale n
    the per-batch partial is already a compensated two-level sum
    (numpy pairwise within batch, exact float64 add across batches).
    """
    import numpy as _np

    d_row = df.select(F.size(as_double_vec(vec_col)).alias("d")).first()
    if d_row is None:
        raise ValueError("embedding_pca needs at least 2 rows (got 0)")
    d = d_row["d"]

    def _partials(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = _np.stack(pdf["v"].to_numpy()).astype(_np.float64)
            yield pd.DataFrame(
                {
                    "gram": [(X.T @ X).ravel().tolist()],
                    "sums": [X.sum(axis=0).tolist()],
                    "cnt": [len(X)],
                }
            )

    partials = df.select(as_double_vec(vec_col).alias("v")).mapInPandas(
        _partials, schema="gram array<double>, sums array<double>, cnt long"
    )
    # reduce the partials distributed: explode to (pos, val), sum per
    # pos — cardinality d^2 + d + 1 regardless of n
    reduced = (
        partials.select(
            F.posexplode(
                F.concat("gram", "sums", F.array(F.col("cnt").cast("double")))
            ).alias("pos", "val")
        )
        .groupBy("pos")
        .agg(F.sum("val").alias("val"))
        .collect()  # d^2 + d + 1 rows — small by construction
    )
    flat = _np.zeros(d * d + d + 1)
    for r in reduced:
        flat[r["pos"]] = r["val"]
    n = flat[-1]
    if n < 2:
        raise ValueError("embedding_pca needs at least 2 rows")
    gram = flat[: d * d].reshape(d, d)
    mean = flat[d * d : d * d + d] / n
    cov = gram / n - _np.outer(mean, mean)
    evals, evecs = _np.linalg.eigh(cov)
    order = _np.argsort(evals)[::-1]
    return mean, evals[order], evecs[:, order[:k]].T


def embedding_pca_report(df: DataFrame, vec_col: str, k: int = 8) -> DataFrame:
    """PCA explained-variance report as a DataFrame:
    (component, eigenvalue, explained_ratio) for the top-k principal
    components, ratios against the full trace.  Values round to 9
    places so the report is reproducible across partitionings (the
    underlying reduce is order-exact in float64 up to the final d^2
    additions)."""
    spark = df.sparkSession
    _, evals, _ = embedding_pca(df, vec_col, k)
    trace = float(evals.sum())
    rows = [
        (i, round(float(evals[i]), 9), round(float(evals[i]) / trace, 9))
        for i in range(min(k, len(evals)))
    ]
    return spark.createDataFrame(
        rows, "component int, eigenvalue double, explained_ratio double"
    )


def centroid_cosine_outliers(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    group_col: str,
    k: int = 5,
) -> DataFrame:
    """Per-group least-prototypical vectors: each group's centroid
    (per-dimension mean), then the ``k`` vectors with the LOWEST
    cosine to their own group's centroid — the prototypicality
    data-pruning signal (SemDeDup / SSL-prototypes, Abbas et al. 2023;
    Sorscher et al. 2022): embedding-space outliers inside a
    cluster/domain are the noisy, misfiled, or off-topic examples a
    curation pipeline routes to review before training.

    Returns ``(group_col, id_col, cos_centroid)``, ``k`` rows per
    group, cosine quantized to 1e-6.  Zero-norm vectors, NULL
    embeddings, and NULL group labels are excluded — the NULL-label
    exclusion is EXPLICIT (not a side effect of the modal-length
    equi-join, which would drop them silently) and mirrored by the
    catalog oracle, so both engines agree if a fixture ever gains
    NULL labels (consistent with the repo's kNN paths).

    Scale shape: ONE posexplode + groupBy(group, dim) for centroids —
    shuffle cardinality |groups| x d, never row count — then the tiny
    centroid-array table BROADCASTS back onto the vector scan, where
    dot/norm fold JVM-side inside whole-stage codegen (zip_with +
    aggregate over integer units: no Python, no per-row shuffle), and
    ONE top-k-per-group window bounds the sort at k per partition.

    Cross-engine determinism (the tpch_q9 lesson applied throughout):
    every float enters a sum as ``floor(x*1eN + 0.5)`` integer units —
    elements at 1e-9, squared/product terms at 1e-12, the final cosine
    at 1e-6 — so sums are exact, order-free, and bit-identical on any
    engine; ranking ties break by id.
    """
    # one Cast node, not a transform lambda: same elementwise float ->
    # double widening, but it codegens and keeps the analyzed tree small
    # (plan build + analysis is a measurable share of a small query)
    vd = F.col(vec_col).cast("array<double>")
    base = df.filter(
        F.col(vec_col).isNotNull() & F.col(group_col).isNotNull()
    )
    # Each group's centroid uses only its MODAL embedding length: a
    # stray off-length vector must not pollute the centroid with extra
    # dimensions.  The election rides the centroid aggregate itself
    # (round-11 bench recovery — the old pre-filter cost a third scan
    # of the table plus a broadcast join on the fat vector rows):
    # centroids group by (grp, len, i), so off-length vectors aggregate
    # SEPARATELY instead of polluting, and the modal (grp, len) is
    # picked from the tiny aggregate by a join-free max_by (each
    # length's vector count rides the aggregate; ties break to the
    # smaller length).  Zero-length
    # vectors never posexplode a row, so they sit out the election —
    # they can't score anyway (no cosine).  The scored pass needs no
    # length filter at all: zip_with NULL-pads against the modal-length
    # centroid and the dot_units IS NOT NULL filter excludes them.
    dims = base.select(
        F.col(group_col).alias("grp"),
        F.size(vec_col).alias("__len"),
        F.posexplode(vd).alias("i", "v"),
    )
    # centroid component c = (exact-integer mean of 1e-9 units) / 1e9;
    # the two divisions stay in THIS order — the oracle mirrors it.
    # (Heavy expressions here and below are single F.expr strings: one
    # parser roundtrip each instead of hundreds of py4j Column calls —
    # plan BUILD time was the largest share of this query's wall.)
    cent_all = (
        dims.groupBy("grp", "__len", "i")
        .agg(
            F.expr(
                "CAST(sum(floor(v * 1e9 + 0.5)) AS DOUBLE) / count(1) / 1e9"
            ).alias("c"),
            F.count(F.lit(1)).alias("__n"),
        )
    )
    # Modal election WITHOUT a join: assemble each (grp, len)'s
    # centroid array, then ONE max_by per group picks the modal
    # length's array — __n is the same for every i of a (grp, len)
    # (the count of that length's vectors) and ties still break to
    # the smaller length via (-__len).  Replaces the old
    # filter(i=0) -> groupBy -> broadcast-join -> filter chain: one
    # fewer aggregate and no join, which matters when plan/codegen
    # overhead rivals the data (|groups| x |lens| x d rows).
    per_len = cent_all.groupBy("grp", "__len").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(i, c))), s -> s.c)"
        ).alias("cent"),
        F.first("__n").alias("__n"),
    )
    cents = (
        per_len.groupBy("grp")
        .agg(
            F.expr(
                "max_by(cent, struct(__n AS __cnt, -__len AS __nl))"
            ).alias("cent")
        )
        .select(
            "grp",
            "cent",
            F.expr(
                "aggregate(cent, CAST(0 AS BIGINT), "
                "(acc, x) -> acc + floor(x * x * 1e12 + 0.5))"
            ).alias("nc_units"),
        )
    )
    scored = (
        base
        .select(F.col(group_col).alias("grp"), F.col(id_col).alias("vid"), vd.alias("v"))
        .join(F.broadcast(cents), "grp")
        # ONE fused per-element fold (higher-order functions run
        # interpreted, so element passes are the unit of cost): the
        # zip carries (x*y, x*x) together and a struct accumulator
        # sums both.  An off-modal-length vector NULLs the zip's
        # padded elements, so dot_units goes NULL exactly as the
        # two-fold version's zip did — the exclusion contract and
        # every summed unit are bit-identical.
        .select(
            "grp",
            "vid",
            "nc_units",
            F.expr(
                "aggregate("
                "  zip_with(v, cent, (x, y) -> struct("
                "    floor(x * y * 1e12 + 0.5) AS xy,"
                "    floor(x * x * 1e12 + 0.5) AS xx)),"
                "  struct(CAST(0 AS BIGINT) AS dot, CAST(0 AS BIGINT) AS nv),"
                "  (acc, e) -> struct(acc.dot + e.xy AS dot,"
                "                     acc.nv + e.xx AS nv))"
            ).alias("__f"),
        )
        .select(
            "grp",
            "vid",
            "nc_units",
            F.col("__f.dot").alias("dot_units"),
            F.col("__f.nv").alias("nv_units"),
        )
        # dot_units NULL = the vector's length differs from the group
        # centroid's (zip_with pads with NULL) — exclude it rather than
        # let NULL sort FIRST under the ascending outlier rank
        .filter(
            (F.col("nv_units") > 0)
            & (F.col("nc_units") > 0)
            & F.col("dot_units").isNotNull()
        )
        .select(
            "grp",
            "vid",
            F.expr(
                "floor(CAST(dot_units AS DOUBLE) / 1e12"
                "      / sqrt((CAST(nv_units AS DOUBLE) / 1e12)"
                "             * (CAST(nc_units AS DOUBLE) / 1e12))"
                "      * 1e6 + 0.5)"
            ).alias("cos_units"),
        )
    )
    return top_k_per_group(
        scored, ["grp"], [F.col("cos_units").asc(), F.col("vid").asc()], k
    ).select(
        F.col("grp").alias(group_col),
        F.col("vid").alias(id_col),
        (F.col("cos_units").cast("double") / F.lit(1e6)).alias("cos_centroid"),
    )
