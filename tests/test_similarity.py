"""Similarity-search operators vs a numpy oracle on tiny synthetic
vectors."""

from __future__ import annotations

import numpy as np
import pytest

from etl_tiki_webscraping_spark.operators.similarity import (
    brute_force_topk,
    cosine_dedup_pairs,
    ivf_assign,
    ivf_topk,
    lsh_topk,
)

DIM = 8
N = 40
RNG = np.random.default_rng(7)


def _vectors():
    base = RNG.standard_normal((N, DIM)).astype(np.float32)
    # vec 1 = near-copy of vec 0 (cosine ~ 1)
    base[1] = base[0] + 0.01 * RNG.standard_normal(DIM).astype(np.float32)
    return base


VECS = _vectors()


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [(i, VECS[i].tolist()) for i in range(N)]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


@pytest.fixture(scope="module")
def queries(spark):
    rows = [(i, VECS[i].tolist()) for i in range(3)]
    return spark.createDataFrame(rows, "query_id bigint, embedding array<float>")


def _numpy_topk(qi: int, k: int) -> list[int]:
    v = VECS.astype(np.float64)
    sims = (v @ v[qi]) / (np.linalg.norm(v, axis=1) * np.linalg.norm(v[qi]))
    order = sorted(range(N), key=lambda j: (-sims[j], j))
    return order[:k]


def test_brute_force_matches_numpy(corpus, queries):
    out = brute_force_topk(corpus, queries, k=5)
    got = {}
    for r in out.collect():
        got.setdefault(r["query_id"], []).append((r["cosine"], r["neighbor_id"]))
    for qid in range(3):
        ids = [n for _, n in sorted(got[qid], key=lambda t: (-t[0], t[1]))]
        assert ids == _numpy_topk(qid, 5)


def test_brute_force_self_is_top1(corpus, queries):
    out = brute_force_topk(corpus, queries, k=1).collect()
    for r in out:
        assert r["neighbor_id"] == r["query_id"]  # cosine(v, v) == 1
        assert abs(r["cosine"] - 1.0) < 1e-12


def test_lsh_topk_finds_self_and_near_copy(corpus, queries):
    out = lsh_topk(corpus, queries, k=3, tables=8, bits=4)
    by_q = {}
    for r in out.collect():
        by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    # self always lands in its own bucket; near-copy of 0 almost surely
    for qid, ids in by_q.items():
        assert qid in ids
    assert 1 in by_q[0]


def test_ivf_assign_puts_vector_in_own_centroid_cell(spark, corpus):
    cents = spark.createDataFrame(
        [(0, VECS[0].tolist()), (10, VECS[10].tolist()), (20, VECS[20].tolist())],
        "centroid_id bigint, embedding array<float>",
    )
    out = {r["vec_id"]: r["cell"] for r in ivf_assign(corpus, cents).collect()}
    assert out[0] == 0 and out[10] == 10 and out[20] == 20
    assert len(out) == N  # every vector assigned to exactly one cell


def test_ivf_topk_self_hit(spark, corpus, queries):
    cents = spark.createDataFrame(
        [(0, VECS[0].tolist()), (10, VECS[10].tolist()), (20, VECS[20].tolist())],
        "centroid_id bigint, embedding array<float>",
    )
    out = ivf_topk(corpus, queries, cents, k=2, nprobe=2)
    by_q = {}
    for r in out.collect():
        by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for qid in range(3):
        assert qid in by_q[qid]


def test_cosine_dedup_pairs_finds_near_copy(corpus):
    pairs = {(r["id_a"], r["id_b"]) for r in cosine_dedup_pairs(corpus, threshold=0.95).collect()}
    assert (0, 1) in pairs
    for a, b in pairs:
        assert a < b


def test_blocked_brute_force_matches_exact(spark, corpus, queries):
    from etl_tiki_webscraping_spark.operators.similarity import brute_force_topk_blocked

    blocked = brute_force_topk_blocked(corpus.repartition(4), queries, k=5)
    got = {}
    for r in blocked.collect():
        got.setdefault(r["query_id"], []).append((r["cosine"], r["neighbor_id"]))
    for qid in range(3):
        ids = [n for _, n in sorted(got[qid], key=lambda t: (-t[0], t[1]))]
        assert ids == _numpy_topk(qid, 5)


def test_ivf_train_centroids_shape(spark, corpus):
    from etl_tiki_webscraping_spark.operators.similarity import (
        ivf_assign,
        ivf_train_centroids,
    )

    cents = ivf_train_centroids(corpus, n_cells=4, max_iter=5)
    rows = cents.collect()
    assert len(rows) == 4
    assert {r["centroid_id"] for r in rows} == {0, 1, 2, 3}
    assert all(len(r["embedding"]) == DIM for r in rows)
    # every corpus vector lands in exactly one trained cell
    assigned = ivf_assign(corpus, cents)
    assert assigned.count() == N
    assert {r["cell"] for r in assigned.collect()} <= {0, 1, 2, 3}


def test_pq_zero_norm_query_is_guarded(spark, corpus):
    """ADVICE r7: a zero-norm query vector must not NaN-corrupt its
    top-k ordering in pq_topk (clamped like the corpus-side guard) or
    pq_refine (denominator clamped both sides)."""
    import math

    from etl_tiki_webscraping_spark.operators.similarity import (
        pq_encode,
        pq_refine,
        pq_topk,
        pq_train_codebooks,
    )

    books = pq_train_codebooks(corpus, m=4, k=8, max_iter=3)
    codes = pq_encode(corpus, books)
    qs = spark.createDataFrame(
        [(0, [0.0] * DIM), (1, VECS[1].tolist())],
        "query_id bigint, embedding array<float>",
    )
    adc = pq_topk(codes, books, qs, k=5)
    rows = adc.collect()
    assert all(math.isfinite(r["cosine"]) for r in rows)
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    # both queries still return a full, finite top-5
    assert len(by_q[0]) == 5 and len(by_q[1]) == 5
    refined = pq_refine(adc, corpus, qs, k=5).collect()
    assert all(math.isfinite(r["cosine"]) for r in refined)
    # zero query scores 0 against everything after the clamp
    assert all(
        abs(r["cosine"]) < 1e-6 for r in refined if r["query_id"] == 0
    )


class TestEmbeddingPCA:
    def test_eigenvalues_match_numpy_exactly(self, spark, sf_dir):
        import numpy as np

        from etl_tiki_webscraping_spark.operators.similarity import (
            embedding_pca,
        )

        df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        _, evals, comps = embedding_pca(df, "embedding", k=4)
        X = np.stack(df.toPandas()["embedding"].to_numpy()).astype(np.float64)
        cov = np.cov(X, rowvar=False, bias=True)
        ref = np.sort(np.linalg.eigvalsh(cov))[::-1]
        assert np.max(np.abs(evals - ref) / np.abs(ref)) < 1e-12
        # components are unit-norm eigenvectors of the same covariance
        for i in range(4):
            v = comps[i]
            assert abs(np.linalg.norm(v) - 1.0) < 1e-9
            assert np.allclose(cov @ v, evals[i] * v, atol=1e-9)

    def test_partitioning_invariance(self, spark, sf_dir):
        import numpy as np

        from etl_tiki_webscraping_spark.operators.similarity import (
            embedding_pca,
        )

        df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        _, e1, _ = embedding_pca(df.repartition(1), "embedding", k=3)
        _, e7, _ = embedding_pca(df.repartition(7), "embedding", k=3)
        # float64 Gram accumulation: partition layout shifts results
        # only in the last additions
        assert np.max(np.abs(e1 - e7)) < 1e-9

    def test_report_ratios_sum_to_trace_share(self, spark, sf_dir):
        from etl_tiki_webscraping_spark.operators.similarity import (
            embedding_pca_report,
        )

        rows = embedding_pca_report(
            spark.read.parquet(f"{sf_dir}/embeddings.parquet"),
            "embedding",
            k=64,
        ).collect()
        assert len(rows) == 64
        assert abs(sum(r.explained_ratio for r in rows) - 1.0) < 1e-6
        evs = [r.eigenvalue for r in rows]
        assert evs == sorted(evs, reverse=True)

    def test_too_few_rows_raises(self, spark):
        import pytest

        from etl_tiki_webscraping_spark.operators.similarity import (
            embedding_pca,
        )

        df = spark.createDataFrame([([1.0, 2.0],)], "embedding array<double>")
        with pytest.raises(ValueError, match="at least 2"):
            embedding_pca(df, "embedding")


def test_pq_encode_carry_cols(spark, corpus):
    """carry_cols ride through the encode kernel unchanged (the cell
    tag the composed IVF x PQ index needs)."""
    from pyspark.sql import functions as F

    from etl_tiki_webscraping_spark.operators.similarity import (
        pq_encode,
        pq_train_codebooks,
    )

    tagged = corpus.withColumn("cell", F.col("vec_id") % 3)
    books = pq_train_codebooks(corpus, m=4, k=8, max_iter=3)
    codes = pq_encode(tagged, books, carry_cols=("cell",))
    rows = codes.collect()
    assert len(rows) == corpus.count()
    for r in rows:
        assert r["cell"] == r["vec_id"] % 3
        assert len(r["codes"]) == 4


def test_ivf_pq_full_probe_matches_pq_refine_shape(spark, corpus, queries):
    """With nprobe = n_cells (no routing loss) the composed pipeline
    degenerates to plain PQ shortlist + exact refine: top-k ids must
    match the numpy exact ranking wherever the shortlist covers."""
    from etl_tiki_webscraping_spark.operators.similarity import (
        ivf_pq_topk,
        ivf_train_centroids,
        pq_train_codebooks,
    )

    cents = ivf_train_centroids(corpus, n_cells=4, max_iter=5)
    books = pq_train_codebooks(corpus, m=4, k=8, max_iter=3)
    got = ivf_pq_topk(
        corpus, cents, books, queries,
        k=5, nprobe=4, shortlist_k=N,  # full probe + full shortlist
    )
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r["query_id"], []).append((r["cosine"], r["neighbor_id"]))
    for qid in range(3):
        ids = [n for _, n in sorted(by_q[qid], key=lambda t: (-t[0], t[1]))]
        # full probe + full shortlist + exact refine == exact top-5
        assert ids == _numpy_topk(qid, 5)


def test_zero_norm_vectors_excluded_not_nan_ranked(spark):
    """Regression: a zero-norm embedding produced NaN cosine from the
    Arrow kernel — and Spark's nan-safe ordering puts NaN ABOVE every
    real score, so the degenerate vector topped every top-k and passed
    every >= threshold filter; the JVM path meanwhile THREW
    DIVIDE_BY_ZERO under ANSI mode.  Both paths now yield NULL: the
    zero vector never appears, and queries still succeed."""
    from etl_tiki_webscraping_spark.operators.similarity import (
        brute_force_topk,
        cosine_threshold_pairs_exact,
    )

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(10, [1.0, 0.0])], "query_id long, embedding array<double>"
    )
    got = brute_force_topk(corpus, queries, k=3)
    rows = got.collect()  # must not raise DIVIDE_BY_ZERO
    ranked = [r.neighbor_id for r in rows]
    assert 3 not in ranked and ranked[0] == 1
    pairs = cosine_threshold_pairs_exact(corpus, threshold=0.5).collect()
    assert all(3 not in (r.id_a, r.id_b) for r in pairs)


def test_pq_encode_carry_order_independent(spark):
    """Regression: the carry schema was declared in corpus-schema
    order while the kernel emitted carries in carry_cols order —
    mapInPandas assigns positionally, so two same-typed carries
    requested in reversed order silently swapped values."""
    from etl_tiki_webscraping_spark.operators.similarity import (
        pq_encode,
        pq_train_codebooks,
    )

    corpus = spark.createDataFrame(
        [(i, [float(i), 0.0, 1.0, float(i % 3)], i * 10, i * 100)
         for i in range(20)],
        "vec_id long, embedding array<double>, a long, b long",
    )
    books = pq_train_codebooks(corpus, m=2, k=2, max_iter=3)
    out = pq_encode(corpus, books, carry_cols=("b", "a")).collect()
    for r in out:
        assert r["a"] == r["vec_id"] * 10 and r["b"] == r["vec_id"] * 100


class TestCentroidCosineOutliers:
    def _df(self, spark, rows):
        return spark.createDataFrame(
            rows, "vec_id long, label int, embedding array<float>"
        )

    def test_obvious_outlier_ranks_first(self, spark):
        from etl_tiki_webscraping_spark.operators.similarity import (
            centroid_cosine_outliers,
        )

        rows = [
            (1, 0, [1.0, 0.0, 0.0]),
            (2, 0, [0.9, 0.1, 0.0]),
            (3, 0, [1.0, 0.05, 0.0]),
            (4, 0, [-1.0, 0.0, 0.0]),  # anti-aligned: the outlier
        ]
        out = centroid_cosine_outliers(
            self._df(spark, rows), "embedding", "vec_id", "label", k=2
        ).collect()
        assert len(out) == 2
        assert out[0]["vec_id"] == 4 or {r["vec_id"] for r in out} == {4, 2}
        worst = min(out, key=lambda r: r["cos_centroid"])
        assert worst["vec_id"] == 4
        assert worst["cos_centroid"] < 0  # anti-aligned with centroid

    def test_zero_norm_and_null_excluded(self, spark):
        from etl_tiki_webscraping_spark.operators.similarity import (
            centroid_cosine_outliers,
        )

        rows = [
            (1, 0, [1.0, 0.0]),
            (2, 0, [0.8, 0.2]),
            (3, 0, [0.0, 0.0]),   # zero norm: no cosine
            (4, 0, None),          # NULL embedding
        ]
        got = centroid_cosine_outliers(
            self._df(spark, rows), "embedding", "vec_id", "label", k=10
        ).collect()
        assert {r["vec_id"] for r in got} == {1, 2}

    def test_partitioning_invariant(self, spark):
        from etl_tiki_webscraping_spark.operators.similarity import (
            centroid_cosine_outliers,
        )

        rows = [
            (i, i % 3, [float((i * 7 + j * 3) % 11) / 11.0 for j in range(8)])
            for i in range(60)
        ]
        base = self._df(spark, rows)
        a = centroid_cosine_outliers(base, "embedding", "vec_id", "label", k=4)
        b = centroid_cosine_outliers(
            base.repartition(13), "embedding", "vec_id", "label", k=4
        )
        ra = sorted(map(tuple, a.collect()))
        rb = sorted(map(tuple, b.collect()))
        assert ra == rb and len(ra) == 12  # 3 labels x 4

    def test_centroid_math_matches_numpy(self, spark):
        import numpy as np

        from etl_tiki_webscraping_spark.operators.similarity import (
            centroid_cosine_outliers,
        )

        rng = [
            (i, 0, [((i * 13 + j * 5) % 17) / 17.0 + 0.1 for j in range(4)])
            for i in range(10)
        ]
        out = {
            r["vec_id"]: r["cos_centroid"]
            for r in centroid_cosine_outliers(
                self._df(spark, rng), "embedding", "vec_id", "label", k=10
            ).collect()
        }
        vecs = {i: np.array(v, dtype=np.float64) for i, _, v in rng}
        # replay the quantization: element units at 1e-9 for the mean
        units = {i: np.floor(v * 1e9 + 0.5) for i, v in vecs.items()}
        cu = sum(units.values()) / len(units) / 1e9
        for i, v in vecs.items():
            dot = np.sum(np.floor(v * cu * 1e12 + 0.5)) / 1e12
            nv = np.sum(np.floor(v * v * 1e12 + 0.5)) / 1e12
            nc = np.sum(np.floor(cu * cu * 1e12 + 0.5)) / 1e12
            cos = np.floor(dot / np.sqrt(nv * nc) * 1e6 + 0.5) / 1e6
            assert abs(out[i] - cos) < 1e-12, (i, out[i], cos)


def test_retrieval_quality_metrics_python_replay(spark, tmp_path):
    """Replay nDCG@10 / MRR / recall@10 in pure python (same round-6
    ranking convention, same integer discount units) on a small
    fixture with a deliberately off-cluster query."""
    import math

    import pandas as pd

    from etl_tiki_webscraping_spark.plans.catalog import QUERIES

    vecs = {
        0: (0, [1.0, 0.0]),       # query, label 0
        1: (0, [0.9, 0.1]),
        2: (1, [0.0, 1.0]),
        3: (1, [0.1, 0.9]),
        4: (0, [0.8, 0.2]),
        100: (1, [1.0, 0.02]),    # query, label 1 — but points at label 0
    }
    pd.DataFrame(
        {
            "vec_id": list(vecs),
            "embedding": [v for _, v in vecs.values()],
            "label": [l for l, _ in vecs.values()],
        }
    ).to_parquet(tmp_path / "embeddings.parquet", index=False)

    got = {
        r["label"]: r
        for r in QUERIES["retrieval_quality_metrics"].fn(
            spark, str(tmp_path)
        ).collect()
    }

    units = [
        math.floor(1e9 * (math.log(2.0) / math.log(i + 1.0)) + 0.5)
        for i in range(1, 11)
    ]
    prefix = [sum(units[: m + 1]) for m in range(10)]

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return round(d / (na * nb), 6)

    lbl_n = {}
    for l, _ in vecs.values():
        lbl_n[l] = lbl_n.get(l, 0) + 1
    expected = {}
    for qid in (0, 100):
        qlabel, qv = vecs[qid]
        ranked = sorted(
            ((cos(qv, v), nid) for nid, (_, v) in vecs.items() if nid != qid),
            key=lambda t: (-t[0], t[1]),
        )[:10]
        rels = [1 if vecs[nid][0] == qlabel else 0 for _, nid in ranked]
        n_rel = lbl_n[qlabel] - 1
        dcg = sum(u for u, r in zip(units, rels) if r)
        ndcg = math.floor(dcg / prefix[min(10, n_rel) - 1] * 1e9 + 0.5)
        fr = next((i + 1 for i, r in enumerate(rels) if r), None)
        mrr = 0 if fr is None else math.floor(1e9 * (1.0 / fr) + 0.5)
        rec = math.floor(sum(rels) / n_rel * 1e9 + 0.5)
        expected.setdefault(qlabel, []).append((mrr, ndcg, rec))
    for l, rows in expected.items():
        n = len(rows)
        want_mrr = sum(r[0] for r in rows) / n / 1e9
        want_ndcg = sum(r[1] for r in rows) / n / 1e9
        want_rec = sum(r[2] for r in rows) / n / 1e9
        assert got[l]["n_queries"] == n
        assert abs(got[l]["mean_mrr"] - want_mrr) < 1e-9
        assert abs(got[l]["mean_ndcg10"] - want_ndcg) < 1e-9
        assert abs(got[l]["mean_recall10"] - want_rec) < 1e-9
    # the off-cluster query must NOT score a perfect MRR
    assert got[1]["mean_mrr"] < 1.0


def test_centroid_outliers_length_mismatch_excluded(spark):
    """A vector whose length differs from its group's MODAL length is
    excluded up front — without that, the stray vector pollutes the
    centroid with extra dimensions and NULLs out the dot of every
    MAJORITY vector (zip_with pads the shorter side)."""
    from etl_tiki_webscraping_spark.operators.similarity import (
        centroid_cosine_outliers,
    )

    df = spark.createDataFrame(
        [
            (1, 0, [1.0, 0.0]),
            (2, 0, [0.9, 0.1]),
            (3, 0, [1.0, 0.0, 0.0]),  # 3-dim in a 2-dim-majority group
        ],
        "vec_id long, label int, embedding array<float>",
    )
    got = {r["vec_id"] for r in centroid_cosine_outliers(
        df, "embedding", "vec_id", "label", k=10
    ).collect()}
    assert 3 not in got and got == {1, 2}
