"""Dedup operator semantics: exact, MinHash-LSH, SimHash, n-gram
Jaccard (training-data-pipeline extension surface)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_tiki_webscraping_spark.operators.dedup import (
    connected_components,
    exact_dedup,
    jaccard_on_pairs,
    minhash_analysis,
    minhash_candidate_pairs,
    minhash_dedup,
    simhash_candidate_pairs,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 1
    (3, "The  quick brown fox jumps over the lazy dog near the river bank today"),  # ws/case variant of 1
    (4, "the quick brown fox jumps over the lazy dog near the river bank tonight"),  # near dup of 1
    (5, "completely different content about spark dataframes and catalyst optimizer rules"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id bigint, text string")


def test_exact_dedup_keeps_lowest_id(spark):
    out = exact_dedup(_docs(spark), "text", "doc_id")
    ids = sorted(r["doc_id"] for r in out.collect())
    # 2 and 3 normalize to doc 1's text; 4 and 5 are distinct
    assert ids == [1, 4, 5]


def test_minhash_signature_deterministic_and_discriminative(spark):
    a = minhash_analysis(_docs(spark), "text", "doc_id").collect()
    sig = {r["id"]: tuple(r["sig"]) for r in a}
    assert sig[1] == sig[2]  # identical text -> identical signature
    assert sig[1] != sig[5]  # unrelated text -> different signature
    # near-dup docs share most signature components
    matches = sum(x == y for x, y in zip(sig[1], sig[4]))
    assert matches > len(sig[1]) // 2


def test_minhash_candidates_find_near_dups_not_unrelated(spark):
    pairs = {(r["id_a"], r["id_b"]) for r in minhash_candidate_pairs(_docs(spark), "text", "doc_id").collect()}
    assert (1, 2) in pairs
    assert (1, 4) in pairs
    assert not any(5 in p for p in pairs)


def test_minhash_dedup_drops_higher_id_near_dups(spark):
    out = minhash_dedup(_docs(spark), "text", "doc_id", threshold=0.8)
    ids = sorted(r["doc_id"] for r in out.collect())
    assert 1 in ids and 5 in ids
    assert 2 not in ids  # exact dup dropped
    assert ids == sorted(set(ids))


def test_jaccard_on_pairs_exact_values(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e"), (3, "x y z w")],
        "doc_id bigint, text string",
    )
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "id_a bigint, id_b bigint")
    out = {(r["id_a"], r["id_b"]): r["jaccard"] for r in jaccard_on_pairs(pairs, docs, "text", "doc_id", shingle_n=1).collect()}
    assert abs(out[(1, 2)] - 3 / 5) < 1e-9  # |{a,b,c}| / |{a,b,c,d,e}|
    assert out[(1, 3)] == 0.0


def test_connected_components_chain_and_islands(spark):
    # chain 1-2-3 (1 and 3 not directly linked), island 4-5, singleton edge 6-7
    edges = spark.createDataFrame(
        [(2, 3), (1, 2), (4, 5), (6, 7)], "id_a bigint, id_b bigint"
    )
    out = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6, 7: 6}


def test_connected_components_long_chain_converges(spark):
    # 400-node path graph: one-hop propagation would need 400 rounds;
    # pointer jumping must close it within the default max_iter
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(400)], "id_a bigint, id_b bigint"
    )
    out = connected_components(edges).collect()
    assert len(out) == 401
    assert all(r["component"] == 0 for r in out)


def test_connected_components_transitive_via_high_id(spark):
    # 1~3 and 2~3: single-pass drop-higher-id keeps {1, 2}; exact
    # components must merge all three through the shared high neighbor
    edges = spark.createDataFrame([(1, 3), (2, 3)], "id_a bigint, id_b bigint")
    out = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1}


def test_minhash_dedup_exact_components_collapses_chains(spark):
    # sliding-window chain: neighbors are near-dups, endpoints are not
    toks = ["w%d" % i for i in range(20)]
    chain = [
        (1, " ".join(toks[0:14])),   # w0..w13
        (2, " ".join(toks[1:15])),   # w1..w14 -> J(1,2) = 13/15 ≈ 0.867
        (3, " ".join(toks[2:16])),   # w2..w15 -> J(2,3) ≈ 0.867, J(1,3) = 12/16 = 0.75
    ]
    docs = spark.createDataFrame(chain, "doc_id bigint, text string")
    kwargs = dict(threshold=0.8, shingle_n=1, num_hashes=256, bands=128)
    exact = sorted(
        r["doc_id"]
        for r in minhash_dedup(
            docs, "text", "doc_id", exact_components=True, **kwargs
        ).collect()
    )
    assert exact == [1]  # whole chain collapses to one survivor


def test_minhash_dedup_exact_components_vs_single_pass_divergence(spark):
    # 1~3 and 2~3 similar, 1!~2: single-pass keeps {1,2}; exact keeps {1}
    toks = ["w%d" % i for i in range(40)]
    d1 = " ".join(toks[0:14])                 # w0..w13
    d2 = " ".join(toks[20:34])                # w20..w33 (disjoint from d1)
    d3 = " ".join(toks[0:13] + toks[20:33])   # 13 tokens of each
    # J(1,3) = 13/27 ; too low. Make d3 near both by high overlap is
    # impossible with J>=0.8 pairwise but J(1,2)=0 — use a lower threshold.
    docs = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3)], "doc_id bigint, text string"
    )
    kwargs = dict(threshold=0.4, shingle_n=1, num_hashes=256, bands=128)
    single = sorted(
        r["doc_id"] for r in minhash_dedup(docs, "text", "doc_id", **kwargs).collect()
    )
    exact = sorted(
        r["doc_id"]
        for r in minhash_dedup(
            docs, "text", "doc_id", exact_components=True, **kwargs
        ).collect()
    )
    assert single == [1, 2]  # 2 is not near any LOWER id -> survives single-pass
    assert exact == [1]      # component {1,2,3} -> one survivor


def test_simhash_pairs_identical_distance_zero(spark):
    out = simhash_candidate_pairs(_docs(spark), "text", "doc_id")
    rows = {(r["id_a"], r["id_b"]): r["hamming"] for r in out.collect()}
    assert rows.get((1, 2)) == 0  # identical docs -> identical simhash
    assert all(h <= 3 for h in rows.values())
    assert not any(5 in (a, b) for a, b in rows)


def test_hot_bucket_cap_bounds_adversarial_corpus(spark):
    """10^4 byte-identical docs all hash into the same LSH buckets; the
    hot-bucket cap must drop those buckets so candidate generation stays
    bounded instead of producing ~5*10^7 pairs in one task."""
    from etl_tiki_webscraping_spark.operators.dedup import (
        cap_bucket_membership,
        hot_buckets,
        minhash_analysis,
        _band_buckets,
    )

    n = 10_000
    rows = [(i, "identical adversarial text repeated in every single row") for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    capped = minhash_candidate_pairs(df, "text", "doc_id", bucket_cap=256)
    assert capped.count() == 0  # every bucket oversize -> dropped entirely

    # the diagnostic surface reports exactly what was dropped
    sig = minhash_analysis(df, "text", "doc_id").select("id", "sig")
    buckets = sig.select(
        "id", F.explode(_band_buckets(F.col("sig"), 16, 4)).alias("bb")
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    dropped = hot_buckets(buckets, ["band", "bucket"], 256).collect()
    assert len(dropped) == 16  # one hot bucket per band
    assert all(r["members"] == n for r in dropped)
    assert cap_bucket_membership(buckets, ["band", "bucket"], 256).count() == 0

    # simhash: the same mass collapses to one 64-bit hash -> 4 hot chunks
    sh_pairs = simhash_candidate_pairs(df, "text", "doc_id", bucket_cap=256)
    assert sh_pairs.count() == 0

    # exact dedup still catches the identical mass (the cap's contract)
    assert exact_dedup(df, "text", "doc_id").count() == 1


def test_hot_bucket_cap_leaves_normal_corpus_unchanged(spark):
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in minhash_candidate_pairs(_docs(spark), "text", "doc_id", bucket_cap=None).collect()
    }
    capped = {
        (r["id_a"], r["id_b"])
        for r in minhash_candidate_pairs(_docs(spark), "text", "doc_id", bucket_cap=1024).collect()
    }
    assert uncapped == capped and (1, 2) in capped


def test_cosine_dedup_hot_cell_cap_bounds_identical_vectors(spark):
    from etl_tiki_webscraping_spark.operators.similarity import cosine_dedup_pairs

    rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(2000)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = cosine_dedup_pairs(df, threshold=0.95, bucket_cap=128)
    assert out.count() == 0  # every SRP cell oversize -> dropped


def test_connected_components_contraction_path_matches_local(spark, monkeypatch):
    """Force the multi-round contraction path (threshold 0) and prove it
    produces exactly the local-solve result on chains, islands, and
    transitive merges — the >100k-edge scale path stays covered even
    though small fixtures short-circuit."""
    import etl_tiki_webscraping_spark.operators.dedup as dd

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (5, 40), (40, 6)],
        "id_a bigint, id_b bigint",
    ).repartition(8)
    local = {(r["id"], r["component"]) for r in connected_components(edges).collect()}
    monkeypatch.setattr(dd, "_CC_LOCAL_THRESHOLD", 0)
    contracted = {
        (r["id"], r["component"]) for r in connected_components(edges).collect()
    }
    assert contracted == local
    assert (4, 1) in contracted and (22, 20) in contracted and (6, 5) in contracted


def test_minhash_cross_corpus_candidates(spark):
    """Cross-corpus LSH (incremental-crawl dedup): new docs that
    near-duplicate an existing doc are paired with it; unrelated new
    docs pair with nothing; old-old and new-new pairs never appear."""
    from etl_tiki_webscraping_spark.operators.dedup import minhash_candidate_pairs_cross

    old = spark.createDataFrame(
        [(1, DOCS[0][1]), (2, DOCS[4][1])], "doc_id bigint, text string"
    )
    new = spark.createDataFrame(
        [
            (10, DOCS[3][1]),  # near dup of old doc 1
            (11, "entirely novel text on streaming watermarks and state store eviction policies"),
        ],
        "doc_id bigint, text string",
    )
    pairs = {
        (r["new_id"], r["old_id"])
        for r in minhash_candidate_pairs_cross(new, old, "text", "doc_id").collect()
    }
    assert (10, 1) in pairs
    assert not any(n == 11 for n, _ in pairs)
    assert all(n in (10, 11) and o in (1, 2) for n, o in pairs)


class TestSetsimPrefixJoin:
    def test_equals_exact_all_pairs_jaccard(self, spark):
        """Prefix filtering is complete: the result must equal the
        brute-force all-pairs exact Jaccard >= 3/5 pair set (computed
        in python on the token sets), including boundary pairs whose
        Jaccard is exactly the threshold."""
        import itertools

        from etl_tiki_webscraping_spark.operators.dedup import (
            setsim_prefix_join,
        )

        texts = {
            1: "a b c d e",
            2: "a b c d f",      # jac vs 1 = 4/6 = 2/3 >= 3/5
            3: "a b c",          # jac vs 1 = 3/5 (exact boundary)
            4: "x y z",
            5: "x y z",          # jac vs 4 = 1
            6: "a q r s t u v",  # jac vs 1 = 1/11
        }
        df = spark.createDataFrame(
            list(texts.items()), "doc_id int, text string"
        )
        got = {
            (r.id_a, r.id_b): (r.inter, r.union_sz)
            for r in setsim_prefix_join(df, "doc_id", "text", 3, 5).collect()
        }
        want = {}
        for (i, a), (j, b) in itertools.combinations(
            sorted((k, set(v.split())) for k, v in texts.items()), 2
        ):
            inter, union = len(a & b), len(a | b)
            if 5 * inter >= 3 * union:
                want[(i, j)] = (inter, union)
        assert got == want
        assert (1, 3) in got  # the exact-boundary pair survived

    def test_bad_threshold_raises(self, spark):
        import pytest

        from etl_tiki_webscraping_spark.operators.dedup import (
            setsim_prefix_join,
        )

        df = spark.createDataFrame([(1, "a")], "doc_id int, text string")
        with pytest.raises(ValueError, match="threshold"):
            setsim_prefix_join(df, "doc_id", "text", 0, 5)
        with pytest.raises(ValueError, match="threshold"):
            setsim_prefix_join(df, "doc_id", "text", 6, 5)


class TestWinnowingSubstringDup:
    def test_guarantee_shared_span_always_detected(self, spark):
        """The winnowing guarantee: any shared span >= k + w - 1 chars
        yields >= 1 shared fingerprint, regardless of where the span
        sits in either document and of surrounding text."""
        from etl_tiki_webscraping_spark.operators.dedup import (
            substring_dup_pairs,
        )

        span = "abcdefghijklmnopqrstuvw"  # exactly k + w - 1 = 23 chars
        df = spark.createDataFrame(
            [
                (1, "PREFIX one " + span + " SUFFIX one"),
                (2, span + " totally other tail content here"),
                (3, "no overlap with anything else at all here"),
            ],
            "id int, text string",
        )
        got = {
            (r.id_a, r.id_b)
            for r in substring_dup_pairs(
                df, "id", "text", k=16, w=8, min_shared=1
            ).collect()
        }
        assert (1, 2) in got
        assert not any(3 in p for p in got)

    def test_normalization_case_and_whitespace_insensitive(self, spark):
        from etl_tiki_webscraping_spark.operators.dedup import (
            substring_dup_pairs,
        )

        df = spark.createDataFrame(
            [
                (1, "The  Quick   Brown Fox Jumps Over The Lazy Dog"),
                (2, "zz the quick brown fox jumps over the lazy dog zz"),
            ],
            "id int, text string",
        )
        got = substring_dup_pairs(df, "id", "text", min_shared=1).collect()
        assert [(r.id_a, r.id_b) for r in got] == [(1, 2)]

    def test_short_docs_emit_no_fingerprints(self, spark):
        from etl_tiki_webscraping_spark.operators.dedup import (
            winnow_fingerprints,
        )

        df = spark.createDataFrame(
            [(1, "tiny"), (2, "a" * 22), (3, "b" * 23)],
            "id int, text string",
        )
        got = winnow_fingerprints(df, "id", "text", k=16, w=8)
        ids = {r.id for r in got.collect()}
        assert ids == {3}  # k + w - 1 = 23: only the 23-char doc emits

    def test_matches_single_node_reference(self, spark):
        """Fingerprint selection equals a direct python winnowing of
        the same normalized text with the same hash."""
        import hashlib
        import re

        from etl_tiki_webscraping_spark.operators.dedup import (
            _WINNOW_BASE,
            winnow_fingerprints,
        )

        texts = {
            1: "the quick brown fox jumps over the lazy dog again and again",
            2: "pack my box with five dozen liquor jugs every single day now",
        }
        k, w = 16, 8
        df = spark.createDataFrame(
            list(texts.items()), "id int, text string"
        )
        got = {
            (r.id, r.h, r.pos)
            for r in winnow_fingerprints(df, "id", "text", k, w).collect()
        }
        want = set()
        for id_, raw in texts.items():
            t = re.sub(r"\s+", " ", raw.lower().strip())
            encs = [
                int(hashlib.md5(t[i : i + k].encode()).hexdigest()[:8], 16)
                * _WINNOW_BASE
                + i
                + 1
                for i in range(len(t) - k + 1)
            ]
            sel = {
                min(encs[j : j + w]) for j in range(len(encs) - w + 1)
            }
            want |= {
                (id_, e // _WINNOW_BASE, e % _WINNOW_BASE) for e in sel
            }
        assert got == want


def test_winnow_excludes_docs_past_encoder_base(spark):
    """A doc longer than the position-encoder base would silently
    corrupt fingerprints; it must be excluded instead."""
    from etl_tiki_webscraping_spark.operators.dedup import (
        _WINNOW_BASE,
        winnow_fingerprints,
    )

    df = spark.createDataFrame(
        [(1, "x" * (_WINNOW_BASE + 10)), (2, "normal sized document text")],
        "id int, text string",
    )
    got = {r.id for r in winnow_fingerprints(df, "id", "text").collect()}
    assert got == {2}


def test_contaminated_new_docs_detects_cross_corpus_span(spark):
    """A new doc carrying a >= 23-char span from the base corpus must
    surface against exactly that base doc; clean new docs must not.
    The base side is ONLY its gram-carrying fingerprint store — no
    base text reaches the probe."""
    from etl_tiki_webscraping_spark.operators.dedup import (
        contaminated_new_docs,
        winnow_fingerprints,
    )

    base = spark.createDataFrame(
        [
            (1, "the benchmark answer key says forty two exactly"),
            (2, "unrelated base material with its own words"),
        ],
        "id int, text string",
    )
    new = spark.createDataFrame(
        [
            (10, "prefix THE BENCHMARK ANSWER KEY SAYS forty two exactly suffix"),
            (11, "entirely novel content nothing shared with base"),
        ],
        "id int, text string",
    )
    got = {
        (r.new_id, r.base_id)
        for r in contaminated_new_docs(
            new,
            winnow_fingerprints(base, "id", "text", with_grams=True),
            "id",
            "text",
        ).collect()
    }
    assert got == {(10, 1)}


def test_winnow_grams_match_text_at_position(spark):
    """with_grams=True attaches exactly the k-char normalized-text
    slice at each fingerprint position."""
    from etl_tiki_webscraping_spark.operators.dedup import (
        normalize_text,
        winnow_fingerprints,
    )

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again"),
            (2, "  Pack  MY box\twith five dozen liquor jugs daily  "),
        ],
        "id int, text string",
    )
    k = 16
    norm = {
        r.id: r.t
        for r in df.select("id", normalize_text("text").alias("t")).collect()
    }
    plain = {
        (r.id, r.h, r.pos)
        for r in winnow_fingerprints(df, "id", "text", k=k, w=8).collect()
    }
    got = winnow_fingerprints(
        df, "id", "text", k=k, w=8, with_grams=True
    ).collect()
    # same fingerprint set, plus the correct gram per row
    assert {(r.id, r.h, r.pos) for r in got} == plain
    for r in got:
        assert r.gram == norm[r.id][r.pos - 1 : r.pos - 1 + k]


def test_winnow_coverage_routes_every_doc(spark):
    """Every doc lands in exactly one status; oversize docs are
    quarantined (observable), not silently dropped."""
    from etl_tiki_webscraping_spark.operators.dedup import (
        _WINNOW_BASE,
        winnow_coverage,
        winnow_fingerprints,
    )

    df = spark.createDataFrame(
        [
            (1, "tiny"),
            (2, "a" * 22),
            (3, "this one is plenty long enough to fingerprint ok"),
            (4, "x" * (_WINNOW_BASE + 5)),
        ],
        "id int, text string",
    )
    got = {
        r.status: (r.n_docs, r.total_chars)
        for r in winnow_coverage(df, "id", "text").collect()
    }
    assert got == {
        "too_short": (2, 26),
        "fingerprinted": (1, 48),
        "oversize_quarantined": (1, _WINNOW_BASE + 5),
    }
    # coverage statuses agree with what winnow_fingerprints emits
    emitted = {r.id for r in winnow_fingerprints(df, "id", "text").collect()}
    assert emitted == {3}


def test_winnow_coverage_null_text_counts_as_too_short(spark):
    """Regression: a NULL normalized length made BOTH range conditions
    NULL (falsy) so the otherwise() branch claimed NULL-text docs as
    'fingerprinted' even though winnow_fingerprints emits nothing for
    them — the exact silent exclusion the report exists to surface."""
    from etl_tiki_webscraping_spark.operators.dedup import (
        winnow_coverage,
        winnow_fingerprints,
    )

    docs = spark.createDataFrame(
        [(1, None), (2, "x" * 100), (3, "tiny")],
        "doc_id long, text string",
    )
    rep = {r["status"]: (r["n_docs"], r["total_chars"])
           for r in winnow_coverage(docs, "doc_id", "text").collect()}
    assert rep["fingerprinted"] == (1, 100)
    assert rep["too_short"] == (2, 4)  # NULL doc contributes 0 chars
    # the report agrees with what the fingerprinter actually emits
    fp_ids = {r["id"] for r in
              winnow_fingerprints(docs, "doc_id", "text").select("id")
              .distinct().collect()}
    assert fp_ids == {2}


def test_exact_dedup_null_text_rows_all_pass_through(spark):
    """Regression: md5(NULL) is NULL and groupBy treats NULLs as
    equal, so every NULL-text row collapsed into one group and only
    min(id) survived — deleting rows that are not duplicates of
    anything.  NULL-text rows are not dedup candidates; they all pass
    through.  Empty strings still dedup among themselves."""
    from etl_tiki_webscraping_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(1, None), (2, None), (3, ""), (4, ""), (5, "x"), (6, "x")],
        "doc_id long, text string",
    )
    kept = sorted(r.doc_id for r in exact_dedup(df, "text", "doc_id").collect())
    assert kept == [1, 2, 3, 5]


def test_simhash_rejects_unguaranteed_hamming(spark):
    """max_hamming > 3 would silently lose recall (4-chunk pigeonhole
    only guarantees distance <= 3) — must refuse loudly."""
    import pytest as _pytest

    from etl_tiki_webscraping_spark.operators.dedup import (
        simhash_candidate_pairs,
    )

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="max_hamming"):
        simhash_candidate_pairs(df, "text", "doc_id", max_hamming=4)


def test_minhash_cjk_pair_caught_only_with_segment_cjk(spark):
    """r12 VERDICT ask #5 pin: a CJK near-dup pair (same 20-ideograph
    body, one 2-char suffix difference) is INVISIBLE to whitespace
    shingling (each doc is 1-2 giant tokens -> whole-doc fallback
    shingles, Jaccard 0) and CAUGHT with segment_cjk=True (character
    bigrams share ~90% of shingles)."""
    from etl_tiki_webscraping_spark.operators.dedup import minhash_dedup

    body = "日月火水木金土山川田中大小上下人日月火水"
    docs = spark.createDataFrame(
        [
            (0, body),
            (1, body + " 木金"),   # near-dup of 0
            (2, "あいうえおかきくけこさしすせそたあいうえ"),  # unrelated
        ],
        "doc_id long, text string",
    )
    blind = minhash_dedup(docs, "text", "doc_id", threshold=0.8)
    assert blind.count() == 3  # nothing caught: every doc survives
    aware = minhash_dedup(
        docs, "text", "doc_id", threshold=0.8, segment_cjk=True
    )
    survivors = sorted(r["doc_id"] for r in aware.collect())
    assert survivors == [0, 2]  # doc 1 dropped as near-dup of doc 0


def test_bucket_cap_keeps_null_keys_uncapped(spark):
    """A NULL bucket key never joins, so the cap leaves its rows alone
    however many share it; a non-NULL bucket over the cap goes whole."""
    from etl_tiki_webscraping_spark.operators.dedup import cap_bucket_membership

    rows = (
        [(i, 0, None) for i in range(5)]  # 5 NULL buckets, over a cap of 3
        + [(i, 0, 7) for i in range(10, 14)]  # 4 members: hot
        + [(i, 0, 8) for i in range(20, 23)]  # 3 members: at the cap
        + [(30, None, 7)]  # NULL band
    )
    buckets = spark.createDataFrame(rows, "id bigint, band int, bucket bigint")
    kept = sorted(r["id"] for r in cap_bucket_membership(buckets, ["band", "bucket"], 3).collect())
    assert kept == [0, 1, 2, 3, 4, 20, 21, 22, 30]


def _unreused_python_evals(df) -> int:
    """ArrowEvalPython nodes of ``df``'s final executed plan, not
    counting those under a reused exchange (they ran once)."""
    n, stack = 0, [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStage"):
            stack.append(node.plan())
            continue
        if name == "ReusedExchange":
            continue
        n += name == "ArrowEvalPython"
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return n


def test_capped_minhash_edges_run_the_signature_kernel_twice(spark):
    """With a bucket over the cap, the signature kernel runs once for
    the banding (both self-join sides reuse the cap's exchange) and once
    for the verify leg's shingle-hash sets."""
    from etl_tiki_webscraping_spark.operators.dedup import minhash_duplicate_edges

    boiler = "accept cookies to continue browsing this site and agree to our terms"
    docs = DOCS + [(i, boiler) for i in range(10, 15)]  # 5 members > cap 3
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    edges = minhash_duplicate_edges(df, "text", "doc_id", bucket_cap=3)
    got = {(r["id_a"], r["id_b"]) for r in edges.collect()}
    assert (1, 2) in got
    assert not any(a >= 10 for a, _ in got)  # the boilerplate buckets were dropped
    assert _unreused_python_evals(edges) <= 2
