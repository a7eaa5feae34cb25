"""Cache lifetime: package code returns lazy frames and leaves no entry
in Spark's session-wide CacheManager.  A pin that outlives the call
that made it is never released, and a later read of the same path is
answered from it — a re-landed path then returns the previous files'
rows.  The one scoped pin is the IRLS fit's, released before it
returns (operators/mlfit.py)."""

from __future__ import annotations

import ast
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "etl_tiki_webscraping_spark",
)

# every bench headliner whose plan went through a session pin, plus
# lsh_pair_quality (minhash_candidate_pairs).  Together they cover each
# operator that used to pin: bigram_pmi, bm25_from_index,
# minhash_candidate_pairs, minhash_duplicate_edges, setsim_prefix_join,
# substring_dup_pairs, ordered_budget_select, distributed_ntile,
# scd2_from_change_feed and, through logreg_quality_train,
# logreg_train_irls.
FORMERLY_PINNED = (
    "bm25_search",
    "bm25_search_cjk",
    "corpus_pipeline_v3",
    "crosscorpus_neardup_lsh",
    "dedup_minhash_cjk",
    "dedup_minhash_lsh",
    "doc_bigram_logprob",
    "doc_kneser_ney_logprob",
    "histogram_equi_depth",
    "hybrid_search_rrf",
    "incremental_postings_bm25",
    "logreg_quality_train",
    "lsh_pair_quality",
    "perplexity_terciles",
    "scd2_dim_from_feed",
    "setsim_prefix_join",
    "substring_dup_spans",
    "token_bigram_pmi",
    "token_budget_cutoff",
    "token_budget_per_lang",
)


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_no_session_pin_outside_the_scoped_fit():
    sites = []
    for dirpath, _, files in os.walk(PKG):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            with open(path) as fh:
                tree = ast.parse(fh.read())
            sites += [
                f"{os.path.relpath(path, PKG)}:{n.lineno}"
                for n in ast.walk(tree)
                if isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr in ("persist", "cache")
            ]
    assert [s for s in sites if not s.startswith("operators/mlfit.py:")] == []
    assert len(sites) == 1  # the fit's own try/finally-scoped pin


def test_bigram_pmi_reads_a_relanded_path_afresh(spark, tmp_path):
    from etl_tiki_webscraping_spark.functions.text import bigram_pmi

    path = tmp_path / "docs"
    path.mkdir()

    def land(texts):
        pq.write_table(pa.table({"text": texts}), str(path / "part-0.parquet"))

    def pairs():
        df = bigram_pmi(spark.read.parquet(str(path)), "text", min_count=1)
        return {(r["tok_a"], r["tok_b"]) for r in df.collect()}

    land(["alpha beta", "alpha beta gamma"])
    assert pairs() == {("alpha", "beta"), ("beta", "gamma")}
    land(["delta epsilon"])
    assert pairs() == {("delta", "epsilon")}
    assert _cache_empty(spark)


def test_multiline_csv_reader_leaves_cache_empty(spark, tmp_path):
    from etl_tiki_webscraping_spark.metrics import measure
    from etl_tiki_webscraping_spark.sources.files import (
        read_csv_multiline_quarantine,
    )

    p = tmp_path / "data.csv"
    p.write_text('1,"a\nb",1.5\nnotanint,c,2.0\n')
    (good, bad), totals = measure(
        spark, "read", lambda: read_csv_multiline_quarantine(
            spark, str(p), "k bigint, s string, x double"
        ),
    )
    assert totals["spark.jobs"] == 0  # the checkpoint is lazy
    assert [tuple(r) for r in good.collect()] == [(1, "a\nb", 1.5)]
    assert _cache_empty(spark)
    assert [r["_raw"] for r in bad.collect()] == ["notanint,c,2.0"]
    assert _cache_empty(spark)


@pytest.fixture(scope="module")
def staged(spark, sf_dir):
    from etl_tiki_webscraping_spark.plans.catalog import prepare_fixtures

    prepare_fixtures(spark, sf_dir, names=FORMERLY_PINNED)
    return sf_dir


@pytest.mark.parametrize("name", FORMERLY_PINNED)
def test_repeated_runs_leave_cache_empty(spark, staged, name):
    from etl_tiki_webscraping_spark.plans.catalog import QUERIES

    # start from an empty cache, whatever earlier tests left behind;
    # the three runs below never clear it
    spark.catalog.clearCache()
    counts = []
    for _ in range(3):
        counts.append(len(QUERIES[name].fn(spark, staged).collect()))
        assert _cache_empty(spark), name
    assert counts[0] == counts[1] == counts[2]
