"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Timing = full query execution including the action (``run_action``:
collect for small results, a hash fold or count for large ones) — scan
+ shuffle + aggregate, not just plan construction.  Every timed run
goes through ``time_query`` -> ``metrics.measure``, which also splits
the run into stages and operators; each headliner's pass-2 split is
kept under ``layers_pass2`` on the detail line and in
bench_history.jsonl.  ``warm`` pays the session's first-use costs
(JVM/codegen, Python workers, page cache, streaming engine) untimed.

TWO timed passes: pass 1 pays first-touch costs that aren't the plan's
fault (parquet footer reads, first broadcast build, shuffle-service
warm-up), pass 2 is the steady-state plan cost.  ``value``/``queries``
report pass 1 (comparable to BENCH_r01, which was single-pass);
``queries_pass2``/``value_pass2`` separate position cost from plan
cost.  One-time fixture STAGING (snapshot/bucketed/SQLite/stream-input
builds — a deployed warehouse already exists when a query runs) and
OS page-cache/Python-worker warm-up run BEFORE pass 1, untimed
(r6 VERDICT ask #3), so pass 1 reflects first-touch engine cost, not
warehouse construction.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: the reference-surface core + each extension family.
# (name, action) where action: 'collect' for small outputs, 'count'
# for row-heavy outputs so driver transfer doesn't dominate timing.
HEADLINE = [
    ("flagship", "collect"),
    ("groupby_agg_metrics", "collect"),
    ("star_join_rollup", "collect"),
    ("fk_semi_join", "count"),
    ("upsert_merge", "count"),
    ("dedup_deterministic", "count"),
    ("window_topk_per_group", "count"),
    ("sessionize_events", "count"),
    ("windowed_event_counts", "count"),
    ("streaming_windowed_counts", "count"),
    ("asof_join_events_orders", "hash"),
    ("cube_agg", "collect"),
    ("json_extraction", "hash"),
    ("dedup_exact_text", "count"),
    ("dedup_minhash_lsh", "count"),
    ("knn_bruteforce", "count"),
    ("knn_bruteforce_blocked", "count"),
    ("knn_lsh", "count"),
    ("text_quality_score", "hash"),
    ("tfidf_top_terms", "collect"),
    ("corpus_quality_filter", "count"),
    ("deterministic_split", "hash"),
    ("scd2_history_merge", "count"),
    ("dedup_cluster_components", "count"),
    ("multimodal_image_features", "count"),
    ("interval_join_purchase_context", "count"),
    ("incremental_hourly_rollup", "count"),
    ("stratified_hash_sample", "count"),
    # round-3 additions
    ("snapshot_partitioned_upsert", "count"),
    ("dbapi_partitioned_read", "count"),
    ("decontaminate_corpus", "count"),
    ("doc_repetition_score", "hash"),
    # round-5 additions
    ("corpus_pipeline_e2e", "count"),
    ("streaming_stream_stream_join", "count"),
    ("snapshot_file_skipping", "count"),
    # round-6 additions
    ("zorder_multidim_skipping", "count"),
    ("incremental_dedup_new_docs", "count"),
    ("crosscorpus_neardup_lsh", "count"),
    ("corpus_mix_sampled", "count"),
    ("cdc_apply_changes", "count"),
    ("bucketed_colocated_join", "count"),
    # round-7 additions
    ("bloom_pruned_semi_join", "count"),
    ("bm25_search", "collect"),
    ("snapshot_change_feed", "count"),
    ("cdc_replication_from_feed", "count"),
    ("pii_redact", "hash"),
    ("hll_sketch_rollup", "collect"),
    ("ivm_rollup_from_feed", "collect"),
    ("distribution_drift_psi", "collect"),
    ("sequence_assembly", "count"),
    ("hybrid_search_rrf", "collect"),
    ("incremental_postings_bm25", "collect"),
    ("streaming_cdc_replication", "count"),
    ("bloom_index_point_lookup", "collect"),
    # round-7 continuation (table maintenance / sketches / ingest / SQL)
    ("snapshot_restore", "count"),
    ("snapshot_table_diff", "count"),
    ("heavy_hitters_exact", "count"),
    ("table_profile", "collect"),
    ("kll_quantile_rollup", "collect"),
    ("cms_frequency_rollup", "collect"),
    ("theta_sketch_set_ops", "collect"),
    ("csv_ingest_quarantine", "count"),
    ("range_frame_moving_avg", "hash"),
    ("event_funnel_stages", "collect"),
    ("scd2_dim_from_feed", "count"),
    ("multi_exists_anti", "collect"),
    ("window_rank_functions", "hash"),
    ("doc_unigram_logprob", "count"),
    ("doc_chunking", "count"),
    ("recursive_cte_calendar", "collect"),
    ("grouped_topk_bounded", "count"),
    ("snapshot_dv_delete", "count"),
    ("snapshot_update_where", "count"),
    ("dynamic_partition_pruning", "count"),
    ("timeseries_gap_interpolation", "count"),
    ("k_anonymity_audit", "collect"),
    ("lateral_subquery_topn", "count"),
    ("not_in_null_aware", "count"),
    ("snapshot_files_metadata", "collect"),
    ("winsorize_clip", "count"),
    ("golden_record_survivorship", "count"),
    ("chunk_dedup_rate", "collect"),
    ("knn_pq_adc", "count"),
    # round-8 additions
    ("cohort_retention", "collect"),
    ("ivm_join_from_feed", "count"),
    ("streaming_stream_stream_left_outer", "count"),
    ("graph_pagerank", "count"),
    ("corpus_temperature_mix", "count"),
    ("multimodal_image_resize", "count"),
    ("entity_match_blocked", "count"),
    ("histogram_equi_width", "collect"),
    ("snapshot_compaction", "count"),
    ("embedding_pca_variance", "collect"),
    ("quality_model_score", "hash"),
    ("weighted_sample_per_group", "count"),
    ("setsim_prefix_join", "count"),
    ("grouped_ols_trend", "collect"),
    ("substring_dup_spans", "count"),
    ("dp_noisy_counts", "collect"),
    ("token_bigram_pmi", "collect"),
    ("image_dedup_ahash", "count"),
    ("basket_cooccurrence", "count"),
    ("event_transition_matrix", "collect"),
    ("time_weighted_average", "count"),
    ("streaming_dp_noisy_counts", "collect"),
    ("tpch_q1", "collect"),
    ("tpch_q3", "collect"),
    ("tpch_q5", "collect"),
    ("tpch_q6", "collect"),
    ("bpe_train_merges", "collect"),
    ("contamination_new_docs", "count"),
    ("tpch_q10", "collect"),
    ("tpch_q18", "collect"),
    ("part_triangles", "count"),
    ("embedding_dim_stats", "collect"),
    ("weighted_median_price", "collect"),
    ("entity_resolution_clusters", "count"),
    ("corpus_pipeline_v2", "collect"),
    ("tpch_q14", "collect"),
    ("zscore_outlier_report", "count"),
    ("tpch_q2", "collect"),
    ("tpch_q17", "collect"),
    ("tpch_q20", "collect"),
    ("tpch_q21", "collect"),
    ("bpe_encode_corpus", "count"),
    ("knn_ivf_pq", "count"),
    ("tpch_q4", "collect"),
    ("tpch_q7", "collect"),
    ("tpch_q8", "collect"),
    ("tpch_q9", "collect"),
    ("tpch_q11", "collect"),
    ("tpch_q12", "collect"),
    ("tpch_q13", "collect"),
    ("tpch_q15", "collect"),
    ("tpch_q16", "collect"),
    ("tpch_q19", "collect"),
    ("tpch_q22", "collect"),
    ("token_budget_cutoff", "count"),
    ("token_budget_per_lang", "count"),
    ("doc_bigram_logprob", "count"),
    ("logreg_quality_train", "collect"),
    ("model_calibration_bins", "collect"),
    ("dsir_importance_resample", "collect"),
    ("embedding_centroid_outliers", "collect"),
    ("doc_kneser_ney_logprob", "count"),
    ("event_ohlc_resample", "collect"),
    ("retrieval_quality_metrics", "collect"),
    ("gif_frame_sampling", "collect"),
    ("audio_spectral_features", "collect"),
    ("jpeg_image_stats", "collect"),
    ("unigram_train", "collect"),
    ("unigram_encode_corpus", "count"),
    ("gopher_repetition_stats", "hash"),
    ("gopher_repetition_filter", "count"),
    ("perplexity_terciles", "count"),
    ("quality_model_auc", "collect"),
    ("generation_overlap_eval", "count"),
    ("tokenizer_fertility_by_lang", "collect"),
    ("jpeg_progressive_stats", "collect"),
    ("gopher_repetition_cjk", "hash"),
    ("png_image_stats", "collect"),
    ("png_interlaced_stats", "collect"),
    ("html_text_extract", "hash"),
    ("dicttag_term_counts", "count"),
    ("blocklist_filter_survivors", "count"),
    ("url_canonicalize", "hash"),
    ("encoding_quality_report", "collect"),
    ("corpus_pipeline_v3", "count"),
    ("heaps_law_report", "collect"),
    ("doc_token_entropy", "count"),
    ("export_shard_manifest", "collect"),
    ("host_quality_rollup", "collect"),
    ("langid_confusion_matrix", "collect"),
    ("tpch_refresh_rf1_rf2", "collect"),
    ("streaming_corpus_screen", "collect"),
    ("variant_semistructured_extract", "hash"),
    ("contrastive_negatives_sample", "count"),
    ("attribution_last_touch", "hash"),
    ("asof_join_forward", "hash"),
    ("asof_join_nearest", "hash"),
    ("histogram_equi_depth", "collect"),
    ("dau_wau_stickiness", "collect"),
    ("quantile_normalize_scores", "hash"),
    ("mjpeg_video_stats", "collect"),
    # round-13 additions
    ("dedup_minhash_cjk", "count"),
    ("bm25_search_cjk", "collect"),
    ("udtf_sliding_chunks", "hash"),
    ("webp_image_stats", "collect"),
    ("flac_audio_features", "collect"),
    ("audio_format_quarantine", "collect"),
    ("audio_stream_metadata", "collect"),
    ("udtf_mp3_frames", "hash"),
    ("streaming_media_triage", "collect"),
    ("png_palette_stats", "collect"),
    ("langid_script_mixed", "hash"),
    ("webp_variants_stats", "collect"),
    # round-14 additions
    ("webp_lossy_meta", "collect"),
    ("mp4_stream_metadata", "collect"),
    ("image_exif_meta", "collect"),
    ("approx_distinct_users", "collect"),
    ("streaming_sketch_maintenance", "collect"),
    ("webp_native_parity", "collect"),
    ("webp_lossy_decode_meta", "collect"),
    ("warc_record_scan", "count"),
    ("webm_stream_metadata", "collect"),
    ("warc_html_extract", "hash"),
    ("avif_image_meta", "collect"),
    ("zip_container_meta", "collect"),
    ("sitemap_url_extract", "hash"),
    ("mp3_id3_tags", "collect"),
    ("robots_rules_extract", "hash"),
    # r15: HTTP-decoded WARC, PDF pair, docx capstone, sitemap index
    # recursion, robots gate — all Arrow-kernel or broadcast shapes
    ("warc_http_decoding", "hash"),
    ("pdf_doc_meta", "hash"),
    ("pdf_text_extract", "hash"),
    ("docx_text_extract", "hash"),
    ("sitemap_index_extract", "hash"),
    ("robots_url_gate", "hash"),
    ("crawl_frontier_gate", "hash"),
    ("warc_corpus_router", "hash"),
    # r15 wave 2: training-shard containers (tar/WebDataset, WET,
    # jsonl.gz) + subtitle cues — Arrow-kernel or narrow-codegen
    ("tar_shard_scan", "hash"),
    ("webdataset_sample_group", "hash"),
    ("wet_text_scan", "hash"),
    ("jsonl_gz_ingest", "hash"),
    ("subtitle_cue_extract", "hash"),
    ("tfrecord_example_scan", "hash"),
    ("avro_record_scan", "hash"),
    ("sequence_pack_manifest", "hash"),
    ("webdataset_media_router", "hash"),
    ("wds_datasource_scan", "hash"),
    ("streaming_shard_ingest", "collect"),
    ("compressed_shard_dispatch", "hash"),
    ("chat_turns_extract", "hash"),
    ("preference_pair_prep", "hash"),
    ("fim_transform", "hash"),
    ("context_length_histogram", "collect"),
]


def _final_line(
    pass1: dict, pass2: dict, regressions: dict, sf_str: str,
    sentinel: "dict | None" = None,
) -> str:
    """Totals-only final stdout line.  MUST stay under the driver's
    2000-char tail window regardless of how many queries run — only
    the 5 slowest appear by name (full dicts go on the detail line).
    ``sentinel`` carries the fixed-work host-contention probe
    (start/mid/end seconds + drift ratio) so a slow headline total is
    attributable to a slow HOST in the record itself."""
    top5 = dict(sorted(pass2.items(), key=lambda kv: -kv[1])[:5])
    rec = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(pass1.values()), 3),
        "unit": "sec",
        "value_pass2": round(sum(pass2.values()), 3),
        "sf": float(sf_str),
        "n_queries": len(pass1),
        "regressions_count": len(regressions),
        "queries": top5,
    }
    if sentinel is not None:
        rec["sentinel"] = {
            k: sentinel[k] for k in ("start", "mid", "end", "drift")
        }
        if "mode" in sentinel:
            rec["sentinel"]["mode"] = sentinel["mode"]
    return json.dumps(rec, separators=(",", ":"))



def warm(spark, sf_dir: str) -> None:
    """Untimed warm-up before any timed query, so no query is billed a
    first-in-session cost that is not its plan's:

    - JVM + codegen (a tiny query);
    - the per-core Arrow-UDF Python workers, forked with numpy
      imported (the dedup/similarity kernels use it, and a worker's
      first numpy import is the slow part);
    - the python-DataSource worker pool, a DIFFERENT pool (one 1-shard
      read; ~5 s of first-read startup otherwise);
    - the OS page cache over ``sf_dir``'s parquet, so a first scan
      does not find cold disk;
    - the streaming engine (micro-batch executor, state-store provider,
      memory-sink plumbing; ~2 s on a session's first stream).
    """
    import tempfile

    from pyspark.sql import functions as F

    from etl_tiki_webscraping_spark.operators.tarmeta import encode_tar_shard
    from etl_tiki_webscraping_spark.sources.wds_datasource import (
        WebDatasetDataSource,
    )

    spark.range(1000).selectExpr("sum(id)").collect()

    def _numpy_kernel(s):
        import numpy as np  # noqa: F401  (warms the worker's import cache)

        return s

    cpus = spark.sparkContext.defaultParallelism
    spark.range(10_000).repartition(cpus).select(
        F.pandas_udf(_numpy_kernel, "long")("id")
    ).count()

    spark.dataSource.register(WebDatasetDataSource)
    with tempfile.TemporaryDirectory(prefix="wds-warm-") as wdir:
        with open(os.path.join(wdir, "w.tar"), "wb") as fh:
            fh.write(encode_tar_shard(0, 1))
        (
            spark.read.format("webdataset")
            .schema("shard string, member_idx int, name string, size bigint")
            .option("path", wdir)
            .load()
            .count()
        )

    for root, _, files in os.walk(sf_dir, followlinks=True):
        for fname in sorted(files):
            if fname.endswith(".parquet"):
                with open(os.path.join(root, fname), "rb") as fh:
                    while fh.read(1 << 22):
                        pass

    with tempfile.TemporaryDirectory(prefix="bench-stream-warm-") as wdir:
        spark.createDataFrame([("w", 1)], "k string, v int").write.parquet(
            wdir + "/in"
        )
        (
            spark.readStream.schema("k string, v int")
            .parquet(wdir + "/in")
            .groupBy("k")
            .count()
            .writeStream.format("memory")
            .queryName("bench_warm_stream")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
            .awaitTermination(60)
        )


def run_action(df, action: str):
    """Execute ``df`` the way its headliner is timed and return the
    DataFrame whose plan ran: ``collect`` for small outputs; ``hash``
    forces EVERY output column (count() lets Catalyst prune
    unreferenced projections/windows — r12 found 11 headliners timing
    bare scans) with O(1) driver transfer, and bit_xor cannot
    overflow; ``count`` runs ``groupBy().count()``, the plan
    ``Dataset.count()`` runs."""
    from pyspark.sql import functions as F

    if action == "hash":
        df = df.select(F.xxhash64(*df.columns).alias("h")).agg(F.expr("bit_xor(h)"))
    elif action != "collect":
        df = df.groupBy().count()
    df.collect()
    return df


_ACTIONS = dict(HEADLINE)


def time_query(spark, sf_dir: str, name: str) -> "tuple[float, dict]":
    """One timed run of catalog query ``name`` (fresh lineage, its
    HEADLINE action, ``count`` when it has none): ``(seconds, totals)``
    with ``metrics.measure``'s stage/operator totals.

    The Spark cache is cleared afterwards.  Each fn() call builds FRESH
    lineage, so persisted blocks from a finished query are pure dead
    weight to every later one — 176 headliners of accumulated
    MEMORY_AND_DISK blocks turn pass 2 into GC thrash (measured:
    untouched queries ran 3-5x their pass-1 time LATE in pass 2; the
    r12 sf10 probe isolated the same mechanism at 345 s vs 29 s).  All
    cross-query staging is memoized as PATHS/plain lists, so dropping
    the cache between queries is free and honest."""
    from etl_tiki_webscraping_spark.metrics import measure
    from etl_tiki_webscraping_spark.plans.catalog import QUERIES

    fn, action = QUERIES[name].fn, _ACTIONS.get(name, "count")
    _, totals = measure(spark, name, lambda: run_action(fn(spark, sf_dir), action))
    spark.catalog.clearCache()
    return totals["wall_s"], totals


def main() -> None:
    from pyspark.sql import functions as F

    from etl_tiki_webscraping_spark.metrics import _gc_ms
    from etl_tiki_webscraping_spark.session import DEFAULT_CPUS, get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    cpus = int(DEFAULT_CPUS)
    warm(spark, SF_DIR)

    # one-time per-process fixture staging (snapshot/bucketed/SQLite/
    # stream-input builds) hoisted out of the timed region — a deployed
    # warehouse already exists when a query runs; the default stages
    # every fixture any catalog query declares
    from etl_tiki_webscraping_spark.plans.catalog import prepare_fixtures

    prepare_fixtures(spark, SF_DIR)

    def run_pass() -> "tuple[dict[str, float], dict[str, dict]]":
        timings: dict[str, float] = {}
        layers: dict[str, dict] = {}
        for name, _ in HEADLINE:
            timings[name], layers[name] = time_query(spark, SF_DIR, name)
        return timings, layers

    # Host-contention sentinel (VERDICT r13 "what's wrong" #1): the
    # same fixed work — a full parquet scan of lineitem folded through
    # xxhash64 plus a pure-CPU range fold — timed at run start, between
    # the passes, and at run end.  Identical code across rounds, so a
    # 280-vs-200s headline is attributable IN THE RECORD: if the
    # sentinel moved, the host was slow, not the engine.
    def run_sentinel() -> float:
        t0 = time.perf_counter()
        li = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
        li.select(F.xxhash64(*li.columns).alias("h")).agg(
            F.expr("bit_xor(h)")
        ).collect()
        spark.range(50_000_000).select(
            F.xxhash64("id").alias("h")
        ).agg(F.expr("bit_xor(h)")).collect()
        return round(time.perf_counter() - t0, 3)

    def loadavg() -> float:
        try:
            return round(os.getloadavg()[0], 2)
        except OSError:
            return -1.0

    # JVM-mode stamp (VERDICT r14 ask #6): cumulative GC time, heap
    # in use, and the ContextCleaner reference-buffer depth at each
    # pass boundary — so the documented "JVM accumulation" slow-run
    # mode is MEASURED in the record (gc delta per pass, cleaner
    # backlog) rather than inferred from flag shapes.  All fields
    # degrade to -1 if the JMX/reflection path is unavailable.
    def jvm_stamp() -> dict:
        out = {"gc_ms": -1, "heap_mb": -1, "cleaner_queue": -1}
        try:
            mf = spark._jvm.java.lang.management.ManagementFactory
            out["gc_ms"] = _gc_ms(spark)
            out["heap_mb"] = int(
                mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() >> 20
            )
        except Exception:
            pass
        try:
            copt = spark.sparkContext._jsc.sc().cleaner()
            if copt.isDefined():
                cleaner = copt.get()
                fld = cleaner.getClass().getDeclaredField("referenceBuffer")
                fld.setAccessible(True)
                out["cleaner_queue"] = int(fld.get(cleaner).size())
        except Exception:
            pass
        return out

    # load1 alongside each sentinel: a slow pass with FLAT sentinels
    # and normal load is JVM-internal (GC/cleaner accumulation — the
    # one observed r14 mode), not host contention; high load + slow
    # sentinel is the host.  Both are attributable from the record.
    sentinel = {"start": run_sentinel(), "load_start": loadavg(),
                "jvm_start": jvm_stamp()}
    pass1, _ = run_pass()
    sentinel["mid"] = run_sentinel()
    sentinel["load_mid"] = loadavg()
    sentinel["jvm_mid"] = jvm_stamp()
    pass2, layers2 = run_pass()
    sentinel["end"] = run_sentinel()
    sentinel["load_end"] = loadavg()
    sentinel["jvm_end"] = jvm_stamp()
    _sent_vals = [sentinel["start"], sentinel["mid"], sentinel["end"]]
    sentinel["drift"] = round(max(_sent_vals) / max(min(_sent_vals), 1e-9), 2)
    # one-line mode classification (host / jvm / clean) from the
    # stamps: a moved sentinel is the HOST; a flat sentinel with a
    # slower pass 2 and a GC-time delta that outgrew pass 1's (or a
    # cleaner backlog) is the JVM-accumulation mode; else clean.
    _gc1 = sentinel["jvm_mid"]["gc_ms"] - sentinel["jvm_start"]["gc_ms"]
    _gc2 = sentinel["jvm_end"]["gc_ms"] - sentinel["jvm_mid"]["gc_ms"]
    sentinel["gc_ms_pass1"] = _gc1 if sentinel["jvm_start"]["gc_ms"] >= 0 else -1
    sentinel["gc_ms_pass2"] = _gc2 if sentinel["jvm_mid"]["gc_ms"] >= 0 else -1
    _p1t, _p2t = sum(pass1.values()), sum(pass2.values())
    if sentinel["drift"] > 1.5:
        sentinel["mode"] = "host"
    elif _p2t > 1.3 * _p1t and (
        (_gc2 > 2 * max(_gc1, 1) and sentinel["gc_ms_pass1"] >= 0)
        or sentinel["jvm_end"]["cleaner_queue"] > 10_000
    ):
        sentinel["mode"] = "jvm"
    else:
        sentinel["mode"] = "clean"

    # Regression gate: diff steady-state (pass 2) timings against the
    # newest prior round's recorded bench. >1.5x AND >0.5s absolute is
    # flagged; an empty dict is the clean-run signal.  The absolute
    # floor exists because sub-second queries jitter far past 1.5x on
    # this shared host (fk_semi_join spans 0.5-1.5 s across identical
    # code in bench_history.jsonl — VERDICT r6 #8), so only deltas big
    # enough to matter at headline scale get flagged.
    regressions: dict[str, dict[str, object]] = {}
    prior_file = None
    here = os.path.dirname(os.path.abspath(__file__))
    sf_str = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]

    def _prior_candidates():
        # Prefer the locally-persisted full history (immune to the
        # driver's 2000-char stdout-tail truncation that nulled the
        # parsed BENCH_r03/r04/r05 artifacts).  The host is noisy (up
        # to 2x between back-to-back runs), so the comparison base is
        # the per-query MINIMUM over the last 5 same-sf entries — the
        # best-known steady state — not whichever single run happened
        # to land last.  Fall back to driver BENCH_r*.json.
        hist_path = os.path.join(here, "bench_history.jsonl")
        try:
            with open(hist_path) as fh:
                entries = [json.loads(line) for line in fh if line.strip()]
        except (OSError, json.JSONDecodeError):
            entries = []
        recent = [
            e
            for e in entries
            if isinstance(e, dict) and str(e.get("sf")) == sf_str
        ][-5:]
        best: dict[str, float] = {}
        for e in recent:
            for name, t in (e.get("queries_pass2") or e.get("queries") or {}).items():
                if isinstance(t, (int, float)) and (name not in best or t < best[name]):
                    best[name] = t
        if best:
            yield f"bench_history.jsonl (best of last {len(recent)})", {
                "queries_pass2": best
            }
        priors = sorted(
            f
            for f in os.listdir(here)
            if f.startswith("BENCH_r") and f.endswith(".json")
        )
        for f in reversed(priors):
            try:
                with open(os.path.join(here, f)) as fh:
                    wrapper = json.load(fh)
            except (OSError, json.JSONDecodeError):
                continue
            # Driver wrapper: {"sf": ..., "parsed": <json-or-null>, ...};
            # parsed is null when the tail truncated (r03/r05) or the run
            # failed (r04) — fall back to the wrapper, require a dict.
            # Only compare same-scale runs (wrapper sf vs this run's sf).
            if "sf" in wrapper and str(wrapper["sf"]) != sf_str:
                continue
            prior = wrapper.get("parsed") or wrapper
            if isinstance(prior, dict):
                yield f, prior

    for fname, prior in _prior_candidates():
        prior_q = prior.get("queries_pass2") or prior.get("queries")
        if prior_q:
            prior_file = fname
            for name, now in pass2.items():
                was = prior_q.get(name)
                if was and now > 1.5 * was and now - was > 0.5:
                    entry: dict[str, object] = {
                        "prior": was,
                        "now": now,
                        "ratio": round(now / was, 2),
                    }
                    regressions[name] = entry
            break

    # Auto-convergence re-run (r12 VERDICT "what's wrong" #1): a flag
    # with no note erodes the gate's signal — zscore_outlier_report
    # shipped a bare 4.05x flag in r12 whose same-run pass-1 sat at its
    # historical band.  Every flagged query now gets the evidence of
    # THIS run, never a note from an earlier round's cause: three
    # isolated back-to-back runs (fresh lineage, cache cleared between,
    # no 180-query position pressure).  If the best isolated run falls
    # back inside the flag threshold vs prior, the flag is annotated as
    # position/run-to-run noise with the evidence inline; if it does
    # not, it is annotated as a convergent (real) regression — either
    # way no flag ships unexplained.
    from etl_tiki_webscraping_spark.plans.catalog import QUERIES

    for name, entry in regressions.items():
        # A query that reads a staged fixture re-executes against the
        # in-process fixture store here, so the three "isolated" runs
        # would time only the final read and trivially converge
        # (ADVICE r13) — annotate instead of faking convergence evidence.
        if QUERIES[name].fixtures:
            skip = (
                "convergence re-run skipped: this query reads a memoized "
                "staged fixture, so in-process isolated re-runs time only "
                "the final read, not the flagged work — investigate via a "
                "fresh-process run if the flag recurs"
            )
            entry["note"] = skip
            continue
        runs = [time_query(spark, SF_DIR, name)[0] for _ in range(3)]
        entry["converged"] = runs
        best = min(runs)
        prior_t = float(entry["prior"])  # type: ignore[arg-type]
        # absolute allowance scales with the prior (ADVICE r13: a flat
        # 0.5s auto-dismissed any sub-0.5s slowdown, even a consistent
        # multi-x regression on a fast query)
        if best <= 1.5 * prior_t or best - prior_t <= max(0.1, 0.2 * prior_t):
            auto = (
                f"auto convergence re-run: 3 isolated runs {runs} converge to "
                f"{best}s vs prior {prior_t}s — inside the flag threshold, so "
                "the in-pass number was position/run-to-run noise, not a plan "
                "regression"
            )
        else:
            auto = (
                f"auto convergence re-run: 3 isolated runs {runs} stay at "
                f"{best}s vs prior {prior_t}s — the slowdown persists in "
                "isolation; treat as a REAL regression candidate"
            )
        entry["note"] = auto

    # Persist the full result locally so future regression gates don't
    # depend on the driver artifact surviving tail truncation.
    if sentinel["drift"] > 1.5:
        sentinel["note"] = (
            f"host contention moved the fixed sentinel {sentinel['drift']}x "
            "within this run — per-query and headline numbers from this run "
            "carry that host noise; compare pass-2 per-query vs "
            "bench_history bests, not run totals"
        )
    full = {
        "sf": sf_str,
        "cpus": cpus,
        "cache_policy": "clear_between_queries",  # since r12
        "value": round(sum(pass1.values()), 3),
        "value_pass2": round(sum(pass2.values()), 3),
        "sentinel": sentinel,
        "queries": pass1,
        "queries_pass2": pass2,
        "layers_pass2": layers2,
        "regressions": regressions,
        "regressions_vs": prior_file,
    }
    try:
        with open(os.path.join(here, "bench_history.jsonl"), "a") as fh:
            fh.write(json.dumps(full, separators=(",", ":")) + "\n")
    except OSError:
        pass

    # The driver captures a fixed-size TAIL of stdout; the FINAL line
    # must fit entirely inside that tail.  r03/r05 lost their totals
    # because the final line carried the full per-query dicts (~2.8 KB)
    # and its head fell outside the window.  Fix: emit the detail
    # payload (per-query timings, regression notes) on its OWN earlier
    # line, then a totals-only final line — a few hundred bytes that
    # can never overflow.  ``queries`` on the final line keeps the
    # driver-contract key but holds only the slowest 5 (for the
    # at-a-glance view); full dicts are on the detail line above.
    sys.stdout.flush()
    sys.stderr.flush()
    detail = {
        "detail": "bench_per_query",
        "queries": pass1,
        "queries_pass2": pass2,
        "layers_pass2": layers2,
        "sentinel": sentinel,
        "regressions": regressions,
        "regressions_vs": prior_file,
    }
    print(json.dumps(detail, separators=(",", ":")), flush=True)
    print(_final_line(pass1, pass2, regressions, sf_str, sentinel), flush=True)


if __name__ == "__main__":
    main()
