"""One-off sf1 scaling evidence (VERDICT r6 ask #5): run the five
headline scale queries — LSH dedup, cross-corpus dedup, corpus
capstone, partitioned snapshot upsert, stream-stream join — against a
10x scale-up of the sf0.1 fixtures and append one entry to
bench_history.jsonl.

There is no driver-generated sf1 dataset, so the input is synthesized
from sf0.1 (never touching /root/testdata): each table is a union of
10 replicas with ids offset by a replica stride.  Document text is
token-SALTED per replica (every word gets the replica digit appended),
so cross-replica copies of one document share NO shingles — duplicate
density per replica stays exactly the fixture's, and total work scales
10x instead of degenerating into 10-way exact-duplicate clusters that
no real corpus exhibits.  Event user ids are offset per replica for
the same reason: join/watermark density per user is preserved while
the event RATE per hour grows 10x (the scale axis a busier deployment
actually sees).  Other tables are symlinked from sf0.1 unchanged.

Run it ALONE (bench discipline: no concurrent Spark jobs):

    python tools/bench_sf1.py
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

SRC_SF = "/root/testdata/sf0.1"
SCALED_DIR = "/tmp/spark-graft-sf1"
REPLICAS = 10
DOC_STRIDE = 1_000_000
EVENT_STRIDE = 10_000_000
USER_STRIDE = 100_000

FIVE = [
    "dedup_minhash_lsh",
    "crosscorpus_neardup_lsh",
    "corpus_pipeline_e2e",
    "snapshot_partitioned_upsert",
    "streaming_stream_stream_join",
]

# round-7 scale headliners: bloom pruning + BM25 + the CDF family.
# orders/customer are synthesized with key offsets divisible by 15 so
# the %3/%5 commit slices of the CDF fixture keep their per-replica
# density (total change volume scales exactly 10x).
NEW_R7 = [
    "bloom_pruned_semi_join",
    "bm25_search",
    "snapshot_change_feed",
    "cdc_replication_from_feed",
    "ivm_rollup_from_feed",
    "distribution_drift_psi",
    "sequence_assembly",
    "incremental_postings_bm25",
    "hybrid_search_rrf",  # embeddings side stays fixture-sized (symlinked)
    "bloom_index_point_lookup",
]

ORDER_STRIDE = 1_500_000  # % 15 == 0
CUST_STRIDE = 150_000

# round-7 continuation headliners (second session): table maintenance,
# sketches, LM scoring, chunking, window/funnel shapes.  lineitem is
# now replicated too (l_orderkey offset keeps FK integrity with scaled
# orders; l_partkey UNCHANGED so per-part row density grows 10x — the
# axis heavy-hitter mining and profiling actually scale on).
NEW_R7D = [
    "snapshot_dv_delete",
    "snapshot_update_where",
    "grouped_topk_bounded",
    "knn_pq_adc",
    "winsorize_clip",
    "golden_record_survivorship",
    "chunk_dedup_rate",
    "recursive_cte_calendar",
]

# round-8: the SCD2 dimension built from a change feed, the cohort
# matrix, and fresh re-measurement of the two slowest r7 headliners
# (VERDICT r7 ask #7 asked for their sf1 evidence).
NEW_R8 = [
    "scd2_dim_from_feed",
    "cohort_retention",
    "streaming_stream_stream_join",
]

# round-8 continuation: the session's new operators on scaled inputs
# (orders/customer/lineitem/documents all 10x; embeddings stays
# fixture-sized — PCA's cost axis is d^2, not n, so the scan is the
# only n-term and the reduce cardinality is constant by design).
NEW_R8B = [
    "graph_pagerank",
    "entity_match_blocked",
    "quality_model_score",
    "weighted_sample_per_group",
    "histogram_equi_width",
    "snapshot_compaction",
    "ivm_join_from_feed",
    "streaming_stream_stream_left_outer",
    "corpus_temperature_mix",
    "embedding_pca_variance",
]

# round-8 continuation, second wave: dedup/analytics/TPC-H additions
# on the same 10x synthesis (documents salted, orders/customer/
# lineitem key-offset).
NEW_R8C = [
    "setsim_prefix_join",
    "substring_dup_spans",
    "image_dedup_ahash",
    "token_bigram_pmi",
    "dp_noisy_counts",
    "basket_cooccurrence",
    "event_transition_matrix",
    "time_weighted_average",
    "grouped_ols_trend",
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "bpe_train_merges",
]

# round-8 continuation, third wave.
NEW_R8D = [
    "contamination_new_docs",
    "tpch_q10",
    "tpch_q18",
    "part_triangles",
    "embedding_dim_stats",
    "weighted_median_price",
    "entity_resolution_clusters",
    "corpus_pipeline_v2",
    "streaming_dp_noisy_counts",
]

# round-9: the TPC-H completion set (the 11 finishing the full 22),
# the round-8-close decorrelation set, and the tokenizer/ANN composers.
NEW_R9 = [
    "tpch_q2",
    "tpch_q17",
    "tpch_q20",
    "tpch_q21",
    "bpe_encode_corpus",
    "knn_ivf_pq",
    "tpch_q4",
    "tpch_q7",
    "tpch_q8",
    "tpch_q9",
    "tpch_q11",
    "tpch_q12",
    "tpch_q13",
    "tpch_q15",
    "tpch_q16",
    "tpch_q19",
    "tpch_q22",
    "token_budget_cutoff",
    "token_budget_per_lang",
    "doc_bigram_logprob",
    "logreg_quality_train",
    "model_calibration_bins",
]

NEW_R10 = [
    "retrieval_quality_metrics",
    "gif_frame_sampling",
    "audio_spectral_features",
    "dsir_importance_resample",
    "embedding_centroid_outliers",
    "doc_kneser_ney_logprob",
    "event_ohlc_resample",
    "graph_pagerank",
    "corpus_pipeline_e2e",
    "tpch_q9",
    "tpch_q12",
]

NEW_R11 = [
    # oracle upgrades (SRP Rademacher kernel / quantized IVF assign)
    "knn_lsh",
    "knn_ivf",
    "dedup_embedding_cosine",
    # deletion-join perf recovery (Arrow variant kernel)
    "entity_match_blocked",
    "entity_resolution_clusters",
    # new eval queries
    "quality_model_auc",
    "generation_overlap_eval",
    "tokenizer_fertility_by_lang",
    "conformal_coverage_report",
]

NEW_R13 = [
    # round-13: portable sketches (rows-only -> bit-strict rewrites),
    # CJK dedup/search wiring, the UDTF tier, WebP/FLAC codecs
    "hll_sketch_rollup",
    "kll_quantile_rollup",
    "theta_sketch_set_ops",
    "dedup_minhash_cjk",
    "bm25_search_cjk",
    "udtf_sliding_chunks",
    "webp_image_stats",
    "flac_audio_features",
    "audio_format_quarantine",
]

NEW_R14 = [
    # round-14: header-triage tiers + portable-HLL upgrades + the
    # extended Ogg-ident audio triage
    "webp_lossy_meta",
    "mp4_stream_metadata",
    "image_exif_meta",
    "approx_distinct_users",
    "streaming_sketch_maintenance",
    "audio_stream_metadata",
    "webp_native_parity",
    "webp_lossy_decode_meta",
    "warc_record_scan",
    "webm_stream_metadata",
    "warc_html_extract",
    "avif_image_meta",
    "zip_container_meta",
    "sitemap_url_extract",
    "mp3_id3_tags",
    "robots_rules_extract",
]

NEW_R15 = [
    # round-15: crawl HTTP realism + document formats (wave 1) and
    # training-shard containers + aligned text (wave 2)
    "warc_http_decoding",
    "pdf_doc_meta",
    "pdf_text_extract",
    "docx_text_extract",
    "sitemap_index_extract",
    "robots_url_gate",
    "crawl_frontier_gate",
    "warc_corpus_router",
    "tar_shard_scan",
    "webdataset_sample_group",
    "wet_text_scan",
    "jsonl_gz_ingest",
    "subtitle_cue_extract",
    "tfrecord_example_scan",
    "avro_record_scan",
    "sequence_pack_manifest",
    "webdataset_media_router",
    "wds_datasource_scan",
    "streaming_shard_ingest",
    "compressed_shard_dispatch",
    "chat_turns_extract",
    "preference_pair_prep",
    "fim_transform",
    "context_length_histogram",
]

NEW_R12 = [
    # the format trio completion + crawl-curation surface
    "jpeg_progressive_stats",
    "gopher_repetition_cjk",
    "png_image_stats",
    "png_interlaced_stats",
    "html_text_extract",
    "dicttag_term_counts",
    "blocklist_filter_survivors",
    "url_canonicalize",
    "encoding_quality_report",
    "corpus_pipeline_v3",
    "heaps_law_report",
    "doc_token_entropy",
    "export_shard_manifest",
    "host_quality_rollup",
    "langid_confusion_matrix",
    "tpch_refresh_rf1_rf2",
    "streaming_corpus_screen",
]

NEW_R7C = [
    "heavy_hitters_exact",
    "table_profile",
    "snapshot_table_diff",
    "scd2_dim_from_feed",
    "doc_unigram_logprob",
    "doc_chunking",
    "range_frame_moving_avg",
    "event_funnel_stages",
    "multi_exists_anti",
    "csv_ingest_quarantine",
]


def build_scaled(spark, replicas: int, scaled_dir: str) -> str:
    from pyspark.sql import functions as F

    # V4: c_name regenerates from the strided key (V3 kept names
    # VERBATIM, so every name existed REPLICAS times and any fuzzy
    # name-matching workload measured the duplication artifact —
    # sum |bucket|^2 grew REPLICAS^2 — instead of real growth; real
    # 10x TPC-H data has 10x DISTINCT names)
    done_marker = os.path.join(scaled_dir, "_SCALED_OK_V4")
    if os.path.exists(done_marker):
        return scaled_dir
    os.makedirs(scaled_dir, exist_ok=True)

    orders = spark.read.parquet(os.path.join(SRC_SF, "orders.parquet"))
    ord_parts = [
        orders.select(
            (F.col("o_orderkey") + i * ORDER_STRIDE).alias("o_orderkey"),
            (F.col("o_custkey") + i * CUST_STRIDE).alias("o_custkey"),
            "o_orderstatus",
            "o_totalprice",
            "o_orderdate",
            "o_orderpriority",
        )
        for i in range(replicas)
    ]
    scaled_orders = ord_parts[0]
    for p in ord_parts[1:]:
        scaled_orders = scaled_orders.unionByName(p)
    tgt = os.path.join(scaled_dir, "orders.parquet")
    if os.path.islink(tgt):
        os.remove(tgt)  # pre-V2 layout symlinked orders
    scaled_orders.repartition(32).write.mode("overwrite").parquet(tgt)

    cust = spark.read.parquet(os.path.join(SRC_SF, "customer.parquet"))
    cust_parts = [
        cust.select(
            (F.col("c_custkey") + i * CUST_STRIDE).alias("c_custkey"),
            *[c for c in cust.columns if c not in ("c_custkey", "c_name")],
        ).withColumn(
            # names follow the key (TPC-H's own generator rule), so
            # replicas are DISTINCT entities, not verbatim copies
            "c_name",
            F.format_string("Customer#%09d", F.col("c_custkey")),
        )
        for i in range(replicas)
    ]
    scaled_cust = cust_parts[0]
    for p in cust_parts[1:]:
        scaled_cust = scaled_cust.unionByName(p)
    tgt = os.path.join(scaled_dir, "customer.parquet")
    if os.path.islink(tgt):
        os.remove(tgt)
    scaled_cust.repartition(32).write.mode("overwrite").parquet(tgt)

    docs = spark.read.parquet(os.path.join(SRC_SF, "documents.parquet"))
    doc_parts = []
    for i in range(replicas):
        salted = F.array_join(
            F.transform(
                F.split(F.col("text"), " "), lambda w: F.concat(w, F.lit(str(i)))
            ),
            " ",
        )
        doc_parts.append(
            docs.select(
                (F.col("doc_id") + i * DOC_STRIDE).alias("doc_id"),
                F.when(F.col("text").isNotNull(), salted).alias("text"),
                "lang",
                "source",
            ).withColumn("n_chars", F.length(F.coalesce("text", F.lit(""))))
        )
    scaled_docs = doc_parts[0]
    for p in doc_parts[1:]:
        scaled_docs = scaled_docs.unionByName(p)
    scaled_docs.repartition(32).write.mode("overwrite").parquet(
        os.path.join(scaled_dir, "documents.parquet")
    )

    events = spark.read.parquet(os.path.join(SRC_SF, "events.parquet"))
    ev_parts = [
        events.select(
            (F.col("event_id") + i * EVENT_STRIDE).alias("event_id"),
            "ts",
            (F.col("user_id") + i * USER_STRIDE).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        for i in range(replicas)
    ]
    scaled_ev = ev_parts[0]
    for p in ev_parts[1:]:
        scaled_ev = scaled_ev.unionByName(p)
    scaled_ev.repartition(32).write.mode("overwrite").parquet(
        os.path.join(scaled_dir, "events.parquet")
    )

    li = spark.read.parquet(os.path.join(SRC_SF, "lineitem.parquet"))
    li_parts = [
        li.select(
            (F.col("l_orderkey") + i * ORDER_STRIDE).alias("l_orderkey"),
            *[c for c in li.columns if c != "l_orderkey"],
        )
        for i in range(replicas)
    ]
    scaled_li = li_parts[0]
    for p in li_parts[1:]:
        scaled_li = scaled_li.unionByName(p)
    tgt = os.path.join(scaled_dir, "lineitem.parquet")
    if os.path.islink(tgt):
        os.remove(tgt)  # pre-V3 layout symlinked lineitem
    scaled_li.repartition(32).write.mode("overwrite").parquet(tgt)

    for fname in os.listdir(SRC_SF):
        if fname.endswith(".parquet") and fname not in (
            "documents.parquet",
            "events.parquet",
            "orders.parquet",
            "customer.parquet",
            "lineitem.parquet",
        ):
            dst = os.path.join(scaled_dir, fname)
            if not os.path.exists(dst):
                os.symlink(os.path.join(SRC_SF, fname), dst)

    with open(done_marker, "w") as fh:
        fh.write("ok")
    return scaled_dir


def run(names: "list[str]", replicas: int, scaled_dir: str, sf: str) -> None:
    """Build (or reuse) the ``replicas``-x synthesis in ``scaled_dir``,
    then time ``names`` once each through ``bench.time_query`` after
    ``bench.warm`` and the untimed fixture staging, and append one
    ``"sf": sf`` entry to bench_history.jsonl."""
    from bench import time_query, warm
    from etl_tiki_webscraping_spark.plans.catalog import prepare_fixtures
    from etl_tiki_webscraping_spark.session import DEFAULT_CPUS, get_spark

    spark = get_spark(f"bench-sf{sf}")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.perf_counter()
    sf_dir = build_scaled(spark, replicas, scaled_dir)
    print(f"sf{sf} input ready in {time.perf_counter() - t0:.1f}s", flush=True)

    warm(spark, sf_dir)
    # hoist one-time warehouse staging out of the timed region, exactly
    # as bench.py does (a deployment's snapshot tables already exist) —
    # without this, whichever query runs FIRST absorbs the staging cost
    prepare_fixtures(spark, sf_dir, names=names)
    timings: dict[str, float] = {}
    layers: dict[str, dict] = {}
    for name in names:
        timings[name], layers[name] = time_query(spark, sf_dir, name)
        print(f"{name}: {timings[name]}s", flush=True)

    entry = {
        "sf": sf,
        "staging_hoisted": True,  # entries before r8 timed first-touch staging
        "cache_policy": "clear_between_queries",  # since r12
        "synthetic_scale": f"{replicas}x sf0.1, replica-salted (tools/bench_sf1.py)",
        "cpus": int(DEFAULT_CPUS),
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "layers": layers,
    }
    with open(os.path.join(HERE, "bench_history.jsonl"), "a") as fh:
        fh.write(json.dumps(entry, separators=(",", ":")) + "\n")
    print(json.dumps(entry, separators=(",", ":")))


def main() -> None:
    from etl_tiki_webscraping_spark.plans.catalog import QUERIES

    names = FIVE
    if len(sys.argv) > 1:
        lists = {
            "r7": NEW_R7, "r7c": NEW_R7C, "r7d": NEW_R7D, "r8": NEW_R8,
            "r8b": NEW_R8B, "r8c": NEW_R8C, "r8d": NEW_R8D, "r9": NEW_R9,
            "r10": NEW_R10, "r11": NEW_R11, "r12": NEW_R12, "r13": NEW_R13,
            "r14": NEW_R14, "r15": NEW_R15,
        }
        names = lists.get(sys.argv[1]) or [
            a for a in sys.argv[1:] if a in QUERIES
        ] or FIVE
    run(names, REPLICAS, SCALED_DIR, "1")


if __name__ == "__main__":
    main()
