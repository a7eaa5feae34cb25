"""Physical-plan audit: print `explain`-level evidence for the plan
properties the 100 TB design depends on, and FAIL (exit 1) if any is
missing — the executable form of "explain the plan and iterate until
it's the plan you'd want".

Checks, per query family:
- scans carry PushedFilters / pruned ReadSchema (projection+predicate
  reach parquet)
- dimension joins are broadcast, not sort-merge
- partitioned-table reads prune via PartitionFilters
- LSH / dedup stages shuffle bare ids (no document payloads in
  exchange nodes), and the bucket cap adds no signature-kernel copy
- top-k plans use TakeOrderedAndProject, not global sorts
- no CartesianProduct / BroadcastNestedLoopJoin anywhere

Usage: python tools/plan_audit.py [sf_dir]   (default sf0.01)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"


def main() -> int:
    import atexit
    import shutil
    import tempfile

    from etl_tiki_webscraping_spark.plans.catalog import QUERIES
    from etl_tiki_webscraping_spark.session import get_spark

    # the tables the audit stages live under one root removed at exit
    scratch = tempfile.mkdtemp(prefix="plan-audit-")
    atexit.register(shutil.rmtree, scratch, ignore_errors=True)

    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")

    def plan_of(name: str) -> str:
        df = QUERIES[name].fn(spark, SF_DIR)
        return df._jdf.queryExecution().executedPlan().toString()

    failures: list[str] = []

    def check(name: str, cond: bool, what: str) -> None:
        status = "ok " if cond else "FAIL"
        print(f"{status} {name}: {what}")
        if not cond:
            failures.append(f"{name}: {what}")

    # --- projection/predicate pushdown --------------------------------------
    p = plan_of("projection_pruning")
    check("projection_pruning", "ReadSchema" in p and "c_comment" not in p,
          "pruned ReadSchema (unused columns never read)")
    p = plan_of("membership_filter")
    check("membership_filter", "PushedFilters: [In(" in p or "PushedFilters: [I" in p,
          "membership predicate pushed to the parquet scan")

    # --- join strategies ----------------------------------------------------
    p = plan_of("flagship")
    check("flagship", "BroadcastHashJoin" in p, "dimension joins broadcast")
    check("flagship", "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p,
          "no nested-loop/cartesian anywhere")
    p = plan_of("fk_semi_join")
    check("fk_semi_join", "LeftSemi" in p, "FK gate plans as a semi join")

    # --- top-k --------------------------------------------------------------
    p = plan_of("tfidf_top_terms")
    check("tfidf_top_terms", "TakeOrderedAndProject" in p,
          "global top-k is TakeOrderedAndProject (no full sort)")
    p = plan_of("sort_limit")
    check("sort_limit", "TakeOrderedAndProject" in p,
          "ORDER BY + LIMIT is TakeOrderedAndProject")

    # --- LSH shuffles carry bare ids ----------------------------------------
    p = plan_of("dedup_minhash_lsh")
    exchanges = [seg for seg in p.split("\n") if "Exchange hashpartitioning" in seg]
    check("dedup_minhash_lsh", len(exchanges) > 0 and all("text" not in e for e in exchanges)
          and p.count("ArrowEvalPython") <= 4,
          "band-bucket exchanges shuffle ids/hashes, never document text; "
          "the bucket cap plans no signature kernel of its own (<= 4 ArrowEvalPython)")

    # --- partitioned snapshot reads prune -----------------------------------
    from pyspark.sql import functions as F

    from etl_tiki_webscraping_spark.io import load_table
    from etl_tiki_webscraping_spark.sinks.upsert import read_parquet_table, upsert_parquet

    tbl = os.path.join(scratch, "events")
    ev = load_table(spark, SF_DIR, "events").select("event_id", "event_type", "value")
    upsert_parquet(spark, ev, tbl, ["event_id"], partition_by=["event_type"])
    p = (
        read_parquet_table(spark, tbl)
        .filter(F.col("event_type") == "click")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    check("partitioned_read", "PartitionFilters" in p and "event_type" in p.split("PartitionFilters:")[1].split("]")[0],
          "snapshot-table filter lands in PartitionFilters (static pruning)")

    # --- decontamination broadcast ------------------------------------------
    p = plan_of("decontaminate_corpus")
    check("decontaminate_corpus", "BroadcastHashJoin" in p,
          "benchmark gram set probed via broadcast join")

    # --- corpus capstone: composed chain keeps each stage's shape -----------
    p = plan_of("corpus_pipeline_e2e")
    check("corpus_pipeline_e2e",
          "BroadcastHashJoin" in p and "CartesianProduct" not in p
          and "BroadcastNestedLoopJoin" not in p,
          "composed pipeline keeps broadcast probe, no cartesian anywhere")

    # --- stream-stream join plans the symmetric-hash streaming join --------
    from etl_tiki_webscraping_spark.streaming.events import (
        read_events_stream,
        stream_stream_purchase_views,
    )

    views = read_events_stream(spark, SF_DIR).filter(F.col("event_type") == "view")
    purchases = read_events_stream(spark, SF_DIR).filter(
        F.col("event_type") == "purchase"
    )
    joined = stream_stream_purchase_views(views, purchases)
    sp = joined._jdf.queryExecution().analyzed().toString()
    check("stream_stream_join",
          "EventTimeWatermark" in sp and sp.count("EventTimeWatermark") >= 2,
          "both join inputs carry their own event-time watermark (bounded state)")

    # --- file-level min/max skipping scans fewer files ----------------------
    from etl_tiki_webscraping_spark.sinks.upsert import compact_table

    tbl2 = os.path.join(scratch, "cust")
    cust = load_table(spark, SF_DIR, "customer").select("c_custkey", "c_name")
    upsert_parquet(spark, cust, tbl2, ["c_custkey"])
    compact_table(spark, tbl2, target_file_bytes=2 * 1024, sort_by=["c_custkey"])
    n_all = len(read_parquet_table(spark, tbl2).inputFiles())
    pruned = read_parquet_table(spark, tbl2, range_filter=("c_custkey", 10, 60))
    check("snapshot_file_skipping",
          n_all > 2 and len(pruned.inputFiles()) < n_all,
          f"range read scans {len(pruned.inputFiles())}/{n_all} files "
          "(manifest min/max skipping)")

    # --- z-order clustering: multi-dimension file skipping ------------------
    tbl3 = os.path.join(scratch, "li")
    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    upsert_parquet(spark, li, tbl3, list(li.columns))
    compact_table(spark, tbl3, target_file_bytes=64 * 1024, zorder_by=["l_partkey", "l_suppkey"])
    zn_all = len(read_parquet_table(spark, tbl3).inputFiles())
    z_both = read_parquet_table(
        spark, tbl3, range_filter=[("l_partkey", 20, 90), ("l_suppkey", 2, 5)]
    )
    z_second = read_parquet_table(spark, tbl3, range_filter=("l_suppkey", 2, 5))
    check("zorder_multidim_skipping",
          zn_all > 2
          and len(z_both.inputFiles()) < zn_all
          and len(z_second.inputFiles()) < zn_all,
          f"z-ordered reads scan {len(z_both.inputFiles())}/{zn_all} (2-dim) and "
          f"{len(z_second.inputFiles())}/{zn_all} (2nd-dim-only) files")

    # --- cross-corpus LSH: bare-id exchanges, no cartesian ------------------
    p = plan_of("crosscorpus_neardup_lsh")
    exchanges = [seg for seg in p.split("\n") if "Exchange hashpartitioning" in seg]
    check("crosscorpus_neardup_lsh",
          "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
          and len(exchanges) > 0 and all("text" not in e for e in exchanges),
          "new-vs-old candidate join shuffles bare band/bucket ids, no cartesian")

    # --- bucketed join: co-located, zero Exchange on the join legs ----------
    p = plan_of("bucketed_colocated_join")
    check("bucketed_colocated_join",
          "Exchange" not in p and "SortMergeJoin" in p,
          "pre-bucketed fact-to-fact sort-merge join + key-aligned agg runs "
          "with ZERO exchanges")

    # --- incremental dedup: fingerprint anti join, no text in exchanges ----
    p = plan_of("incremental_dedup_new_docs")
    exchanges = [seg for seg in p.split("\n") if "Exchange hashpartitioning" in seg]
    check("incremental_dedup_new_docs",
          ("LeftAnti" in p or "left_anti" in p)
          and all("text" not in e for e in exchanges),
          "new-batch fingerprints anti-join the store; exchanges carry "
          "hashes/ids, never document text")

    # --- mix/binning plans: aggregate + broadcast scalar, no window sort ----
    p = plan_of("quality_decile_binning")
    check("quality_decile_binning",
          "BroadcastExchange" in p and "Window" not in p,
          "decile binning is agg + broadcast scalar join (no global window)")

    # --- bloom pruning: bit tests inline, probe side never hash-shuffles ----
    from etl_tiki_webscraping_spark.operators.bloom import bloom_build, bloom_probe
    orders_df = load_table(spark, SF_DIR, "orders")
    bloom_keys = load_table(spark, SF_DIR, "customer").select("c_custkey").distinct()
    probe_plan = (
        bloom_probe(orders_df, "o_custkey", bloom_build(bloom_keys, "c_custkey"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    check("bloom_pruned_semi_join",
          "shiftleft" in probe_plan
          and "BroadcastNestedLoopJoin" in probe_plan
          and "hashpartitioning(o_custkey" not in probe_plan,
          "bitmap arrives by broadcast; k bit tests codegen into the probe "
          "scan stage — probe rows die before any shuffle")

    # --- BM25: tiny sides broadcast; postings shuffle carries no text -------
    p = plan_of("bm25_search")
    exchanges = [seg for seg in p.split("\n") if "Exchange hashpartitioning" in seg]
    check("bm25_search",
          p.count("BroadcastExchange") >= 2  # query terms + corpus stats
          and all("text" not in e for e in exchanges),
          "query terms and corpus stats broadcast; posting exchanges carry "
          "tokens/ids, never document text")

    p = plan_of("snapshot_table_diff")
    exchanges = [seg for seg in p.split("\n") if "Exchange hashpartitioning" in seg]
    check("snapshot_table_diff",
          "xxhash64" in p and all("price" not in e and "prio" not in e for e in exchanges),
          "hash_compare fingerprints computed in the scan stage; full-outer "
          "exchanges carry bare (key, fingerprint), never the payload columns")

    p = plan_of("heavy_hitters_exact")
    check("heavy_hitters_exact",
          "MapInPandas" in p and "BroadcastHashJoin" in p,
          "Misra-Gries candidates via Arrow kernel; exact close joins the "
          "BROADCAST candidate set (no full-cardinality pre-close shuffle)")

    p = plan_of("event_funnel_stages")
    n_user_ex = sum(
        1 for seg in p.split("\n")
        if "Exchange hashpartitioning(user_id" in seg
    )
    check("event_funnel_stages", n_user_ex == 1,
          "three chained stage windows reuse ONE user-keyed exchange")

    p = plan_of("multi_exists_anti")
    check("multi_exists_anti",
          "LeftSemi" in p and "LeftAnti" in p
          and "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p,
          "EXISTS decorrelates to semi join, NOT EXISTS to anti join — no "
          "nested-loop fallback")

    p = plan_of("dynamic_partition_pruning")
    check("dynamic_partition_pruning",
          "dynamicpruning" in p.lower(),
          "fact scan carries a runtime dynamicpruning partition filter "
          "derived from the filtered dimension side")

    # --- round-8 additions ---------------------------------------------------
    p = plan_of("scd2_dim_from_feed")
    # contract (upsert.py::scd2_from_change_feed docstring): three
    # exchanges total — per-(key, commit) winner window + delete
    # distinct, both on (o_orderkey, __v), and ONE bare-key exchange
    # the lag and lead windows SHARE (same partitioning + ordering)
    key_ex = [
        seg for seg in p.split("\n")
        if "Exchange hashpartitioning(o_orderkey" in seg
    ]
    n_bare = sum(1 for seg in key_ex if "__v" not in seg)
    check("scd2_dim_from_feed",
          n_bare == 1 and len(key_ex) <= 3
          and "ExistingRDD" not in p,  # a checkpointed frame's scan
          "lag and lead windows share ONE bare-key exchange (<=3 total "
          "incl. the two (key, commit)-grained ones); no driver-side "
          "commit fold, no checkpoint")

    p = plan_of("setsim_prefix_join")
    check("setsim_prefix_join",
          "CartesianProduct" not in p
          and "BroadcastNestedLoopJoin" not in p,
          "prefix-filtered exact set-similarity join: equi-joins only "
          "(no cartesian fallback)")

    p = plan_of("tpch_q1")
    check("tpch_q1",
          "PushedFilters: [IsNotNull(l_shipdate)" in p
          or "LessThanOrEqual(l_shipdate" in p,
          "Q1 ship-date filter pushed to the parquet scan; single "
          "partial+final aggregate")

    p = plan_of("tpch_q3")
    check("tpch_q3",
          "TakeOrderedAndProject" in p and "BroadcastHashJoin" in p,
          "Q3 global top-10 as TakeOrderedAndProject (no full sort); "
          "segment customers broadcast")

    p = plan_of("tpch_q5")
    check("tpch_q5",
          p.count("BroadcastHashJoin") >= 3
          and "CartesianProduct" not in p,
          "Q5 six-table star: supplier/nation/region sides broadcast, "
          "no cartesian anywhere")

    p = plan_of("tpch_q6")
    check("tpch_q6",
          "GreaterThanOrEqual(l_discount,0.05)" in p.replace(" ", "")
          or "l_discount" in p.split("PushedFilters")[-1].split("]")[0],
          "Q6 discount band + quantity cap + date range all pushed to "
          "the scan")

    # --- TPC-H decorrelation set (VERDICT r8 ask #2): the correlated
    # subquery must rewrite to aggregate-then-join / semi / anti — a
    # per-outer-row rescan shows up as a nested-loop join, and naive
    # plans rescan lineitem once per correlation level
    p = plan_of("tpch_q17")
    check("tpch_q17",
          "CartesianProduct" not in p
          and "BroadcastNestedLoopJoin" not in p
          and p.count("HashAggregate") >= 2,
          "Q17 correlated AVG decorrelated: per-part aggregate joined "
          "back, no nested-loop rescan")
    check("tpch_q17",
          sum(seg.count("lineitem.parquet") for seg in p.split("\n")
              if "Scan" in seg or "FileScan" in seg) <= 2,
          "Q17 scans lineitem at most twice (filter side + aggregate), "
          "never once per outer row")

    p = plan_of("tpch_q21")
    check("tpch_q21",
          "LeftSemi" in p
          and "CartesianProduct" not in p
          and "BroadcastNestedLoopJoin" not in p,
          "Q21 EXISTS/NOT EXISTS chain decorrelated: ONE per-order "
          "aggregate gates via semi joins, no correlated rescans")
    check("tpch_q21",
          sum(seg.count("lineitem.parquet") for seg in p.split("\n")
              if "Scan" in seg or "FileScan" in seg) <= 2,
          "Q21 scans lineitem exactly twice (outer late lines + "
          "order stats) — the naive plan needs three correlated scans")

    p = plan_of("tpch_q20")
    check("tpch_q20",
          "LeftSemi" in p
          and "CartesianProduct" not in p
          and "BroadcastNestedLoopJoin" not in p,
          "Q20 nested IN + correlated SUM decorrelated: part list and "
          "qualifying suppliers gate via semi joins")

    p = plan_of("tpch_q2")
    check("tpch_q2",
          "BroadcastHashJoin" in p
          and "CartesianProduct" not in p
          and "BroadcastNestedLoopJoin" not in p
          and p.count("HashAggregate") >= 2,
          "Q2 correlated MIN decorrelated to per-part aggregate-then-"
          "join; supplier/nation/region stack broadcast")

    p = plan_of("weighted_median_price")
    flag_ex = [
        seg for seg in p.split("\n")
        if "Exchange hashpartitioning(l_returnflag" in seg
    ]
    n_bare = sum(1 for seg in flag_ex if " v#" not in seg)
    check("weighted_median_price",
          n_bare == 1 and len(flag_ex) == 2,
          "pre-aggregation shuffles once on (group, value) — distinct-"
          "value cardinality, shrinking the serial window input — and "
          "both windows + the crossing aggregate share ONE bare "
          "group-keyed exchange")

    # the PCA REPORT materializes at build time by design — only the
    # d^2-row reduce reaches the driver — so audit the distributed
    # stage directly: the Gram partials must be ONE Arrow pass
    from etl_tiki_webscraping_spark.operators.similarity import (
        as_double_vec,
    )
    from pyspark.sql import functions as SF

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        as_double_vec("embedding").alias("v")
    )
    import pandas as _pd

    def _probe(batches):
        for b in batches:
            yield _pd.DataFrame({"n": [len(b)]})

    pp = (
        emb.mapInPandas(_probe, schema="n long")
        ._jdf.queryExecution().executedPlan().toString()
    )
    rep = plan_of("embedding_pca_variance")
    check("embedding_pca_variance",
          "MapInPandas" in pp and "Exchange" not in pp
          and ("LocalTableScan" in rep or "ExistingRDD" in rep),
          "Gram partials are ONE shuffle-free Arrow pass; the returned "
          "report is a local tiny table — only d^2 + d rows ever left "
          "the executors")

    p = plan_of("histogram_equi_width")
    check("histogram_equi_width",
          "HashAggregate" in p and "Exchange" in p
          and p.count("Exchange") <= 2,
          "derived-integer groupBy: partial+final aggregate over one "
          "bucket-cardinality exchange")

    p = plan_of("quality_model_score")
    check("quality_model_score",
          "Exchange" not in p,
          "classifier inference is a pure projection: ZERO exchanges "
          "— the cost is the scan")


    def _bare_id_repartition_only(plan: str) -> bool:
        # r16: fixture id tables are spread (session.spread, which
        # pins defaultParallelism partitions on a small input) BEFORE
        # the synthesis/decode kernel so the per-blob work
        # parallelizes past the single scan split.  Scope of the check
        # (r16 ADVICE): explain Exchange lines show only PARTITIONING
        # EXPRESSIONS, so this enforces "every exchange is the explicit
        # REPARTITION_BY_NUM
        # and content is never a PARTITION KEY" — it cannot see columns
        # riding through the shuffle, and is vacuously true on a plan
        # with no Exchange at all.  The riding-through half of the
        # blobs-never-shuffle contract is structural: the spread id
        # tables carry ONLY the id column by construction (the blob is
        # synthesized/decoded downstream of the exchange), which the
        # per-tier kernel position checks below pin.
        ex = [seg for seg in plan.split("\n") if "Exchange" in seg]
        return all(
            "REPARTITION_BY_NUM" in e and "content" not in e for e in ex
        )

    def _no_text_in_exchanges(plan: str) -> bool:
        # gram-carrying fingerprints (r8 ask #4): verification happens
        # inline on the hash join, so no exchange may carry the full
        # normalized text (t#N) or raw text column — only ids, hashes,
        # and k-char grams
        ex = [seg for seg in plan.split("\n") if "Exchange" in seg]
        return len(ex) > 0 and all(
            " t#" not in e and "text#" not in e and "t_a" not in e
            and "t_b" not in e and "t_new" not in e and "t_base" not in e
            for e in ex
        )

    p = plan_of("substring_dup_spans")
    check("substring_dup_spans",
          "CartesianProduct" not in p
          and "BroadcastNestedLoopJoin" not in p
          and _no_text_in_exchanges(p),
          "winnowing inverted index: hash-keyed equi-joins only, no "
          "all-pairs fallback, and NO exchange carries document text "
          "— verification rides on k-char grams attached per "
          "fingerprint")

    p = plan_of("contamination_new_docs")
    check("contamination_new_docs",
          "CartesianProduct" not in p
          and "BroadcastNestedLoopJoin" not in p
          and _no_text_in_exchanges(p),
          "incremental span probe: batch joins the persisted "
          "gram-carrying store on the hash; no exchange carries "
          "document text (base text is not even an input)")

    p = plan_of("image_dedup_ahash")
    check("image_dedup_ahash",
          "CartesianProduct" not in p
          and "BroadcastNestedLoopJoin" not in p
          and "MapInPandas" in p,
          "aHash near-dup: decode once in the Arrow kernel, band-value "
          "equi-join candidates, no all-pairs fallback")

    p = plan_of("basket_cooccurrence")
    check("basket_cooccurrence",
          "CartesianProduct" not in p
          and "BroadcastNestedLoopJoin" not in p,
          "in-basket pairs via a basket-keyed equi-join — bounded by "
          "basket size, never a cross join")

    p = plan_of("bpe_encode_corpus")
    exchanges = [seg for seg in p.split("\n") if "Exchange" in seg]
    check("bpe_encode_corpus",
          len(exchanges) == 1 and "text" not in exchanges[0]
          and "word" not in exchanges[0]
          and "MapInPandas" not in p and "BatchEvalPython" not in p,
          "merge replay is pure JVM codegen string work; the ONE "
          "exchange is the map-side-combined per-doc rollup carrying "
          "(doc_id, two bigints) — never words or text")

    p = plan_of("knn_ivf_pq")
    ivfpq_ex = [
        seg for seg in p.split("\n")
        if "Exchange" in seg and "Broadcast" not in seg
    ]
    check("knn_ivf_pq",
          p.count("BroadcastHashJoin") >= 3
          and "CartesianProduct" not in p
          and "BroadcastNestedLoopJoin" not in p
          and len(ivfpq_ex) == 1
          and all("embedding" not in e for e in ivfpq_ex),
          "composed IVF x PQ: probe list, refine shortlist, and query "
          "vectors all broadcast; the ONE hash exchange is the global "
          "shortlist window carrying bare (qid, id, score) — vectors "
          "are never shuffled")

    p = plan_of("ivm_join_from_feed")
    check("ivm_join_from_feed",
          "LeftAnti" in p and p.count("LeftSemi") >= 2
          and "CartesianProduct" not in p
          and "BroadcastNestedLoopJoin" not in p,
          "affected-key refresh: broadcast touched-keys drive one anti "
          "(keep) and two semi (recompute) legs")

    # --- TPC-H completion set (round 9): the 11 queries finishing the
    # full 22.  A 1-row scalar-subquery broadcast may plan as a
    # BroadcastNestedLoopJoin (build side is exactly one row) — that's
    # the CORRECT shape for an uncorrelated scalar, so those checks
    # assert the DATA joins are hash joins rather than banning BNLJ.
    def _scans(p, table):
        return sum(
            seg.count(f"{table}.parquet") for seg in p.split("\n")
            if "Scan" in seg or "FileScan" in seg
        )

    p = plan_of("tpch_q4")
    check("tpch_q4",
          "LeftSemi" in p
          and "BroadcastNestedLoopJoin" not in p
          and "CartesianProduct" not in p
          and "GreaterThanOrEqual(o_orderdate" in p,
          "Q4 correlated EXISTS decorrelated to ONE semi join with the "
          "late-ship inequality as a residual; quarter filter pushed "
          "to the orders scan")

    p = plan_of("tpch_q7")
    check("tpch_q7",
          "CartesianProduct" not in p
          and "BroadcastNestedLoopJoin" not in p
          and _scans(p, "lineitem") == 1
          and _scans(p, "nation") == 2,
          "Q7 two-nation pair: both nation copies broadcast with the "
          "cross-pair disjunction as a residual, lineitem scanned once")

    p = plan_of("tpch_q8")
    check("tpch_q8",
          p.count("BroadcastHashJoin") >= 5
          and "CartesianProduct" not in p
          and "BroadcastNestedLoopJoin" not in p
          and _scans(p, "lineitem") == 1,
          "Q8 eight-table market share: every dimension broadcasts "
          "into the single lineitem pass; share is one conditional "
          "aggregate")

    p = plan_of("tpch_q9")
    check("tpch_q9",
          "CartesianProduct" not in p
          and "BroadcastNestedLoopJoin" not in p
          and _scans(p, "lineitem") <= 2,
          "Q9 derived supply cost joins back on its own grouping keys; "
          "lineitem scanned at most twice (stream + cost aggregate), "
          "never per outer row")

    p = plan_of("tpch_q11")
    check("tpch_q11",
          "CartesianProduct" not in p
          and p.count("BroadcastNestedLoopJoin") <= 1  # 1-row scalar
          and _scans(p, "lineitem") <= 2
          and "LeftSemi" in p,
          "Q11 value-per-part vs broadcast scalar mean threshold; "
          "region suppliers gate via semi joins")

    p = plan_of("tpch_q12")
    check("tpch_q12",
          "CartesianProduct" not in p
          and "BroadcastNestedLoopJoin" not in p
          and ("GreaterThanOrEqual(l_shipdate" in p),
          "Q12 year filter pushed to the lineitem scan; the 30-day lag "
          "inequality rides the orderkey hash join as a residual")

    p = plan_of("tpch_q13")
    check("tpch_q13",
          "LeftOuter" in p
          and "CartesianProduct" not in p
          and "BroadcastNestedLoopJoin" not in p
          and "Not(EqualTo(o_orderpriority,1-URGENT))" in p,
          "Q13 zero-order customers preserved: LEFT OUTER with the "
          "priority exclusion pushed to the orders scan (inside the "
          "join condition, so the join never degrades to inner)")

    p = plan_of("tpch_q15")
    check("tpch_q15",
          "CartesianProduct" not in p
          and "BroadcastNestedLoopJoin" not in p
          and _scans(p, "lineitem") <= 2
          and p.count("HashAggregate") >= 2,
          "Q15 revenue view + broadcast scalar MAX: two aggregates, "
          "lineitem scanned at most twice, supplier broadcast")

    p = plan_of("tpch_q16")
    check("tpch_q16",
          "LeftAnti" in p
          and "CartesianProduct" not in p
          and "BroadcastNestedLoopJoin" not in p
          and _scans(p, "lineitem") == 1,
          "Q16 NOT IN excluded suppliers as a broadcast anti join (PK "
          "side provably non-null); one lineitem pass feeds the "
          "distinct pair derivation")

    p = plan_of("tpch_q19")
    check("tpch_q19",
          "BroadcastHashJoin" in p
          and "CartesianProduct" not in p
          and "BroadcastNestedLoopJoin" not in p
          and "GreaterThanOrEqual(l_quantity,1.0)" in p
          and "LessThanOrEqual(l_quantity,30.0)" in p,
          "Q19 disjunctive predicate: union quantity bounds pushed to "
          "the scan, branch OR evaluated as an equi-join residual — "
          "never a nested loop")

    import re as _re

    p = plan_of("token_budget_cutoff")
    check("token_budget_cutoff",
          _re.search(
              r"windowspecdefinition\(__bucket#\d+, quality#\d+ DESC", p
          ) is not None,
          "budget cutoff: the cumulative window is PARTITIONED BY "
          "BUCKET (never a global single-partition order)")

    p = plan_of("token_budget_per_lang")
    check("token_budget_per_lang",
          _re.search(
              r"windowspecdefinition\(lang#\d+, __bucket#\d+, quality#\d+ DESC",
              p,
          ) is not None
          and "CartesianProduct" not in p,
          "grouped budget cutoff: the cumulative window partitions by "
          "(lang, bucket) — never one partition per language carrying "
          "that language's whole corpus")

    p = plan_of("doc_bigram_logprob")
    check("doc_bigram_logprob",
          "CartesianProduct" not in p
          and p.count("BroadcastNestedLoopJoin") <= 1,  # 1-row vsize
          "bigram LM: scoring is an equi join (scalar vocab size is "
          "the only 1-row broadcast)")

    p = plan_of("model_calibration_bins")
    check("model_calibration_bins",
          "HashAggregate" in p and p.count("Exchange") <= 2
          and "Join" not in p,
          "calibration bins: derived-integer groupBy over the 10-bin "
          "key space — one partial+final aggregate, no join, model "
          "weights ride the expression")

    p = plan_of("gif_frame_sampling")
    check("gif_frame_sampling",
          p.count("MapInPandas") == 2
          and "Exchange" not in p.split("MapInPandas", 1)[0]
          and "CartesianProduct" not in p,
          "GIF frame sampling: synthesize + decode are two chained "
          "Arrow kernels on the scan with NO shuffle upstream of "
          "them — blobs never cross an exchange")

    p = plan_of("doc_kneser_ney_logprob")
    check("doc_kneser_ney_logprob",
          "CartesianProduct" not in p
          and p.count("BroadcastNestedLoopJoin") <= 1,  # 1-row type total
          "Kneser-Ney LM: context totals + continuation fan-outs "
          "cascade from the type table (no corpus re-scan); scoring "
          "is an equi join")

    p = plan_of("dsir_importance_resample")
    check("dsir_importance_resample",
          "BroadcastHashJoin" in p
          and "TakeOrderedAndProject" in p
          and "CartesianProduct" not in p
          and "text" not in p.split("Exchange hashpartitioning", 1)[-1][:400],
          "DSIR: the 4096-bucket log-ratio table broadcasts into the "
          "pool token stream (exchanges carry bare (id, bucket) pairs, "
          "never document text); Gumbel top-k is TakeOrderedAndProject, "
          "not a global sort")

    p = plan_of("embedding_centroid_outliers")
    check("embedding_centroid_outliers",
          "BroadcastHashJoin" in p
          and "CartesianProduct" not in p
          and "BroadcastNestedLoopJoin" not in p
          and ("WindowGroupLimit" in p or "RunningWindowFunction" in p
               or "Window" in p),
          "centroid outliers: |labels| x d centroid table broadcasts "
          "back onto the vector scan; dot/norm fold JVM-side; top-k "
          "bounded per group")

    p = plan_of("tpch_q22")
    check("tpch_q22",
          "LeftAnti" in p
          and p.count("BroadcastNestedLoopJoin") <= 1  # 1-row scalar
          and "CartesianProduct" not in p
          and "GreaterThanOrEqual(o_orderdate,2000-06-01" in p,
          "Q22 no-recent-order anti join with the recency window "
          "pushed to the orders scan; scalar average broadcasts")

    # --- round 11: distributed NTILE (perplexity bands) ----------------------
    p = plan_of("perplexity_terciles")
    check("perplexity_terciles",
          "hashpartitioning(__bucket" in p
          and "CartesianProduct" not in p,
          "rank window PARTITIONED BY range bucket (parallel), never a "
          "global sort of the score table; only the <=256-row "
          "bucket-count prefix is single-partition")

    # --- round 11: deletion-neighborhood entity matching ---------------------
    p = plan_of("entity_match_blocked")
    check("entity_match_blocked",
          "levenshtein" in p
          and "CartesianProduct" not in p
          and "BroadcastNestedLoopJoin" not in p
          and "_vh" in p,
          "fat blocks route through the md5-hashed deletion-variant "
          "equi-join (exchanges carry 8-byte variant hashes); "
          "verification is inline thresholded levenshtein")

    # --- round 11: Gopher repetition rules -----------------------------------
    p = plan_of("gopher_repetition_stats")
    check("gopher_repetition_stats",
          "CartesianProduct" not in p
          and "BroadcastNestedLoopJoin" not in p
          and _no_text_in_exchanges(p)
          and ("partial_count" in p or "partial" in p.lower()),
          "gram-count exchanges carry (doc_id, n, gram<=5 tokens), "
          "never full document text; gram counts partial-aggregate "
          "map-side before the exchange")

    # --- round 12: html/url/encoding scan-bound chains + dicttag kernel ------
    p = plan_of("html_text_extract")
    check("html_text_extract",
          "Exchange" not in p and "EvalPython" not in p
          and "*(" in p,
          "extraction chain is pure codegen'd narrow ops: zero "
          "exchanges, zero Python, whole-stage compiled ('*(n)')")
    p = plan_of("url_canonicalize")
    check("url_canonicalize",
          "Exchange" not in p and "EvalPython" not in p
          and "*(" in p,
          "canonicalization is pure codegen'd narrow ops: zero "
          "exchanges, zero Python eval, whole-stage compiled")
    p = plan_of("dicttag_term_counts")
    check("dicttag_term_counts",
          "MapInPandas" in p and "Exchange" not in p,
          "Aho-Corasick scan is one Arrow mapInPandas pass with NO "
          "shuffle at all (counts emit pre-aggregated per doc)")
    p = plan_of("blocklist_filter_survivors")
    check("blocklist_filter_survivors",
          "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
          and _no_text_in_exchanges(p),
          "offender ids anti-join back; no exchange carries document "
          "text")
    p = plan_of("corpus_pipeline_v3")
    check("corpus_pipeline_v3",
          "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
          and all("clean#" not in e for e in p.split("\n") if "Exchange" in e),
          "after extraction no exchange carries the cleaned text — "
          "dedup ships md5+id, budget ships (id, lang, 2 numbers)")
    p = plan_of("encoding_quality_report")
    check("encoding_quality_report",
          "Exchange" not in p or "partial" in p.lower(),
          "marker counts partial-aggregate map-side; only (source, "
          "3 counts) rows reach the exchange")
    p = plan_of("png_image_stats")
    check("png_image_stats",
          "MapInPandas" in p and _bare_id_repartition_only(p),
          "encode/decode is 1->1 mapInPandas; the only exchange is "
          "the bare-id pre-synthesis repartition — blobs never "
          "shuffle")

    # --- round 12 second batch: asof directions, depth histogram, qnorm ----
    for q in ("asof_join_forward", "asof_join_nearest"):
        p = plan_of(q)
        n_ex = sum(1 for seg in p.split("\n") if "Exchange hashpartitioning" in seg)
        check(q,
              n_ex <= 2 and "CartesianProduct" not in p
              and "BroadcastNestedLoopJoin" not in p,
              f"merge-scan asof: {n_ex} key exchange(s), no range-join "
              "explosion (nearest's 2nd window reuses the shuffle)")
    p = plan_of("histogram_equi_depth")
    check("histogram_equi_depth",
          "windowspecdefinition(__bucket" in p
          and "rangepartitioning" not in p,
          "depth histogram via distributed_ntile: the data-sized "
          "row_number window is PARTITIONED BY range bucket and no "
          "global-sort (rangepartitioning) exchange exists; single-"
          "partition exchanges carry only the <=256-row prefix table")
    p = plan_of("quantile_normalize_scores")
    check("quantile_normalize_scores",
          "BroadcastExchange" in p and "CartesianProduct" not in p,
          "101-double global percentile grid broadcasts; per-source "
          "windows only, no global window")
    p = plan_of("dau_wau_stickiness")
    check("dau_wau_stickiness",
          "CartesianProduct" not in p and "BroadcastNestedLoopJoin" in p,
          "trailing-week range join runs on the DAY-GRAIN deduplicated "
          "activity (bounded 7x of day-user pairs; the nested-loop is "
          "over the tiny day grid, not events)")

    # --- round 13: portable sketches, CJK wiring, UDTF, WebP, FLAC ---------
    p = plan_of("hll_sketch_rollup")
    check("hll_sketch_rollup",
          "partial" in p.lower() and "CartesianProduct" not in p,
          "register build partial-aggregates map-side (each task ships "
          "at most |groups| x 256 register rows, never raw events)")
    p = plan_of("kll_quantile_rollup")
    check("kll_quantile_rollup",
          "PushedFilters" in p and "rangepartitioning" not in p,
          "the md5-Bernoulli retain predicate evaluates scan-side and "
          "the rank window shuffles only sample rows hash-partitioned "
          "by event_type (no global sort)")
    p = plan_of("theta_sketch_set_ops")
    check("theta_sketch_set_ops",
          "TakeOrderedAndProject" in p,
          "KMV build plans as TakeOrderedAndProject (per-partition "
          "top-(k+1) + bounded merge, never a global sort)")
    p = plan_of("dedup_minhash_cjk")
    check("dedup_minhash_cjk",
          "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
          and _no_text_in_exchanges(p),
          "CJK-segmented LSH keeps the standard shape: bare (bucket, "
          "id) exchanges, no text payload, no cartesian")
    p = plan_of("udtf_sliding_chunks")
    check("udtf_sliding_chunks",
          ("PythonUDTF" in p or "UDTF" in p) and "Exchange" not in p,
          "UDTF evaluates per-partition inside the plan; the chunk "
          "stage has NO shuffle at all")
    p = plan_of("udtf_mp3_frames")
    check("udtf_mp3_frames",
          ("PythonUDTF" in p or "UDTF" in p)
          and _bare_id_repartition_only(p),
          "binary-media UDTF expansion evaluates per-partition; only "
          "the bare-id pre-synthesis repartition exchanges — blobs "
          "never cross an exchange")
    for q in ("webp_image_stats", "flac_audio_features",
              "audio_format_quarantine", "audio_stream_metadata",
              "png_palette_stats", "webp_variants_stats",
              # r14 header-triage tiers: same no-exchange blob contract
              "webp_lossy_meta", "mp4_stream_metadata", "image_exif_meta",
              "webp_native_parity", "webp_lossy_decode_meta",
              "warc_record_scan", "webm_stream_metadata",
              "warc_html_extract", "avif_image_meta",
              "zip_container_meta"):
        p = plan_of(q)
        check(q,
              "MapInPandas" in p and _bare_id_repartition_only(p),
              "encode/decode is 1->1 mapInPandas; the only exchange "
              "is the bare-id pre-synthesis repartition — blobs never "
              "shuffle")

    # --- r14 sitemap extraction: pure narrow codegen, no shuffle ---------
    p = plan_of("sitemap_url_extract")
    check("sitemap_url_extract",
          "Exchange" not in p and "Generate" in p,
          "XML extraction + posexplode is a narrow codegen plan — no "
          "shuffle anywhere")

    # --- r15 container/text-source tiers: same no-exchange blob
    # contract (the PDF pair, the docx capstone, WARC HTTP decoding,
    # and the sitemap-index recursion with its gunzip kernel) ---------
    for q in ("warc_http_decoding", "pdf_doc_meta", "pdf_text_extract",
              "docx_text_extract", "sitemap_index_extract"):
        p = plan_of(q)
        check(q,
              ("MapInPandas" in p or "ArrowEvalPython" in p)
              and _bare_id_repartition_only(p),
              "blob decode is Arrow-kernel 1->1/1->N; the only "
              "exchange is the bare-id pre-synthesis repartition — "
              "blobs never shuffle")

    # --- r15 robots URL gate: the rules side must BROADCAST (the URL
    # side never shuffles for the join); the precedence windows are the
    # only exchanges, keyed on (host, path, bot) ----------------------
    for q in ("robots_url_gate", "crawl_frontier_gate"):
        p = plan_of(q)
        check(q,
              "BroadcastHashJoin" in p or "BroadcastExchange" in p,
              "rules side broadcasts; the URL side never shuffles for "
              "the join")

    # --- r15 mixed-media router: one Arrow kernel, blobs never
    # shuffle (same contract as the other container tiers) ------------
    p = plan_of("warc_corpus_router")
    check("warc_corpus_router",
          "MapInPandas" in p and _bare_id_repartition_only(p),
          "router is 1->N mapInPandas + codegen extraction; only the "
          "bare-id pre-synthesis repartition exchanges — blobs never "
          "shuffle")

    # --- r15 training-shard wave: tar/WET scans keep the no-exchange
    # blob contract; the JSONL shard is one Arrow decompress with all
    # JSON parsing JVM-side; WebDataset grouping exchanges only the
    # NARROW member rows (never the blobs); subtitle parsing is pure
    # narrow codegen like the sitemap extraction ----------------------
    for q in ("tar_shard_scan", "wet_text_scan",
              "tfrecord_example_scan", "avro_record_scan"):
        p = plan_of(q)
        check(q,
              "MapInPandas" in p and _bare_id_repartition_only(p),
              "shard scan is 1->N mapInPandas; only the bare-id "
              "pre-synthesis repartition exchanges — blobs never "
              "shuffle")
    p = plan_of("jsonl_gz_ingest")
    check("jsonl_gz_ingest",
          p.count("ArrowEvalPython") == 1
          and _bare_id_repartition_only(p) and "from_json" in p,
          "the Arrow gunzip kernel evaluates exactly ONCE per blob "
          "(no union-of-filters re-evaluation), JSON parsed JVM-side "
          "(from_json), no shuffle anywhere")
    p = plan_of("webdataset_sample_group")
    _wds_ex = [seg for seg in p.split("\n") if "Exchange" in seg]
    check("webdataset_sample_group",
          "MapInPandas" in p and len(_wds_ex) >= 1
          and all("content" not in seg for seg in _wds_ex)
          and "partial" in p.lower(),
          "sample groupBy partial-aggregates map-side and its "
          "exchange carries only the narrow member rows — the blob "
          "column never crosses the wire")
    p = plan_of("webdataset_media_router")
    check("webdataset_media_router",
          "MapInPandas" in p and _bare_id_repartition_only(p)
          and "from_json" in p,
          "router is one 1->N mapInPandas walk (payload capture "
          "inline, no second parse); JSON/token extraction is JVM "
          "codegen; blobs never shuffle")
    p = plan_of("sequence_pack_manifest")
    _spm_ex = [seg for seg in p.split("\n") if "Exchange" in seg]
    check("sequence_pack_manifest",
          all("SinglePartition" not in seg for seg in _spm_ex)
          and "BroadcastHashJoin" in p and "Window" in p,
          "the global cumsum is the two-pass distributed prefix sum: "
          "bucket-partitioned window + broadcast prefix join — NO "
          "single-partition exchange anywhere (the naive global "
          "window's scale-killer shape)")
    p = plan_of("compressed_shard_dispatch")
    check("compressed_shard_dispatch",
          p.count("ArrowEvalPython") == 1 and _bare_id_repartition_only(p)
          and "from_json" in p,
          "one codec-dispatched Arrow decompress per blob; JSON and "
          "the magic-sniffed codec column are JVM-side; no shuffle")
    p = plan_of("chat_turns_extract")
    check("chat_turns_extract",
          "ArrowEvalPython" not in p and "MapInPandas" not in p
          and "from_json" in p and "Window" in p,
          "conversation parse + alternation gate is pure JVM codegen "
          "(from_json + posexplode + a conv-keyed window) — zero UDF")
    p = plan_of("context_length_histogram")
    check("context_length_histogram",
          "ArrowEvalPython" not in p and "MapInPandas" not in p
          and "partial" in p.lower(),
          "per-doc bucketing partial-aggregates map-side; the only "
          "unpartitioned window runs over the <= 64-row bucket "
          "rollup — bounded, zero UDF")
    for q in ("preference_pair_prep", "fim_transform"):
        p = plan_of(q)
        check(q,
              "ArrowEvalPython" not in p and "MapInPandas" not in p
              and "Exchange" not in p,
              "training-prep transform is pure narrow JVM codegen — "
              "zero UDF, no shuffle anywhere")
    p = plan_of("wds_datasource_scan")
    check("wds_datasource_scan",
          "BatchScan webdataset" in p and "Exchange" not in p,
          "shard directory reads through the registered python "
          "DataSource (one InputPartition per shard file); key/ext "
          "derivation is a narrow projection — no shuffle anywhere")
    p = plan_of("subtitle_cue_extract")
    check("subtitle_cue_extract",
          "Exchange" not in p and "Generate" in p
          and "ArrowEvalPython" not in p and "MapInPandas" not in p,
          "cue extraction is a narrow codegen plan — regexp + "
          "posexplode, zero UDF, no shuffle anywhere")

    # --- r14 portable-HLL upgrades: register aggregation must partial-
    # aggregate before its exchange (the map-side-combine shape), and
    # the estimate stage's input is the bounded register table
    for q in ("approx_distinct_users", "streaming_sketch_maintenance"):
        p = plan_of(q)
        check(q,
              "partial" in p.lower() and "HashAggregate" in p,
              "register fold partial-aggregates map-side before the "
              "exchange (bounded |groups| x m rows cross the wire)")

    print()
    if failures:
        print(f"{len(failures)} plan check(s) FAILED")
        return 1
    print("all plan checks passed")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
