"""sf10 scaling probe (VERDICT r10 ask #8): one decade beyond the
per-round sf1 evidence, for the heaviest headliners only.

The 100 TB claims rest on sf0.1 -> sf1 linearity; this pins a second
decade (sf0.1 -> sf10, 100x) for the queries whose cost actually
dominates the bench: PageRank, the stream-stream join pair, SCD2 from
feed, entity resolution, IVF-PQ search, the MinHash-LSH dedup, and
the corpus capstone.

Input synthesis and the timing loop are tools/bench_sf1.py's
(``bench_sf1.run``) with 100 replicas (same replica-salting of document
tokens, same key strides — stride * 100 stays far under int64 and keeps
every FK / density invariant documented there).  Output appends a
``"sf": "10"`` entry to bench_history.jsonl.

Run ALONE (no concurrent Spark jobs):

    python tools/bench_sf10.py [query ...]
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(HERE, "tools"))

import bench_sf1

REPLICAS = 100
SCALED_DIR = "/tmp/spark-graft-sf10"

# the top-10 heaviest headliners per BENCH_r10 + the verdict's ask
HEAVY = [
    "graph_pagerank",
    "streaming_stream_stream_join",
    "streaming_stream_stream_left_outer",
    "scd2_dim_from_feed",
    "entity_resolution_clusters",
    "knn_ivf_pq",
    "dedup_minhash_lsh",
    "corpus_pipeline_e2e",
    "snapshot_partitioned_upsert",
    "bm25_search",
]


if __name__ == "__main__":
    bench_sf1.run(sys.argv[1:] or HEAVY, REPLICAS, SCALED_DIR, "10")
