"""Similarity search over an embedding column — the four engine modes.

    python examples/ann_search.py

Exact baseline -> bucketed pairs (SimHash) -> clustered top-k (IVF) ->
graph top-k (HNSW, build-once/query-many). Same DataFrame in, same
(query_id, neighbor_id, rank) contract out; pick by corpus size and
query pattern:

  - brute_force_topk: exact, O(Q x N) — small probes or ground truth.
  - simhash_bucketed_pairs: corpus x corpus near-dup pairs at scale.
  - ivf_topk: repeated top-k batches, shuffle bounded by n_lists.
  - PartitionedHNSW: lowest per-batch latency after a one-time build.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

from datasketch_spark import get_spark
from datasketch_spark.operators.ann import (
    brute_force_topk,
    ivf_topk,
    simhash_bucketed_pairs,
    train_ivf_centroids,
)
from datasketch_spark.operators.hnsw import PartitionedHNSW


def main() -> None:
    spark = get_spark()
    rng = np.random.RandomState(7)
    centers = rng.normal(size=(20, 32)) * 4.0
    pts = np.vstack([c + rng.normal(size=(50, 32)) for c in centers])
    vectors = spark.createDataFrame(
        [(i, pts[i].tolist()) for i in range(len(pts))], ["vec_id", "embedding"]
    )
    queries = vectors.where("vec_id % 100 = 0")

    print("=== exact baseline (brute force) ===")
    brute_force_topk(vectors, queries, k=3).show(6)

    print("=== near-duplicate pairs via SimHash buckets ===")
    simhash_bucketed_pairs(vectors, min_sim=0.95).show(6)

    print("=== IVF-flat top-k (train once, query many) ===")
    centroids = train_ivf_centroids(vectors, n_lists=20)
    ivf_topk(
        vectors, queries, k=3, n_lists=20, n_probe=4, centroids=centroids
    ).show(6)

    print("=== HNSW top-k (build once, query many) ===")
    index = PartitionedHNSW(vectors, distance="cosine", n_partitions=4)
    index.query(queries, k=3).show(6)
    index.query(vectors.where("vec_id % 100 = 7"), k=3).show(6)

    print("=== HNSW: persist, reload, distributed table-sized queries ===")
    store = "/tmp/ann_example_hnsw"
    index.save(store)
    index.unpersist()
    reloaded = PartitionedHNSW.load(spark, store, expected_config=index.config)
    # query_df never collects the query set: chunked crossJoin over the
    # saved graphs — the shape for query batches that are themselves big.
    reloaded.query_df(vectors.where("vec_id % 50 = 1"), k=3).show(6)
    reloaded.unpersist()


if __name__ == "__main__":
    main()
