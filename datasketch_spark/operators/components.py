"""Connected components over the verified-duplicate edge set.

Absent from the reference entirely (SURVEY.md 2.4); implemented with the
alternating large-star / small-star DataFrame algorithm (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC 2014), which converges
in O(log n) rounds even on path graphs. Each round is two grouped
aggregations + joins; its lineage is cut with ``sources.io.local_checkpoint``
(lazy) so the plan doesn't grow unboundedly, and the round's convergence
check is the job that materializes it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datasketch_spark.sources.io import local_checkpoint


def _canon(edges: DataFrame) -> DataFrame:
    """Canonicalize to (u > v) directed-to-smaller, dropping self-loops."""
    return (
        edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """large-star(E): for each node u, connect all strictly-larger neighbors
    to m = min(N(u) + {u})."""
    nbrs = edges.select("u", "v").union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = (
        nbrs.groupBy("u")
        .agg(F.min("v").alias("minv"))
        .select("u", F.least("minv", F.col("u")).alias("m"))
    )
    return (
        nbrs.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """small-star(E): for each node u over its <=u neighbors, connect all of
    N(u) + {u} except m to m = min(N(u) + {u})."""
    nbrs = _canon(edges)  # directed u -> v with v < u
    mins = nbrs.groupBy("u").agg(F.min("v").alias("m"))  # m <= all v < u
    relinked = (
        nbrs.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    self_links = mins.select(F.col("u"), F.col("m").alias("v"))
    return relinked.union(self_links).where(F.col("u") != F.col("v"))


def _edge_fingerprint(edges: DataFrame) -> tuple[int, int]:
    row = edges.select(
        F.count("*").alias("n"),
        F.coalesce(
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")), F.lit(0)
        ).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def connected_components(edges: DataFrame, max_iterations: int = 20) -> DataFrame:
    """(u, v) undirected edges -> (node, component) labels, component = the
    minimum node id in each connected component.

    Each round's edges are a lazy ``local_checkpoint``: the round's
    fingerprint collect is the one job that materializes them, and the
    next round reads the pinned blocks instead of the growing lineage.
    """
    cur = local_checkpoint(_canon(edges))
    prev_fp = None
    converged = False
    for _ in range(max_iterations):
        cur = local_checkpoint(_canon(_small_star(_large_star(cur))))
        fp = _edge_fingerprint(cur)
        if fp == prev_fp:
            converged = True
            break
        prev_fp = fp
    if not converged:
        # The star-forest extraction below ASSUMES a fixpoint; returning
        # anyway would silently mislabel clusters. O(log n) rounds suffice
        # in theory, so hitting the cap means the cap is too low (or the
        # fingerprint check is broken) — fail loudly.
        raise RuntimeError(
            f"connected_components did not converge within "
            f"max_iterations={max_iterations}; raise the cap"
        )
    # Converged state is a star forest: every edge is (member, root).
    labels = cur.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = cur.select(F.col("v").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    return labels.union(roots).distinct()


def _driver_union_find(edge_rows) -> list[tuple[int, int]]:
    """Plain union-find with path halving; label = min node of component."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for u, v in edge_rows:
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by min so the root IS the min label
            lo, hi2 = (ru, rv) if ru < rv else (rv, ru)
            parent[hi2] = lo
    return [(x, find(x)) for x in parent.keys() | {v for v in parent.values()}]


def connected_components_auto(
    edges: DataFrame,
    driver_max_edges: int = 2_000_000,
    max_iterations: int = 20,
) -> DataFrame:
    """Hybrid CC: if the edge set is small enough (dedup edge sets are tiny
    relative to the corpus — dup rate x corpus, not corpus^2), collect and
    run union-find on the driver (one job instead of ~4 shuffles x rounds);
    above the threshold, use distributed large-star/small-star.
    """
    import pandas as pd

    spark = edges.sparkSession
    # One pass: pull up to the threshold+1 edges; only if the limit is hit
    # do we pay for the distributed path (a count-first approach would scan
    # the edge set twice).
    pdf = edges.select("u", "v").limit(driver_max_edges + 1).toPandas()
    if len(pdf) > driver_max_edges:
        return connected_components(edges, max_iterations)
    if len(pdf) == 0:
        return spark.createDataFrame([], "node long, component long")
    labels = _driver_union_find(list(zip(pdf["u"].tolist(), pdf["v"].tolist())))
    if not labels:
        return spark.createDataFrame([], "node long, component long")
    # Arrow path: much faster than the pickled list-of-tuples path.
    return spark.createDataFrame(pd.DataFrame(labels, columns=["node", "component"]))


def attach_cluster_ids(
    docs: DataFrame,
    labels: DataFrame,
    key_col: str = "doc_id",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Left-join labels onto the full doc set; singletons (no dup edge)
    become their own cluster."""
    lab = labels.select(
        F.col("node").alias(key_col), F.col("component").alias(cluster_col)
    )
    return docs.join(lab, key_col, "left").withColumn(
        cluster_col, F.coalesce(F.col(cluster_col), F.col(key_col))
    )
