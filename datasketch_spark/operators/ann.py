"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline (native zip_with/aggregate
expressions — no Python); the scale path buckets vectors with random
hyperplane signatures (SimHash for cosine, Charikar 2002) so the pairwise
join is restricted to bucket collisions, exactly mirroring the MinHash->LSH
structure used for Jaccard.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from datasketch_spark.operators.lsh import bucket_pairs
from datasketch_spark.operators.verify import join_sides


def dot_col(v1, v2):
    a = F.col(v1) if isinstance(v1, str) else v1
    b = F.col(v2) if isinstance(v2, str) else v2
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_col(v):
    a = F.col(v) if isinstance(v, str) else v
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, sim, rank).

    queries x vectors cross join — the O(QxN) baseline. Norms are
    precomputed per side (norm is O(dim) per VECTOR, not per pair), and
    the float->double element casts are hoisted into the same per-vector
    projection — the per-pair dot then folds plain doubles instead of
    re-casting both arrays for every pair (identical values: the cast is
    exact and elementwise either way). The query side is broadcast. Ties
    broken by neighbor id for determinism.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
        norm_col(vec_col).alias("_qn"),
    )
    c = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("_cv"),
        norm_col(vec_col).alias("_cn"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "sim",
            F.round(dot_col("_qv", "_cv") / (F.col("_qn") * F.col("_cn")), round_digits),
        )
        .select("query_id", "neighbor_id", "sim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def cosine_pairs(
    vectors: DataFrame,
    min_sim: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
    block_col: str | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs: all (a < b) with cosine >= min_sim.

    Exact self-join with per-vector norm precomputation; ``block_col``
    restricts pairs to equal-key blocks (the quadratic-taming pattern —
    unblocked exact all-pairs does not survive scale; the unblocked scale
    path is simhash_bucketed_pairs)."""
    # Cast float->double ONCE per vector here: the per-pair dot in `sim`
    # otherwise re-casts both 64-element arrays for every joined pair
    # (measured ~25% of the pair-scoring stage at sf0.1; values identical).
    base = vectors.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
        norm_col(vec_col).alias("_n"),
        *([F.col(block_col).alias("_blk")] if block_col else []),
    )
    on = [F.col("a") < F.col("b")]
    left = base.select(
        F.col("_id").alias("a"), F.col("_v").alias("_va"), F.col("_n").alias("_na"),
        *([F.col("_blk").alias("_blka")] if block_col else []),
    )
    right = base.select(
        F.col("_id").alias("b"), F.col("_v").alias("_vb"), F.col("_n").alias("_nb"),
        *([F.col("_blk").alias("_blkb")] if block_col else []),
    )
    if block_col:
        on.append(F.col("_blka") == F.col("_blkb"))
    cond = on[0]
    for c in on[1:]:
        cond = cond & c
    return (
        left.join(right, cond)
        .withColumn(
            "sim",
            F.round(dot_col("_va", "_vb") / (F.col("_na") * F.col("_nb")), round_digits),
        )
        .where(F.col("sim") >= min_sim)
        .select("a", "b", "sim")
    )


def random_hyperplanes(dim: int, n_bits: int, seed: int = 1) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.normal(size=(n_bits, dim)).astype(np.float64)


def make_simhash_bands_udf(n_bits: int, n_tables: int, seed: int = 1):
    """Pandas UDF ``embedding -> array<bigint>`` of n_tables packed SimHash
    signatures: ONE (batch x dim) @ (dim x n_tables*n_bits) matmul per Arrow
    batch against the closure-held plane tensor, then sign-pack. No plan
    literals, one Python boundary — the same discipline as the MinHash
    signature UDF. The embedding width comes from each batch; the planes
    for a width are drawn once and cached in the closure."""
    from pyspark.sql.types import ArrayType, LongType

    planes_by_dim: dict[int, np.ndarray] = {}
    weights = (1 << np.arange(n_bits, dtype=np.int64))  # bit i -> 2^i

    def planes_for(dim: int) -> np.ndarray:
        # (n_tables*n_bits, dim), table t owns rows [t*n_bits, (t+1)*n_bits).
        if dim not in planes_by_dim:
            planes_by_dim[dim] = np.vstack(
                [
                    random_hyperplanes(dim, n_bits, seed + t * 1000)
                    for t in range(n_tables)
                ]
            )
        return planes_by_dim[dim]

    @F.pandas_udf(ArrayType(LongType()))
    def simhash_bands(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        V = np.array(vecs.tolist(), dtype=np.float64)  # (n, dim)
        signs = (V @ planes_for(V.shape[1]).T) >= 0  # (n, n_tables*n_bits)
        packed = signs.reshape(len(V), n_tables, n_bits).astype(np.int64) @ weights
        return pd.Series(list(packed))  # (n, n_tables) int64

    return simhash_bands


def simhash_bucketed_pairs(
    vectors: DataFrame,
    min_sim: float,
    n_bits: int = 16,
    n_tables: int = 4,
    seed: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine near-dup pairs: candidates collide on at least one
    of n_tables random-hyperplane signatures, then exact-cosine verified.
    The banded structure mirrors MinHash LSH; collision prob per table for
    angle theta is (1 - theta/pi)^n_bits. Building the plan runs no job:
    the signature UDF reads the embedding width from its batches."""
    sigs = vectors.select(id_col, vec_col)
    udf = make_simhash_bands_udf(n_bits, n_tables, seed)
    # Same shape as lsh.candidate_pairs: ONE UDF evaluation (a self-join on
    # the bands would re-run the ArrowEval per side), one shuffle groupBy on
    # the bucket, native nested-transform pair expansion.
    bands = sigs.select(
        F.col(id_col),
        F.posexplode(udf(F.col(vec_col))).alias("band_idx", "band_hash"),
    )
    cands = bucket_pairs(bands, ["band_idx", "band_hash"], id_col)
    # Exact-cosine verification against the (UDF-free) vector table. Cast
    # hoisted per vector (see cosine_pairs).
    v = vectors.select(
        id_col,
        F.col(vec_col).cast("array<double>").alias("v"),
        norm_col(vec_col).alias("n"),
    )
    return (
        join_sides(cands, v, id_col, ["v", "n"])
        .withColumn(
            "sim", F.round(dot_col("v_a", "v_b") / (F.col("n_a") * F.col("n_b")), 4)
        )
        .where(F.col("sim") >= min_sim)
        .select("a", "b", "sim")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) cosine top-k — the clustered scale path.
# ---------------------------------------------------------------------------


def train_ivf_centroids(
    vectors: DataFrame,
    n_lists: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_size: int = 4096,
    n_iters: int = 10,
) -> np.ndarray:
    """Spherical k-means centroids (n_lists x dim, unit-norm) trained on a
    DETERMINISTIC sample: rows are taken in xxhash64(id) order (a
    TakeOrdered scan — per-partition top-k heaps, no full shuffle, no RNG
    over data), normalized, and Lloyd-iterated with cosine assignment.
    Training cost is O(sample x n_lists x dim) on the driver; everything
    corpus-sized (assignment, search) stays distributed. Empty clusters
    keep their previous centroid, so the result is reproducible
    run-to-run and across cluster sizes."""
    rows = (
        vectors.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .orderBy(F.xxhash64("_id"))
        .limit(sample_size)
        .collect()
    )
    X = np.array([r["_v"] for r in rows], dtype=np.float64)
    if len(X):
        norms = np.linalg.norm(X, axis=1)
        X = X[norms > 0] / norms[norms > 0, None]
    if len(X) == 0:
        # Fail here with a clear message instead of an opaque numpy
        # argmax/argpartition error inside the executor's assignment UDF.
        raise ValueError("no non-zero vectors to train IVF centroids")
    n_lists = min(n_lists, len(X))
    cent = X[:n_lists].copy()  # deterministic init: first rows in hash order
    for _ in range(n_iters):
        assign = np.argmax(X @ cent.T, axis=1)
        for c in range(n_lists):
            members = X[assign == c]
            if len(members):
                m = members.sum(axis=0)
                norm = np.linalg.norm(m)
                if norm > 0:
                    cent[c] = m / norm
    return cent


def make_ivf_lists_udf(centroids: np.ndarray, n_probe: int):
    """Pandas UDF ``embedding -> array<int>`` of the n_probe nearest
    centroid ids by cosine: ONE (batch x dim) @ (dim x n_lists) matmul per
    Arrow batch (the SimHash/MinHash UDF discipline — closure-held tensor,
    no plan literals). n_probe=1 is the index-side assignment; queries
    pass their probe width."""
    from pyspark.sql.types import ArrayType, IntegerType

    C = np.asarray(centroids, dtype=np.float64)  # (n_lists, dim), unit rows
    n_probe = min(n_probe, len(C))

    @F.pandas_udf(ArrayType(IntegerType()))
    def ivf_lists(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        V = np.array(vecs.tolist(), dtype=np.float64)
        sims = V @ C.T  # row norms don't change the argmax order
        if n_probe == 1:
            top = np.argmax(sims, axis=1)[:, None]
        else:
            top = np.argpartition(-sims, n_probe - 1, axis=1)[:, :n_probe]
            # order probes best-first for readability/determinism
            rows = np.arange(len(V))[:, None]
            top = top[rows, np.argsort(-sims[rows, top], axis=1)]
        return pd.Series([t.astype(np.int32).tolist() for t in top])

    return ivf_lists


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_lists: int = 64,
    n_probe: int = 8,
    centroids: np.ndarray | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    round_digits: int = 4,
    exclude_self: bool = True,
) -> DataFrame:
    """(query_id, neighbor_id, sim, rank): IVF-flat approximate cosine
    top-k — the clustered counterpart to ``brute_force_topk``.

    Index side: every vector is assigned to its nearest spherical-k-means
    centroid (one matmul UDF pass -> ``list_id``). Query side: each query
    expands to its n_probe nearest lists and an equi-join on ``list_id``
    restricts scoring to those lists' members — per-query work is
    ~n_probe/n_lists of the corpus instead of all of it, and the join
    shuffles on a bounded-cardinality key (n_lists), never on pairs.
    Scoring and ranking are exact native expressions over the candidates
    (same rounding/tie rules as ``brute_force_topk``, so with
    n_probe == n_lists the output is IDENTICAL to brute force).

    ``centroids``: pass a pretrained array to skip training (build-once /
    query-many); default trains on a deterministic sample.
    """
    if centroids is None:
        centroids = train_ivf_centroids(
            vectors, n_lists, vec_col=vec_col, id_col=id_col
        )
    assign_udf = make_ivf_lists_udf(centroids, 1)
    probe_udf = make_ivf_lists_udf(centroids, n_probe)

    assigned = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("_cv"),
        norm_col(vec_col).alias("_cn"),
        F.element_at(assign_udf(F.col(vec_col)), 1).alias("list_id"),
    )
    probes = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
        norm_col(vec_col).alias("_qn"),
        F.explode(probe_udf(F.col(vec_col))).alias("list_id"),
    )
    cands = probes.join(assigned, "list_id")
    if exclude_self:
        cands = cands.where(F.col("query_id") != F.col("neighbor_id"))
    scored = cands.select(
        "query_id",
        "neighbor_id",
        F.round(
            dot_col("_qv", "_cv") / (F.col("_qn") * F.col("_cn")), round_digits
        ).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )
