"""WeightedMinHash signatures through the same banded-LSH table machinery
(the reference's MinHashLSH accepts WeightedMinHash, lsh.py:213-231 —
bands are slices of the (k,t) pair array, bucketing on slice equality)."""

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType, LongType, StructField, StructType

from datasketch_spark.functions.weighted import make_weighted_minhash_udf, weighted_jaccard_col
from datasketch_spark.operators.lsh import slice_key


def test_weighted_lsh_buckets_similar_vectors(spark):
    dim, sample_size = 24, 128
    rng = np.random.RandomState(9)
    base = rng.uniform(1, 10, size=dim)
    rows = []
    # 5 groups of 3 near-identical weighted vectors + 15 random singletons.
    for g in range(5):
        center = rng.uniform(1, 10, size=dim)
        for m in range(3):
            v = center * (1 + rng.uniform(-0.02, 0.02, size=dim))
            rows.append((g * 10 + m, [float(x) for x in v]))
    for i in range(15):
        # Sparse singletons: dense uniform vectors all share weighted
        # Jaccard ~0.6 with each other (sum(min)/sum(max)), which WOULD
        # legitimately collide at (16, 8); distinct sparse supports keep
        # singleton similarity low.
        v = rng.uniform(1, 10, size=dim)
        zero = rng.choice(dim, size=int(dim * 0.7), replace=False)
        v[zero] = 0.0
        rows.append((1000 + i, [float(x) for x in v]))
    schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("vec", ArrayType(FloatType()), False),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    udf = make_weighted_minhash_udf(dim, sample_size, seed=1)
    w = df.withColumn("wmh", udf("vec"))
    # Band the (k, t) struct array exactly like sig bands.
    b, r = 16, 8
    bands = w.select(
        "doc_id",
        F.posexplode(
            F.array(*[slice_key((i,), i * r, r, F.col("wmh")) for i in range(b)])
        ).alias("band_idx", "band_hash"),
    )
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), ["band_idx", "band_hash"])
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .distinct()
    )
    # Verify candidates with the weighted-Jaccard estimator (the
    # reference's documented post-filter pattern).
    wm = w.select(F.col("doc_id"), F.col("wmh"))
    verified = (
        cand.join(wm.select(F.col("doc_id").alias("a"), F.col("wmh").alias("wa")), "a")
        .join(wm.select(F.col("doc_id").alias("b"), F.col("wmh").alias("wb")), "b")
        .select(
            "a",
            "b",
            weighted_jaccard_col("wa", "wb", sample_size).alias("est"),
        )
        .collect()
    )
    got = {(r["a"], r["b"]): r["est"] for r in verified}
    # All within-group pairs found (true weighted J ~ 0.98).
    for g in range(5):
        ids = [g * 10 + m for m in range(3)]
        for i, x in enumerate(ids):
            for y in ids[i + 1 :]:
                assert (x, y) in got, (x, y)
                assert got[(x, y)] > 0.8
    # Any extra candidate must reflect genuine similarity (dense uniform
    # vectors sit at weighted J ~ 0.6 — not noise); sparse singletons
    # (J << threshold) never collide.
    for (a, b_), est in got.items():
        if a // 10 != b_ // 10:
            assert est > 0.3, (a, b_, est)
        assert not (a >= 1000 or b_ >= 1000) or est > 0.3, (a, b_, est)
