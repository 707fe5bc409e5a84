"""Query-buffer intersection (#28) and bucket histogram / cap (#31)."""

from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from datasketch_spark.config import DedupConfig
from datasketch_spark.functions.hashing import sha1_hash32
from datasketch_spark.functions.minhash import make_signature_from_tokens_udf
from datasketch_spark.operators.lsh import (
    bands_table,
    bucket_histogram,
    candidate_pairs,
    dropped_buckets,
    query_buffer_intersection,
)

CFG = DedupConfig(threshold=0.5)
SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("tokens", ArrayType(LongType()), False),
    ]
)


def _sigs(spark, keyed):
    udf = make_signature_from_tokens_udf(CFG.num_perm, CFG.seed)
    df = spark.createDataFrame(
        [(k, [sha1_hash32(t.encode()) for t in toks]) for k, toks in keyed], SCHEMA
    )
    return df.withColumn("sig", udf("tokens")).select("doc_id", "sig")


def test_query_buffer_intersection(spark):
    # Index: doc 0 = A-set, doc 1 = B-set, doc 2 = mixed A+B.
    A = [f"a{i}" for i in range(30)]
    B = [f"b{i}" for i in range(30)]
    index = _sigs(spark, [(0, A), (1, B), (2, A[:15] + B[:15])])
    idx_bands = bands_table(index, CFG)
    # Buffered queries: one A-ish, one B-ish. Only doc 2 is a candidate of
    # BOTH (reference collect_query_buffer semantics: union across bands
    # per query, intersection across the buffered queries, lsh.py:434-483).
    # Both queries are ~0.77-Jaccard to doc 2 (detection ~1 at (25,5));
    # their similarity to docs 0/1 is ~0.4 (may or may not collide — the
    # per-query ground truth below is computed, not assumed).
    queries = _sigs(
        spark, [(100, A[:15] + B[:8]), (101, B[:15] + A[:8])]
    ).withColumnRenamed("doc_id", "query_id")
    q_bands = bands_table(queries, CFG, key_col="query_id")
    per_query = (
        q_bands.join(idx_bands, ["band_idx", "band_hash"])
        .select("query_id", "doc_id")
        .distinct()
        .collect()
    )
    cands_by_q: dict = {}
    for r in per_query:
        cands_by_q.setdefault(r["query_id"], set()).add(r["doc_id"])
    assert 2 in cands_by_q[100] and 2 in cands_by_q[101]
    got = {
        r["doc_id"]
        for r in query_buffer_intersection(idx_bands, q_bands, n_queries=2).collect()
    }
    assert got == cands_by_q[100] & cands_by_q[101]
    assert 2 in got


def test_bucket_histogram_and_cap(spark):
    # 20 identical docs -> every band bucket has 20 members; a bucket_cap
    # below 20 must drop ALL pair expansion and surface the dropped
    # buckets in the diagnostic (reference get_counts, lsh.py:560-589).
    same = [f"t{i}" for i in range(25)]
    sigs = _sigs(spark, [(i, same) for i in range(20)])
    bands = bands_table(sigs, CFG)
    hist = bucket_histogram(bands).collect()
    assert len(hist) == CFG.b
    assert all(r["n_keys"] == 20 for r in hist)

    capped = DedupConfig(threshold=0.5, bucket_cap=10)
    assert candidate_pairs(bands, capped).count() == 0
    dropped = dropped_buckets(bands, capped).collect()
    assert len(dropped) == CFG.b and all(r["n_keys"] == 20 for r in dropped)

    # With a sufficient cap, all 190 pairs appear.
    roomy = DedupConfig(threshold=0.5, bucket_cap=100)
    assert candidate_pairs(bands, roomy).count() == 190

