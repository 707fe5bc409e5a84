"""LSH index semantics vs an independent in-test numpy oracle.

The oracle reimplements the reference's documented semantics
(``minhash.py:170-184,223``, ``lsh.py:196,326-347,370-432``) directly from
the published math — signatures, band slicing, bucket membership — and the
Spark operators must agree exactly (band hashes differ by representation,
but bucket PARTITIONS must be identical).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StringType, StructField, StructType

from datasketch_spark.config import DedupConfig
from datasketch_spark.functions.hashing import (
    MAX_HASH,
    MERSENNE_PRIME,
    sha1_hash32,
)
from datasketch_spark.functions.minhash import (
    jaccard_col,
    make_signature_from_tokens_udf,
    make_signature_udf,
    merge_col,
)
from datasketch_spark.functions.shingles import shingle_hashes_sha1
from datasketch_spark.operators.lsh import (
    bands_table,
    candidate_pairs,
    lsh_query,
    with_signature,
)


# ---------------------------------------------------------------------------
# Oracle (pure numpy, written from the reference's published algorithm).
# ---------------------------------------------------------------------------


def oracle_perms(num_perm, seed):
    gen = np.random.RandomState(seed)
    out = []
    for _ in range(num_perm):
        a = gen.randint(1, int(MERSENNE_PRIME), dtype=np.uint64)
        b = gen.randint(0, int(MERSENNE_PRIME), dtype=np.uint64)
        out.append((a, b))
    arr = np.array(out, dtype=np.uint64)
    return arr[:, 0], arr[:, 1]


def oracle_sig(token_hashes, num_perm=128, seed=1):
    a, b = oracle_perms(num_perm, seed)
    sig = np.full(num_perm, MAX_HASH, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for hv in np.asarray(token_hashes, dtype=np.uint64):
            phv = np.bitwise_and((a * hv + b) % MERSENNE_PRIME, MAX_HASH)
            sig = np.minimum(sig, phv)
    return sig


def oracle_candidates(sigs: dict, b: int, r: int) -> set:
    """All-pairs candidates: keys sharing any band's exact slot values."""
    buckets: dict = {}
    for key, sig in sigs.items():
        for i in range(b):
            buckets.setdefault((i, tuple(sig[i * r : (i + 1) * r])), []).append(key)
    pairs = set()
    for members in buckets.values():
        for i, x in enumerate(members):
            for y in members[i + 1 :]:
                pairs.add((min(x, y), max(x, y)))
    return pairs


WORD_SETS = {
    1: ["minhash", "is", "a", "probabilistic", "data", "structure", "for",
        "estimating", "the", "similarity", "between", "datasets"],
    2: ["minhash", "is", "a", "probability", "data", "structure", "for",
        "estimating", "the", "similarity", "between", "documents"],
    3: ["minhash", "is", "probability", "data", "structure", "for",
        "estimating", "the", "similarity", "between", "documents"],
}


def _token_df(spark):
    schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("tokens", ArrayType(LongType()), False),
        ]
    )
    rows = [
        (k, [sha1_hash32(w.encode()) for w in words])
        for k, words in WORD_SETS.items()
    ]
    return spark.createDataFrame(rows, schema)


def test_signature_udf_matches_oracle_on_word_sets(spark):
    df = _token_df(spark)
    udf = make_signature_from_tokens_udf(128, 1)
    got = {
        r["doc_id"]: r["sig"]
        for r in df.withColumn("sig", udf("tokens")).collect()
    }
    for k, words in WORD_SETS.items():
        expected = oracle_sig([sha1_hash32(w.encode()) for w in words])
        assert got[k] == expected.astype(np.int64).tolist()


def test_docs_example_query_returns_m2_m3(spark):
    # docs/lsh.rst example: index {m2, m3}, query m1 at threshold 0.5.
    cfg = DedupConfig(threshold=0.5)
    udf = make_signature_from_tokens_udf(cfg.num_perm, cfg.seed)
    sigs = _token_df(spark).withColumn("sig", udf("tokens"))
    index = bands_table(sigs.where("doc_id != 1"), cfg)
    query = bands_table(sigs.where("doc_id = 1"), cfg).withColumnRenamed(
        "doc_id", "query_id"
    )
    res = lsh_query(index, query).collect()
    assert len(res) == 1
    assert sorted(res[0]["candidates"]) == [2, 3]


def test_candidate_pairs_match_oracle_random_corpus(spark):
    # 120 random int sets (reference lsh.py docstring corpus pattern):
    # our bucket-join candidates == oracle bucket candidates exactly.
    rng = np.random.RandomState(99)
    corpus = {
        int(i): sorted({int(x) for x in rng.randint(0, 40, size=12)})
        for i in range(120)
    }
    cfg = DedupConfig(threshold=0.5)  # (25, 5)
    token_rows = [
        (k, [sha1_hash32(str(v).encode()) for v in vals])
        for k, vals in corpus.items()
    ]
    schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("tokens", ArrayType(LongType()), False),
        ]
    )
    df = spark.createDataFrame(token_rows, schema)
    udf = make_signature_from_tokens_udf(cfg.num_perm, cfg.seed)
    sigs = df.withColumn("sig", udf("tokens"))
    got = {
        (r["a"], r["b"])
        for r in candidate_pairs(bands_table(sigs, cfg), cfg).collect()
    }
    want = oracle_candidates(
        {k: oracle_sig([sha1_hash32(str(v).encode()) for v in vals])
         for k, vals in corpus.items()},
        cfg.b,
        cfg.r,
    )
    assert got == want


def test_text_signature_parity_mode_matches_oracle(spark):
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "pack my box with five dozen liquor jugs",
        "a" * 3,  # shorter than shingle k
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["doc_id", "text"])
    cfg = DedupConfig(hash_mode="parity")
    got = {
        r["doc_id"]: r["sig"]
        for r in with_signature(df, cfg).collect()
    }
    for i, t in enumerate(texts):
        expected = oracle_sig(shingle_hashes_sha1(t, cfg.shingle_k))
        assert got[i] == expected.astype(np.int64).tolist(), i


def test_jaccard_and_merge_columns(spark):
    udf = make_signature_from_tokens_udf(128, 1)
    sigs = _token_df(spark).withColumn("sig", udf("tokens"))
    pair = (
        sigs.where("doc_id=1").select(F.col("sig").alias("s1"))
        .crossJoin(sigs.where("doc_id=2").select(F.col("sig").alias("s2")))
    )
    est = pair.select(jaccard_col("s1", "s2").alias("j")).collect()[0]["j"]
    o1 = oracle_sig([sha1_hash32(w.encode()) for w in WORD_SETS[1]])
    o2 = oracle_sig([sha1_hash32(w.encode()) for w in WORD_SETS[2]])
    assert est == pytest.approx((o1 == o2).mean())
    merged = pair.select(merge_col("s1", "s2").alias("m")).collect()[0]["m"]
    assert merged == np.minimum(o1, o2).astype(np.int64).tolist()


def test_bands_table_excludes_empty_signatures(spark):
    # Null and "" texts share the never-updated (all-MAX_HASH) signature,
    # which would form one giant bucket per band; bands_table drops them,
    # so they get no band rows and pair with nothing.
    cfg = DedupConfig(threshold=0.5)
    docs = spark.createDataFrame(
        [(1, "some real words here"), (2, "some real words here")]
        + [(3, None), (4, ""), (5, None), (6, "")],
        "doc_id long, text string",
    )
    bands = bands_table(with_signature(docs, cfg), cfg)
    assert {r["doc_id"] for r in bands.select("doc_id").distinct().collect()} == {1, 2}
    assert {tuple(r) for r in candidate_pairs(bands, cfg).collect()} == {(1, 2)}


def test_bucket_keys_golden(spark):
    # Band, forest-prefix and ensemble keys of one fixed signature. The
    # keys are persisted (the bands checkpoint stage, write_bucketed
    # tables) and xxhash64 has no DuckDB twin, so their values are pinned
    # here: a change to the key encoding fails this test.
    from datasketch_spark.operators.ensemble import EnsembleConfig, ensemble_bands
    from datasketch_spark.operators.forest import ForestConfig, prefix_table

    sig = [(i * 2654435761 + 12345) % int(MAX_HASH) for i in range(128)]
    df = spark.createDataFrame(
        [(7, sig, 50)], "doc_id long, sig array<bigint>, set_size int"
    )
    bands = bands_table(df, DedupConfig(params=(4, 8)))
    assert sorted((r["band_idx"], r["band_hash"]) for r in bands.collect()) == [
        (0, 5282517491209670196),
        (1, -646244862577117898),
        (2, 4280519396084218462),
        (3, 2274822790871633028),
    ]
    # ForestConfig(128, 4) stores the probe depths [32, 8, 2, 1].
    prefixes = prefix_table(df, ForestConfig(128, 4))
    assert sorted(
        (r["tree_idx"], r["depth"], r["prefix_hash"]) for r in prefixes.collect()
    ) == [
        (0, 1, -3546864081105325289),
        (0, 2, 3660729868448097407),
        (0, 8, -5853806351532531143),
        (0, 32, -6750405470771080241),
        (1, 1, -9208013034578225856),
        (1, 2, 7407762303829665689),
        (1, 8, 6473664921528266242),
        (1, 32, -4831099656233714570),
        (2, 1, -6373930452249192673),
        (2, 2, -1274027837780353610),
        (2, 8, -4649716144493039627),
        (2, 32, -8627020562351317412),
        (3, 1, -3022091949729706065),
        (3, 2, -5366240590768705333),
        (3, 8, -5385850788658240955),
        (3, 32, 5430437834504228625),
    ]
    ecfg = EnsembleConfig()
    assert ecfg.rs == [6, 8]
    ens = ensemble_bands(df, ecfg, [(1, 10**6)], prune_unreachable=False).collect()
    assert len(ens) == 128 // 6 + 128 // 8
    assert sorted(
        (r["r"], r["band_idx"], r["band_hash"]) for r in ens if r["band_idx"] < 2
    ) == [
        (6, 0, 671073972555639534),
        (6, 1, -5764787676369151435),
        (8, 0, -2932120025425238993),
        (8, 1, 6005870564709570342),
    ]
