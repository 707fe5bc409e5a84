"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes the engine's operator surface over the driver's
parquet tables; each SQL-expressible entry has an exact DuckDB twin in
``oracle_sql()`` (same column names, same rounding). Non-SQL-expressible
ops (MinHash/LSH — the sketching itself) are rows-only checks.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datasketch_spark.config import DedupConfig
from datasketch_spark.functions.text import (
    LANG_STOPWORDS,
    char_ngrams_col,
    distinct_words_col,
    fingerprint_col,
    langid_col,
    quality_features,
    token_count_col,
)
from datasketch_spark.operators.ann import brute_force_topk, cosine_pairs
from datasketch_spark.operators.dedup import dedup_pipeline
from datasketch_spark.operators.exact import exact_dup_groups
from datasketch_spark.operators.lsh import (
    bands_table,
    candidate_pairs,
    signature_table,
    with_signature,
)
from datasketch_spark.sources.io import local_checkpoint, spread


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# ---------------------------------------------------------------------------
# SQL-expressible queries (strong oracle check).
# ---------------------------------------------------------------------------


def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs(spark, sf_dir)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.sum(token_count_col("text")).alias("total_tokens"),
        )
        .orderBy("lang")
    )


def q_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        exact_dup_groups(_docs(spark, sf_dir))
        .select(
            "fingerprint",
            "n_docs",
            "canonical_id",
            F.array_join(F.transform("doc_ids", lambda x: x.cast("string")), ",").alias(
                "doc_ids_csv"
            ),
        )
    )


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select("doc_id", *quality_features("text"))


def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id", langid_col("text").alias("pred_lang")
    )


def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id", fingerprint_col("text").alias("fingerprint")
    )


def q_word_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Prefix-filtered exact self-join (see q_ngram_jaccard_pairs), blocked
    # by (lang, source). Output-identical to the blocked all-pairs form
    # (verified at sf0.1), modestly faster here, and scale-safe.
    from datasketch_spark.operators.setjoin import prefix_filtered_jaccard_pairs

    # Raw words: the operator applies array_distinct itself (see
    # q_ngram_jaccard_pairs).
    from datasketch_spark.functions.text import words_col

    d = spread(_docs(spark, sf_dir)).select(
        "doc_id", "lang", "source", words_col("text").alias("words")
    )
    return prefix_filtered_jaccard_pairs(
        d, "words", 0.5, block_cols=["lang", "source"]
    )


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # PPJoin-style prefix-filtered exact self-join (operators/setjoin.py):
    # candidates share a token in their size-derived prefixes under a
    # global order, so generation is an inverted-index bucket expansion,
    # never a quadratic block join — verified output-identical to the
    # blocked all-pairs form and ~2x faster at sf0.1 (10.2s vs 19.8s warm,
    # same session). A plain size-ratio prefilter was measured in r1 and
    # REMOVED (cost 50% on this corpus); prefix filtering prunes where it
    # didn't. (lang, source) blocking stays as a conjunctive condition.
    from datasketch_spark.operators.setjoin import prefix_filtered_jaccard_pairs

    # Raw (non-distinct) grams: prefix_filtered_jaccard_pairs applies
    # array_distinct itself; the previous outer distinct ran the O(n)
    # hash-dedup twice per doc for the same array.
    d = spread(_docs(spark, sf_dir)).select(
        "doc_id",
        "lang",
        "source",
        char_ngrams_col(F.col("text"), 3).alias("grams"),
    )
    return prefix_filtered_jaccard_pairs(
        d, "grams", 0.6, block_cols=["lang", "source"]
    )


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(_emb(spark, sf_dir))
    return brute_force_topk(emb, emb.where("vec_id < 20"), k=5)


def q_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Blocked by label (same quadratic-taming pattern as the jaccard pair
    # queries); the unblocked approximate path is simhash_bucketed_pairs.
    return cosine_pairs(spread(_emb(spark, sf_dir)), min_sim=0.4, block_col="label")


# ---------------------------------------------------------------------------
# Sketch-path queries (rows-only checks — not SQL-expressible).
# ---------------------------------------------------------------------------


def _url_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents as dedup_pipeline input: the original doc_id as url."""
    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("url"), "text"
    )


def _min_rep_labels(clusters: DataFrame) -> DataFrame:
    """(orig_doc_id, cluster_rep): internal ids are content-addressed
    (xxhash64(url)); relabel each cluster by its min ORIGINAL doc_id so the
    output is a pure function of the deterministic sketch math — which makes
    the full pipeline (shingle -> splitmix64 -> 128 permutations -> banding
    -> bucket pairs -> est-Jaccard verify -> connected components) exactly
    reproducible by the DuckDB oracle. Same partition, canonical labels."""
    out = clusters.select(
        F.col("url").cast("bigint").alias("orig_doc_id"), "cluster_id"
    )
    # Window min instead of groupBy + broadcast join: one exchange, one
    # pass over the clusters table (the join shape scanned it twice).
    w = Window.partitionBy("cluster_id")
    return out.select(
        "orig_doc_id", F.min("orig_doc_id").over(w).alias("cluster_rep")
    )


def q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    cfg = DedupConfig(threshold=0.5)
    return _min_rep_labels(dedup_pipeline(_url_docs(spark, sf_dir), cfg)["clusters"])


def q_dedup_with_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The integrated north-rule pipeline: MinHash near-dup edges UNION
    # exact-substring edges (>= 29-byte match at this k/w) -> connected
    # components -> cluster labels. Both edge sets are individually
    # oracle-proven; the DuckDB twin unions them before the recursive CC.
    cfg = DedupConfig(threshold=0.5, substring_k=20, substring_window=10)
    stages = dedup_pipeline(_url_docs(spark, sf_dir), cfg, substring_pass=True)
    return _min_rep_labels(stages["clusters"])


def q_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    cfg = DedupConfig(threshold=0.5)
    # signature_table checkpoints the signatures, so the pairs plan below
    # carries no Python UDF.
    sigs = signature_table(_docs(spark, sf_dir), cfg)
    return candidate_pairs(bands_table(sigs, cfg), cfg)


def q_substring_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact long-substring pass (Lee et al. 2021 style, SURVEY.md 2.4):
    # winnowed k-gram fingerprints -> aligned extend-verify. k/w scaled to
    # the short driver docs (min exact match = k + w - 1 = 29 bytes).
    # The winnowing guarantee makes the PAIR SET exactly SQL-expressible:
    # (a, b) iff the docs share a common substring >= 29 bytes, i.e. share
    # a 29-gram — the DuckDB oracle is a 29-gram self-join. match_len is a
    # separate rows-only query (longest-common-substring is not SQL).
    from datasketch_spark.operators.suffix import substring_dedup_edges

    docs = spread(_docs(spark, sf_dir)).select("doc_id", "text")
    # bucket_cap lifted for the oracle query: the driver corpus is 500 docs,
    # so even a fully-shared boilerplate fingerprint is far below any memory
    # hazard, and the oracle has no cap.
    return substring_dedup_edges(docs, k=20, w=10, bucket_cap=100_000).select(
        "a", "b"
    )


def q_substring_match_len(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Companion to substring_edges WITH the extend-verify match length.
    # match_len = longest common substring (when >= 29) IS SQL-expressible:
    # (k + w - 2) + the longest run of consecutive shared 29-grams on a
    # constant diagonal i - j — a gaps-and-islands window query (see the
    # oracle). Every >=29 match contains a shared winnowed fingerprint on
    # its diagonal (winnowing guarantee), and verify extends maximally, so
    # the two formulations agree exactly.
    from datasketch_spark.operators.suffix import substring_dedup_edges

    docs = spread(_docs(spark, sf_dir)).select("doc_id", "text")
    return substring_dedup_edges(docs, k=20, w=10, bucket_cap=100_000)


def q_hll_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Reference-parity HLL (original estimator, hyperloglog.py:103-168) as
    # native Spark expressions — deterministic, so exactly SQL-oracle-able
    # (the md5-based 32-bit hashfunc is used because sandbox DuckDB lacks
    # sha1; the reference accepts custom 32-bit hashfuncs the same way).
    # The Spark-native HLL++ mapping (approx_count_distinct) stays available
    # in operators/hll.py; its estimator is engine-internal and can never
    # hash-match a DuckDB oracle.
    from datasketch_spark.operators.hll import hll_count_reference, md5_hash32_col

    words = spread(_docs(spark, sf_dir)).select(
        F.explode(distinct_words_col("text")).alias("word")
    )
    est = hll_count_reference(words, "word", p=8, hash32=md5_hash32_col("word"))
    exact = words.agg(F.countDistinct("word").alias("n_words_exact"))
    return est.crossJoin(exact).select(
        F.round("hll_estimate", 4).alias("hll_estimate"), "n_words_exact"
    )


def q_lsh_query_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The reference's MinHashLSH.query as a batched join (lsh.py:370-432):
    # word-set MinHash index over all docs, probed with every 17th doc.
    # Token hash = md5-based 32-bit (same as the HLL oracle hash) so the
    # whole path — token hash, 128 permutations, banding, bucket join,
    # per-query candidate union — has an exact DuckDB twin.
    from datasketch_spark.operators.lsh import lsh_query

    tok = F.transform(
        distinct_words_col("text"),
        lambda w: F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast("long"),
    )
    cfg = DedupConfig(threshold=0.5)
    # The sig table fans into the index-bands and query-bands branches.
    sigs = signature_table(_docs(spark, sf_dir), cfg, tokens=tok)
    index_bands = bands_table(sigs, cfg)
    q_sigs = sigs.where(F.col("doc_id") % 17 == 0).withColumnRenamed(
        "doc_id", "query_id"
    )
    query_bands = bands_table(q_sigs, cfg, key_col="query_id")
    res = lsh_query(index_bands, query_bands)
    return res.select(
        "query_id",
        F.array_join(
            F.transform("candidates", lambda x: x.cast("string")), ","
        ).alias("candidates_csv"),
    )


# Fixed distinct-5-gram-count partition bounds for the ensemble row
# (literals, so the DuckDB twin sees the same bounds).
_ENSEMBLE_PARTS = [(1, 250), (251, 350), (351, 450), (451, 1_000_000)]


def q_ensemble_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    # LSHEnsemble containment query (lshensemble.py:230-249 semantics)
    # over the standard shingle MinHash index: FIXED size partitions,
    # per-(query, partition) (b, r) from the xq grid, first-b-bands probe.
    # Probes: every 23rd doc. (Word-set sigs were measured degenerate here:
    # stopword-dominated min-slots made every doc a candidate.)
    from datasketch_spark.operators.ensemble import (
        EnsembleConfig,
        containment_query,
        ensemble_bands,
    )

    # Standard shingle MinHash (the sig the lsh_candidates oracle
    # reproduces) plus the distinct-5-gram count.
    sigs = signature_table(
        _docs(spark, sf_dir), DedupConfig(threshold=0.5), with_size=True
    )
    ecfg = EnsembleConfig(threshold=0.8, num_perm=128, num_part=4, m=8)
    bands = ensemble_bands(sigs, ecfg, _ENSEMBLE_PARTS)
    queries = sigs.where(F.col("doc_id") % 23 == 0).select(
        F.col("doc_id").alias("query_id"), "sig", "set_size"
    )
    # distinct=False: the collect_set below dedupes with map-side partial
    # aggregation — the operator's pair-level distinct would add a second
    # exchange of the same hit rows for an identical result.
    res = containment_query(bands, queries, ecfg, _ENSEMBLE_PARTS, distinct=False)
    return res.groupBy("query_id").agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_set("doc_id")), lambda x: x.cast("string")),
            ",",
        ).alias("candidates_csv")
    )


def q_forest_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # LSHForest top-k (lshforest.py:74-128 + documented re-rank): deepest
    # shared prefix per tree, est-Jaccard tie-break, over the standard
    # shingle MinHash signatures. Probes: every 29th doc.
    from datasketch_spark.operators.forest import (
        ForestConfig,
        prefix_table,
        topk_query,
    )

    # Size-free sig table: the forest ranking never uses set_size.
    sigs = signature_table(_docs(spark, sf_dir), DedupConfig(threshold=0.5))
    fcfg = ForestConfig(num_perm=128, l_trees=8)
    prefixes = prefix_table(sigs, fcfg)
    queries = sigs.where(F.col("doc_id") % 29 == 0).withColumnRenamed(
        "doc_id", "query_id"
    )
    return topk_query(prefixes, queries, sigs, fcfg, k=5)


def _recall_ok(
    approx: DataFrame, emb: DataFrame, q: DataFrame, min_overlap: int
) -> DataFrame:
    """(query_id, recall_ok): per query, whether at least ``min_overlap``
    of the approximate top-5 neighbors are in the exact cosine top-5."""
    h = approx.select("query_id", "neighbor_id")
    ex = brute_force_topk(emb, q, k=5).select(
        F.col("query_id").alias("_q"), F.col("neighbor_id").alias("_n")
    )
    hits = h.join(
        F.broadcast(ex),
        (h["query_id"] == ex["_q"]) & (h["neighbor_id"] == ex["_n"]),
        "left",
    )
    return (
        hits.groupBy("query_id")
        .agg(F.count("_n").alias("_overlap"))
        .select("query_id", (F.col("_overlap") >= min_overlap).alias("recall_ok"))
    )


def q_hnsw_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Partitioned HNSW ANN (reference hnsw.py), made SELF-CHECKING: the
    # graph search itself is non-SQL-expressible, but its RECALL against
    # the exact cosine top-k (which IS SQL — same math as cosine_topk) is
    # a checkable contract. Per query we emit recall_ok = (>= 4 of the 5
    # HNSW neighbors are in the exact top-5); the DuckDB twin asserts TRUE
    # for every query, so the row hash-matches only if HNSW actually
    # achieves the recall (measured 5/5 exact at sf0.01 and sf0.1; >= 4
    # absorbs rounding-order near-ties between the two exact rankings).
    from datasketch_spark.operators.hnsw import hnsw_topk

    emb = spread(_emb(spark, sf_dir))
    q = emb.where("vec_id < 20")
    h = hnsw_topk(emb, q, k=5, distance="cosine", n_partitions=4)
    return _recall_ok(h, emb, q, min_overlap=4)


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # IVF-flat cosine top-k (clustered ANN scale path, SURVEY.md 2.4):
    # spherical-k-means lists + n_probe nearest-list candidate join. Like
    # hnsw_topk, the approximate search itself is non-SQL, so the row is
    # SELF-CHECKING: recall_ok = (>= 3 of 5 IVF neighbors are in the exact
    # cosine top-5) per query, asserted TRUE by the oracle. Probing 12 of
    # 16 lists on these near-uniform embeddings measures min overlap 4/5
    # at sf0.01 and 3/5 at sf0.1 — deterministic (hash-ordered centroid
    # training, fixed rounding), so the bar holds exactly.
    from datasketch_spark.operators.ann import ivf_topk

    emb = spread(_emb(spark, sf_dir))
    q = emb.where("vec_id < 20")
    a = ivf_topk(emb, q, k=5, n_lists=16, n_probe=12)
    return _recall_ok(a, emb, q, min_overlap=3)


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SimHash bucketed ANN (Charikar 2002; SURVEY.md 2.4 cosine-LSH scale
    # path), STRONG-oracled: plant one near-duplicate per vector by
    # halving its first coordinate (a native transform both engines
    # compute bit-identically), then require the bucketed search to
    # recover EVERY planted pair with its exact verified cosine. 8 tables
    # x 16-bit signatures = 65536 buckets/table — genuinely sparse
    # bucketing (measured sf0.1: 1.6s vs 61.5s for exact all-pairs), with
    # analytic per-pair miss probability ~6e-10 at the planted sim
    # (~0.9999), so the value-hash match against the exact-pair twin is
    # deterministic. Non-planted pairs top out at cosine ~0.6 << 0.9.
    from datasketch_spark.operators.ann import simhash_bucketed_pairs

    # No spread here: the per-row work is one batched matmul UDF and the
    # base/pert branches would each pay an exchange (measured net loss).
    e = F.col("embedding").cast("array<double>")
    emb = _emb(spark, sf_dir)
    base = emb.select("vec_id", e.alias("embedding"))
    pert = emb.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.concat(
            F.array(F.element_at(e, 1) * F.lit(0.5)), F.slice(e, 2, 63)
        ).alias("embedding"),
    )
    aug = base.unionByName(pert)
    return simhash_bucketed_pairs(aug, min_sim=0.9, n_bits=16, n_tables=8)


def q_weighted_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Weighted MinHash (Ioffe consistent sampling; reference
    # weighted_minhash.py:114-159), SELF-CHECKING: for 20 (even, odd)
    # embedding pairs, the 128-sample estimate must sit within 0.15 of
    # the exact generalized Jaccard sum(min)/sum(max) over |embedding|
    # weights. 0.15 = 3.5 sigma at J~0.4 (sigma = sqrt(J(1-J)/128) =
    # 0.043); measured max error 0.103 at sf0.01 / 0.060 at sf0.1, and
    # the seeded Gamma draws make the estimate deterministic, so the
    # oracle asserts wj_ok TRUE for every pair.
    from datasketch_spark.functions.weighted import (
        make_weighted_minhash_udf,
        weighted_jaccard_col,
    )

    emb = _emb(spark, sf_dir)

    def w(c: str):
        return F.transform(F.col(c).cast("array<double>"), lambda x: F.abs(x))

    a = emb.where("vec_id % 2 = 0 AND vec_id < 40").select(
        F.col("vec_id").alias("a"), w("embedding").alias("_wa")
    )
    b = emb.where("vec_id % 2 = 1 AND vec_id < 40").select(
        F.col("vec_id").alias("b"), w("embedding").alias("_wb")
    )
    pairs = a.join(b, F.col("b") == F.col("a") + 1)
    udf = make_weighted_minhash_udf(dim=64, sample_size=128, seed=1)
    est = weighted_jaccard_col(
        udf(F.col("_wa").cast("array<float>")),
        udf(F.col("_wb").cast("array<float>")),
        sample_size=128,
    )
    wmin = F.aggregate(
        F.zip_with("_wa", "_wb", lambda x, y: F.least(x, y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    wmax = F.aggregate(
        F.zip_with("_wa", "_wb", lambda x, y: F.greatest(x, y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return pairs.select(
        "a", "b", (F.abs(est - wmin / wmax) <= 0.15).alias("wj_ok")
    )


def q_bloom_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # MinHashLSHBloom prefilter (reference lsh_bloom.py:298-372),
    # SELF-CHECKING on the Bloom contract that is exact by construction:
    # NO FALSE NEGATIVES. Every indexed doc's own band buckets are set in
    # the filter, so membership for the indexed docs themselves must flag
    # TRUE — any bitmap/hash/sharding bug breaks the hash match. (False
    # positives are the probabilistic side; they cannot appear here
    # because only indexed docs are probed.)
    from datasketch_spark.operators.bloom import LSHBloomFilter

    cfg = DedupConfig(threshold=0.5)
    indexed = _docs(spark, sf_dir).where("doc_id < 250").select("doc_id", "text")
    # The filter build consumes sigs three times (sizing count, shard
    # build, membership probe).
    sigs = signature_table(indexed, cfg)
    bloom = LSHBloomFilter(sigs, cfg)
    return bloom.mark_candidates(sigs).select(
        "doc_id", F.col("maybe_dup").alias("indexed_hit")
    )


def q_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Serialization codecs (reference lean_minhash.py:126-175 byte layout,
    # hyperloglog.py:270-288 register layout), SELF-CHECKING:
    #   lean_len  — the reference buffer size 8+4+4*num_perm, an exact
    #               value the oracle fixes independently;
    #   lean_ok   — serialize -> deserialize round-trips the signature
    #               bit-exactly (vectorized pandas UDFs both ways);
    #   seed_val  — the seed field read back from the buffer (must be the
    #               config seed, proving field placement, not just length);
    #   hll_ok    — HLL register codec round-trip (p + 2^p register bytes)
    #               over registers derived from the doc's own signature.
    from datasketch_spark.functions.serialize import (
        make_deserialize_udf,
        make_seed_extract_udf,
        make_serialize_udf,
    )

    cfg = DedupConfig(threshold=0.5)
    docs = _docs(spark, sf_dir).where("doc_id < 200").select("doc_id", "text")
    sigs = with_signature(docs, cfg)
    buf = make_serialize_udf(seed=cfg.seed)(F.col("sig"))

    @F.pandas_udf("boolean")
    def _hll_ok(sig_s):
        import numpy as np
        import pandas as pd

        from datasketch_spark.functions.serialize import (
            hll_bytes,
            hll_from_bytes,
        )

        p, m = 8, 256
        out = []
        for sig in sig_s:
            v = np.asarray(sig, dtype=np.uint64)
            idx = (v & np.uint64(m - 1)).astype(np.int64)
            rest = (v >> np.uint64(p)).astype(np.uint64)
            rank = np.array(
                [(32 - p) - int(x).bit_length() + 1 for x in rest],
                dtype=np.uint8,
            )
            reg = np.zeros(m, dtype=np.uint8)
            np.maximum.at(reg, idx, rank)
            p2, reg2 = hll_from_bytes(hll_bytes(p, reg))
            out.append(bool(p2 == p and np.array_equal(reg2.astype(np.uint8), reg)))
        return pd.Series(out)

    return sigs.select(
        "doc_id",
        F.length(buf).alias("lean_len"),
        (make_deserialize_udf()(buf) == F.col("sig")).alias("lean_ok"),
        make_seed_extract_udf()(buf).alias("seed_val"),
        _hll_ok(F.col("sig")).alias("hll_ok"),
    )


def q_bbit_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # b-bit MinHash (reference b_bit_minhash.py:26-72): lowest-b-bit
    # signatures + the debiased estimate (raw - 2^-b) / (1 - 2^-b).
    # STRONG oracle: the whole computation is integer/float arithmetic on
    # the signature slots, so DuckDB reproduces full_est, bbit4_est and
    # bbit1_est bit-for-bit from its own re-derived signatures.
    from datasketch_spark.functions.minhash import bbit_col, bbit_jaccard_col, jaccard_col

    cfg = DedupConfig(threshold=0.5)
    docs = (
        _docs(spark, sf_dir)
        .where("length(text) >= 1 AND doc_id < 300")
        .select("doc_id", "text")
    )
    # Both pair sides read the one sig table.
    sigs = signature_table(docs, cfg)
    a = sigs.where("doc_id % 2 = 0").select(
        F.col("doc_id").alias("a"), F.col("sig").alias("_sa")
    )
    b = sigs.where("doc_id % 2 = 1").select(
        F.col("doc_id").alias("b"), F.col("sig").alias("_sb")
    )
    pairs = a.join(b, F.col("b") == F.col("a") + 1)
    full = jaccard_col("_sa", "_sb", 128)
    b4 = bbit_jaccard_col(
        bbit_col("_sa", 4), bbit_col("_sb", 4), b=4, r=0.0, num_perm=128
    )
    b1 = bbit_jaccard_col(
        bbit_col("_sa", 1), bbit_col("_sb", 1), b=1, r=0.0, num_perm=128
    )
    return pairs.select(
        "a",
        "b",
        F.round(full, 6).alias("full_est"),
        F.round(b4, 6).alias("bbit4_est"),
        F.round(b1, 6).alias("bbit1_est"),
    )


def q_media_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Multimodal decode path (operators/multimodal.py + operators/jpeg.py),
    # SELF-CHECKING: deterministic BMP/PNG/GIF/JPEG payloads are
    # synthesized from doc_id alone (operators/media_synth.py — encoders
    # independent of the decoders), decoded with the engine's codec-free
    # decoders, and compared against the formula-derived pixels
    # (bit-exact; JPEG within the unit-quantization rounding bound);
    # corrupt payloads must quarantine. The oracle re-derives
    # kind/width/height from the id formula and fixes ok = TRUE, so any
    # decoder/dimension/feature regression breaks the value hash.
    from datasketch_spark.operators.media_synth import (
        media_roundtrip_check,
        synth_media,
    )

    # No spread here: 160 rows don't amortize an exchange (measured).
    ids = (
        _docs(spark, sf_dir)
        .select(F.col("doc_id").alias("media_id"))
        .where("media_id < 160")
    )
    return media_roundtrip_check(synth_media(ids))


def q_streaming_claims(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Structured-Streaming incremental LSH index (streaming/
    # dedup_stream.py:streaming_lsh_claims), BATCH-EQUIVALENCE oracle:
    # run the bounded corpus through the stateful stream (availableNow,
    # one microbatch, per-bucket sorted order) and require the claims
    # table to equal the batch first-claimant computed in SQL — per band
    # bucket, first_url = min(url) and prior_count = rank by url. The
    # band partition (band_idx, bkey) is identical to the bands table the
    # lsh_candidates oracle already reproduces bit-for-bit; band_hash is
    # dropped from the output because xxhash64 has no DuckDB twin (the
    # bucket partition it induces is fully checked through the other
    # columns).
    import os
    import shutil
    import tempfile

    from datasketch_spark.streaming.dedup_stream import streaming_lsh_claims

    cfg = DedupConfig(threshold=0.5)
    # doc_id < 1000 bounds the state-store size on the bench surface
    # (b x docs groups, each a Python state call); covers the whole
    # sf0.01 correctness corpus (500 docs) with headroom.
    # RAM-backed working dir when available: the microbatch writes state
    # deltas + offset/commit logs + the sink through this path (same
    # rationale as the session's /dev/shm spark.local.dir; measured ~8%
    # off the stream lifecycle vs disk /tmp). Deleted after the run.
    shm = "/dev/shm"
    tmp = tempfile.mkdtemp(
        prefix="ds_stream_claims_",
        dir=shm if os.path.isdir(shm) and os.access(shm, os.W_OK) else None,
    )
    out_dir, ckpt = f"{tmp}/out", f"{tmp}/ckpt"
    # Stream the source table DIRECTLY (the file-stream source globs the
    # same path the batch reader uses, file- or directory-shaped): the r5
    # shape wrote a private coalesce(1) copy of the input first, paying a
    # write+read of the corpus per invocation for identical rows. The
    # bounding filter and url projection run ON the stream; availableNow
    # drains the bounded source in one pass, and the state op's
    # per-bucket whole-group sort keeps the oracle-checked claims
    # independent of file/batch layout.
    doc_path = f"{sf_dir}/documents.parquet"
    reader = spark.readStream.schema(_docs(spark, sf_dir).schema).format("parquet")
    if os.path.isdir(doc_path):
        # Spark-written table: documents.parquet is a directory of parts.
        src = reader.load(doc_path)
    else:
        # Single-file table (the driver's layout): the file source needs a
        # directory basePath, so load the sf dir and glob the one file.
        src = reader.option("pathGlobFilter", "documents.parquet").load(sf_dir)
    stream = src.where("length(text) >= 1 AND doc_id < 1000").select(
        F.col("doc_id").cast("string").alias("url"), "text"
    )
    claims = streaming_lsh_claims(stream, cfg, key_col="url")
    q = (
        claims.writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # Pin the result into the block manager (the count is the one job that
    # reads the sink), then delete the working dir (sink + checkpoint) —
    # repeated bench runs must not accumulate temp data.
    cols = ("band_idx", "url", "first_url", "prior_count")
    out = local_checkpoint(spark.read.parquet(out_dir).select(*cols))
    out.count()
    shutil.rmtree(tmp, ignore_errors=True)
    return out


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full near-dup pipeline over sf0.001 documents."""
    return q_minhash_dedup(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "doc_stats": q_doc_stats,
        "exact_dup_groups": q_exact_dup_groups,
        "quality_scores": q_quality_scores,
        "langid": q_langid,
        "fingerprints": q_fingerprints,
        "word_jaccard_pairs": q_word_jaccard_pairs,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "cosine_topk": q_cosine_topk,
        "cosine_pairs": q_cosine_pairs,
        "minhash_dedup": q_minhash_dedup,
        "dedup_with_substring": q_dedup_with_substring,
        "lsh_candidates": q_lsh_candidates,
        "substring_edges": q_substring_edges,
        "substring_match_len": q_substring_match_len,
        "hll_cardinality": q_hll_cardinality,
        "hnsw_topk": q_hnsw_topk,
        "ivf_topk": q_ivf_topk,
        "simhash_pairs": q_simhash_pairs,
        "weighted_jaccard": q_weighted_jaccard,
        "bloom_gate": q_bloom_gate,
        "lsh_query_words": q_lsh_query_words,
        "ensemble_containment": q_ensemble_containment,
        "forest_topk": q_forest_topk,
        "codec_roundtrip": q_codec_roundtrip,
        "bbit_jaccard": q_bbit_jaccard,
        "media_roundtrip": q_media_roundtrip,
        "streaming_claims": q_streaming_claims,
    }


_WORDS = "list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')"
_DWORDS = f"list_distinct({_WORDS})"
_EN_STOP = "['" + "','".join(LANG_STOPWORDS["en"]) + "']"


def _lang_score(lang: str) -> str:
    lst = "['" + "','".join(LANG_STOPWORDS[lang]) + "']"
    return f"len(list_intersect({_DWORDS}, {lst}))"


# ---------------------------------------------------------------------------
# DuckDB oracle for the MinHash path. The sketch math is deterministic, so
# the WHOLE pipeline is SQL-expressible with int128 (HUGEINT) arithmetic:
#   pack 5-byte shingles big-endian -> splitmix64 -> & (2^32-1)      (tokens)
#   min((a_j*h + b_j) mod 2^64 mod (2^61-1) & (2^32-1)) per perm     (sig)
#   group r consecutive slots per band; equality of (band_idx, slots)
#   IS the engine's bucket equality (xxhash64 band keys are an injective
#   re-encoding)                                                     (bands)
# Verified bit-equal to functions/hashing.py on golden fixtures (the
# mulmod64 splits x*c as ((hi*c mod 2^32)<<32 + lo*c) mod 2^64 to stay
# inside int128).
# ---------------------------------------------------------------------------

_M64 = 1 << 64
_M32 = 1 << 32
_MPRIME = (1 << 61) - 1
_SM_C1 = 0x9E3779B97F4A7C15
_SM_C2 = 0xBF58476D1CE4E5B9
_SM_C3 = 0x94D049BB133111EB


def _sql_mulmod64(x: str, c: int) -> str:
    """x*c mod 2^64 without int128 overflow (x < 2^64, c < 2^64)."""
    return (
        f"((({x} >> 32) * {c} % {_M32}) * {_M32} + ({x} % {_M32}) * {c}) % {_M64}"
    )


def _shingle_tokh_ctes(k: int) -> str:
    """CTEs producing ``tokh (doc_id, h)``: the engine's fast-path shingle
    hashing — pack k bytes big-endian, splitmix64, mask to 32 bits."""
    pack = (
        f"list_sum([ascii(substr(g, i, 1))::HUGEINT << (8 * (length(g) - i)) "
        f"for i in generate_series(1, length(g))])"
    )
    return f"""
    grams AS (
      SELECT doc_id, unnest(CASE WHEN length(text) >= {k}
          THEN [substr(text, i, {k}) for i in generate_series(1, length(text) - {k - 1})]
          ELSE [text] END) AS g
      FROM documents WHERE length(text) >= 1
    ),
    packed AS (SELECT doc_id, {pack} AS x FROM grams),
    m1 AS (SELECT doc_id, (x + {_SM_C1}) % {_M64} AS x FROM packed),
    m2 AS (SELECT doc_id, xor(x, x >> 30) AS x FROM m1),
    m3 AS (SELECT doc_id, {_sql_mulmod64("x", _SM_C2)} AS x FROM m2),
    m4 AS (SELECT doc_id, xor(x, x >> 27) AS x FROM m3),
    m5 AS (SELECT doc_id, {_sql_mulmod64("x", _SM_C3)} AS x FROM m4),
    tokh AS (SELECT DISTINCT doc_id, xor(x, x >> 31) % {_M32} AS h FROM m5)"""


def _word_md5_tokh_ctes() -> str:
    """CTEs producing ``tokh (doc_id, h)``: distinct-word tokens hashed
    with the md5-based 32-bit hash (big-endian first 4 md5 bytes) — the
    same hash as ``operators.hll.md5_hash32_col``."""
    return f"""
    w AS (SELECT doc_id, unnest({_DWORDS}) AS word FROM documents),
    tokh AS (SELECT DISTINCT doc_id,
                    ('0x' || substr(md5(word), 1, 8))::BIGINT AS h FROM w)"""


def _params_sig_ctes(num_perm: int, seed: int) -> str:
    """CTEs from ``tokh`` to ``sig (doc_id, j, v)`` — the universal-hash
    permutations (mod-2^64 wrap, Mersenne mod, 32-bit mask)."""
    from datasketch_spark.functions.hashing import permutations

    pa, pb = permutations(num_perm, seed)
    params_vals = ",\n      ".join(
        f"({j}, {int(pa[j])}, {int(pb[j])})" for j in range(num_perm)
    )
    return f"""
    params(j, pa, pb) AS (VALUES {params_vals}),
    sig AS (
      SELECT doc_id, j,
             CAST(min(((pa::HUGEINT * h + pb) % {_M64}) % {_MPRIME} % {_M32})
                  AS BIGINT) AS v
      FROM tokh CROSS JOIN params GROUP BY doc_id, j
    )"""


def _sig_band_ctes(cfg: DedupConfig) -> str:
    """``_params_sig_ctes`` plus the dedup config's r-slot band keys."""
    return f"""{_params_sig_ctes(cfg.num_perm, cfg.seed)},
    band AS (
      SELECT doc_id, (j // {cfg.r}) AS band_idx, list(v ORDER BY j) AS bkey
      FROM sig WHERE j < {cfg.b * cfg.r} GROUP BY doc_id, (j // {cfg.r})
    )"""


def _minhash_oracle_ctes(cfg: DedupConfig) -> str:
    """CTE chain (no WITH keyword) ending at ``cand`` (a, b) and ``sig``
    (doc_id, j, v) — reproduces with_signature + bands_table +
    candidate_pairs over the ``documents`` view, bit-for-bit."""
    return f"""{_shingle_tokh_ctes(cfg.shingle_k)},
    {_sig_band_ctes(cfg)},
    cand AS (
      SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      FROM band x JOIN band y
        ON x.band_idx = y.band_idx AND x.bkey = y.bkey AND x.doc_id < y.doc_id
    )"""


def _lsh_candidates_oracle(cfg: DedupConfig) -> str:
    return f"WITH {_minhash_oracle_ctes(cfg)}\n    SELECT a, b FROM cand"


def _minhash_dedup_oracle(cfg: DedupConfig, with_substring: bool = False) -> str:
    """cand -> est-Jaccard verify (>= threshold of num_perm equal slots)
    [optionally UNION the exact-substring edge set: pairs sharing a
    (substring_k + substring_window - 1)-gram, per the winnowing
    guarantee] -> connected components (recursive min-label walk) ->
    (orig_doc_id, cluster_rep = min doc_id of the component; singletons
    label themselves)."""
    import math

    min_eq = int(math.ceil(cfg.threshold * cfg.num_perm - 1e-12))
    sub_ctes = ""
    sub_union = ""
    if with_substring:
        glen = cfg.substring_k + cfg.substring_window - 1
        sub_ctes = f"""
    subgram AS (
      SELECT DISTINCT doc_id,
             unnest([substr(text, i, {glen})
                     for i in generate_series(1, length(text) - {glen - 1})])
               AS gram
      FROM documents WHERE length(text) >= {glen}
    ),
    subedges AS (
      SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      FROM subgram x JOIN subgram y
        ON x.gram = y.gram AND x.doc_id < y.doc_id
    ),"""
        sub_union = " UNION SELECT a, b FROM subedges"
    return f"""WITH RECURSIVE {_minhash_oracle_ctes(cfg)},
    eq AS (
      SELECT c.a, c.b, count(*) AS n_eq
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.a
      JOIN sig sb ON sb.doc_id = c.b AND sb.j = sa.j
      WHERE sa.v = sb.v
      GROUP BY c.a, c.b
    ),{sub_ctes}
    edges AS (SELECT a, b FROM eq WHERE n_eq >= {min_eq}{sub_union}),
    sym AS (SELECT a AS u, b AS v FROM edges
            UNION ALL SELECT b, a FROM edges),
    walk(node, lbl) AS (
      SELECT u, u FROM sym
      UNION
      SELECT s.v, w.lbl FROM walk w JOIN sym s ON s.u = w.node
    ),
    comp AS (SELECT node, min(lbl) AS root FROM walk GROUP BY node)
    SELECT d.doc_id AS orig_doc_id,
           coalesce(c.root, d.doc_id) AS cluster_rep
    FROM documents d LEFT JOIN comp c ON c.node = d.doc_id"""


def oracle_sql() -> dict[str, str]:
    fingerprint = (
        "md5(array_to_string(list_filter(regexp_split_to_array("
        "trim(lower(text)), '\\s+'), x -> x <> ''), ' '))"
    )
    langid_case = f"""
        CASE
          WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
          WHEN s_de > 0 AND s_de > s_en AND s_de >= s_fr AND s_de >= s_es THEN 'de'
          WHEN s_fr > 0 AND s_fr > s_en AND s_fr > s_de AND s_fr >= s_es THEN 'fr'
          WHEN s_es > 0 AND s_es > s_en AND s_es > s_de AND s_es > s_fr THEN 'es'
          ELSE 'und'
        END
    """
    cosine = (
        "round(list_inner_product(a.e, b.e) / "
        "(sqrt(list_inner_product(a.e, a.e)) * sqrt(list_inner_product(b.e, b.e))), 4)"
    )
    return {
        "doc_stats": f"""
            SELECT lang,
                   count(*) AS n_docs,
                   round(avg(n_chars), 4) AS avg_chars,
                   -- DuckDB sum(int) is HUGEINT; Spark's is BIGINT. The
                   -- driver's value-hash is typed, so cast (values are
                   -- identical — r1 verdict confirmed byte-equality).
                   CAST(sum(len({_WORDS})) AS BIGINT) AS total_tokens
            FROM documents GROUP BY lang ORDER BY lang
        """,
        "exact_dup_groups": f"""
            SELECT {fingerprint} AS fingerprint,
                   count(*) AS n_docs,
                   min(doc_id) AS canonical_id,
                   array_to_string(list_sort(list(doc_id)), ',') AS doc_ids_csv
            FROM documents GROUP BY 1
        """,
        "quality_scores": f"""
            SELECT doc_id,
                   length(text) AS n_chars,
                   len({_WORDS}) AS n_tokens,
                   round(CASE WHEN len({_WORDS}) > 0
                         THEN length(text)::DOUBLE / len({_WORDS}) ELSE 0.0 END, 4)
                     AS chars_per_token,
                   round(CASE WHEN length(text) > 0
                         THEN len(regexp_extract_all(text, '[[:punct:]]'))::DOUBLE
                              / length(text) ELSE 0.0 END, 4) AS punct_ratio,
                   round(CASE WHEN len({_WORDS}) > 0
                         THEN len(list_intersect({_DWORDS}, {_EN_STOP}))::DOUBLE / 10.0
                         ELSE 0.0 END, 4) AS stopword_coverage
            FROM documents
        """,
        "langid": f"""
            SELECT doc_id, {langid_case} AS pred_lang
            FROM (
              SELECT doc_id,
                     {_lang_score("en")} AS s_en,
                     {_lang_score("de")} AS s_de,
                     {_lang_score("fr")} AS s_fr,
                     {_lang_score("es")} AS s_es
              FROM documents
            )
        """,
        "fingerprints": f"""
            SELECT doc_id, {fingerprint} AS fingerprint FROM documents
        """,
        "word_jaccard_pairs": f"""
            WITH w AS (SELECT doc_id, lang, source, {_DWORDS} AS ws FROM documents)
            SELECT a.doc_id AS a, b.doc_id AS b,
                   round(CASE WHEN len(list_distinct(list_cat(a.ws, b.ws))) = 0
                         THEN 1.0
                         ELSE len(list_intersect(a.ws, b.ws))::DOUBLE
                              / len(list_distinct(list_cat(a.ws, b.ws))) END, 4)
                     AS jaccard
            FROM w a JOIN w b ON a.lang = b.lang AND a.source = b.source
                             AND a.doc_id < b.doc_id
            WHERE round(CASE WHEN len(list_distinct(list_cat(a.ws, b.ws))) = 0
                        THEN 1.0
                        ELSE len(list_intersect(a.ws, b.ws))::DOUBLE
                             / len(list_distinct(list_cat(a.ws, b.ws))) END, 4) >= 0.5
        """,
        "ngram_jaccard_pairs": """
            WITH g AS (
              SELECT doc_id, lang, source,
                     list_distinct([substr(text, i, 3)
                        for i in generate_series(1, greatest(length(text) - 2, 1))])
                       AS gs
              FROM documents)
            SELECT a.doc_id AS a, b.doc_id AS b,
                   round(CASE WHEN len(list_distinct(list_cat(a.gs, b.gs))) = 0
                         THEN 1.0
                         ELSE len(list_intersect(a.gs, b.gs))::DOUBLE
                              / len(list_distinct(list_cat(a.gs, b.gs))) END, 4)
                     AS jaccard
            FROM g a JOIN g b ON a.lang = b.lang AND a.source = b.source
                             AND a.doc_id < b.doc_id
            WHERE round(CASE WHEN len(list_distinct(list_cat(a.gs, b.gs))) = 0
                        THEN 1.0
                        ELSE len(list_intersect(a.gs, b.gs))::DOUBLE
                             / len(list_distinct(list_cat(a.gs, b.gs))) END, 4) >= 0.6
        """,
        "cosine_topk": f"""
            WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
            scored AS (
              SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, {cosine} AS sim
              FROM v a JOIN v b ON a.vec_id < 20 AND a.vec_id <> b.vec_id
            ),
            ranked AS (
              SELECT query_id, neighbor_id, sim,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY sim DESC, neighbor_id ASC) AS rank
              FROM scored)
            SELECT query_id, neighbor_id, sim, rank FROM ranked WHERE rank <= 5
        """,
        "cosine_pairs": f"""
            WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings)
            SELECT a.vec_id AS a, b.vec_id AS b, {cosine} AS sim
            FROM v a JOIN v b ON a.vec_id < b.vec_id AND a.label = b.label
            WHERE {cosine} >= 0.4
        """,
        # Winnowing guarantee (k=20, w=10): the edge set is EXACTLY the
        # pairs sharing a common substring >= k+w-1 = 29 bytes, i.e. a
        # common 29-gram (corpus is ASCII: chars == bytes).
        "substring_edges": """
            WITH g AS (
              SELECT DISTINCT doc_id,
                     unnest([substr(text, i, 29)
                             for i in generate_series(1, length(text) - 28)])
                       AS gram
              FROM documents WHERE length(text) >= 29
            )
            SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
            FROM g x JOIN g y ON x.gram = y.gram AND x.doc_id < y.doc_id
        """,
        # match_len twin: longest common substring >= 29 as gaps-and-islands
        # over shared 29-gram positions on each alignment diagonal (i - j):
        # a run of c consecutive shared 29-grams = a common substring of
        # 28 + c chars (ASCII corpus: chars == bytes).
        "substring_match_len": """
            WITH g AS (
              SELECT doc_id, i, substr(text, i, 29) AS gram
              FROM (SELECT doc_id, text,
                           unnest(generate_series(1, length(text) - 28)) AS i
                    FROM documents WHERE length(text) >= 29)
            ),
            m AS (
              SELECT x.doc_id AS a, y.doc_id AS b, x.i AS ia, x.i - y.i AS diag
              FROM g x JOIN g y ON x.gram = y.gram AND x.doc_id < y.doc_id
            ),
            runs AS (
              SELECT a, b, diag, ia,
                     ia - row_number() OVER (PARTITION BY a, b, diag
                                             ORDER BY ia) AS island
              FROM m
            ),
            lens AS (
              SELECT a, b, 28 + count(*) AS run_len
              FROM runs GROUP BY a, b, diag, island
            )
            SELECT a, b, max(run_len) AS match_len FROM lens GROUP BY a, b
        """,
        # HNSW self-check twin: the oracle asserts recall_ok for every
        # query; the Spark side computes it against the exact top-5, so the
        # hash matches only if the graph search actually achieves recall.
        "hnsw_topk": """
            SELECT vec_id AS query_id, true AS recall_ok
            FROM embeddings WHERE vec_id < 20
        """,
        # Same self-check pattern for the IVF row.
        "ivf_topk": """
            SELECT vec_id AS query_id, true AS recall_ok
            FROM embeddings WHERE vec_id < 20
        """,
        # SimHash STRONG twin: the exact cosine pairs (>= 0.9) over the
        # same planted-near-dup augmentation — the bucketed search must
        # recover every one with the identical verified sim, so this is a
        # full value-hash match, not a fixed-TRUE self-check.
        "simhash_pairs": """
            WITH v0 AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
            aug AS (
              SELECT vec_id, e FROM v0
              UNION ALL
              SELECT vec_id + 1000000, list_prepend(e[1] * 0.5, e[2:]) FROM v0
            ),
            cos AS (
              SELECT a.vec_id AS a, b.vec_id AS b,
                     round(list_inner_product(a.e, b.e) /
                           (sqrt(list_inner_product(a.e, a.e)) *
                            sqrt(list_inner_product(b.e, b.e))), 4) AS sim
              FROM aug a JOIN aug b ON a.vec_id < b.vec_id
            )
            SELECT a, b, sim FROM cos WHERE sim >= 0.9
        """,
        # Weighted-MinHash self-check twin (see q_weighted_jaccard: 3.5
        # sigma tolerance, deterministic seeded draws).
        "weighted_jaccard": """
            SELECT a.vec_id AS a, b.vec_id AS b, true AS wj_ok
            FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
            WHERE a.vec_id % 2 = 0 AND a.vec_id < 40
        """,
        # Bloom no-false-negative twin: indexed docs must self-hit.
        "bloom_gate": """
            SELECT doc_id, true AS indexed_hit
            FROM documents WHERE doc_id < 250
        """,
        "lsh_candidates": _lsh_candidates_oracle(DedupConfig(threshold=0.5)),
        "minhash_dedup": _minhash_dedup_oracle(DedupConfig(threshold=0.5)),
        "dedup_with_substring": _minhash_dedup_oracle(
            DedupConfig(threshold=0.5, substring_k=20, substring_window=10),
            with_substring=True,
        ),
        "hll_cardinality": _hll_oracle(p=8),
        "lsh_query_words": _lsh_query_words_oracle(DedupConfig(threshold=0.5)),
        "ensemble_containment": _ensemble_oracle(),
        "forest_topk": _forest_oracle(),
        # Codec self-check twin: the buffer length is the reference layout
        # size 8 (seed) + 4 (count) + 4*128 (hashvalues) = 524; the seed
        # field must read back as the config seed; round-trips fix TRUE.
        "codec_roundtrip": """
            SELECT doc_id, 524 AS lean_len, true AS lean_ok,
                   CAST(1 AS BIGINT) AS seed_val, true AS hll_ok
            FROM documents WHERE doc_id < 200
        """,
        "bbit_jaccard": _bbit_jaccard_oracle(DedupConfig(threshold=0.5)),
        # Media round-trip twin: kind/width/height re-derived from the id
        # formula (media_synth.media_dims/media_kind); ok fixed TRUE.
        "media_roundtrip": """
            SELECT doc_id AS media_id,
                   CASE doc_id % 5 WHEN 0 THEN 'bmp' WHEN 1 THEN 'png'
                        WHEN 2 THEN 'gif' WHEN 3 THEN 'jpeg'
                        ELSE 'corrupt' END AS kind,
                   CAST(CASE WHEN doc_id % 5 = 4 THEN -1
                        ELSE 6 + doc_id % 5 END AS INTEGER) AS width,
                   CAST(CASE WHEN doc_id % 5 = 4 THEN -1
                        ELSE 5 + doc_id % 4 END AS INTEGER) AS height,
                   true AS ok
            FROM documents WHERE doc_id < 160
        """,
        "streaming_claims": _streaming_claims_oracle(
            DedupConfig(threshold=0.5)
        ),
    }


def _bbit_jaccard_oracle(cfg: DedupConfig) -> str:
    """b-bit twin: identical signature CTEs, then plain arithmetic — the
    same IEEE doubles Spark computes, so round(x, 6) matches exactly."""
    return f"""WITH {_shingle_tokh_ctes(cfg.shingle_k)},
    {_params_sig_ctes(cfg.num_perm, cfg.seed)},
    eq AS (
      SELECT sa.doc_id AS a, sb.doc_id AS b,
             sum(CASE WHEN sa.v = sb.v THEN 1 ELSE 0 END) AS n_eq,
             sum(CASE WHEN sa.v % 16 = sb.v % 16 THEN 1 ELSE 0 END) AS n4,
             sum(CASE WHEN sa.v % 2 = sb.v % 2 THEN 1 ELSE 0 END) AS n1
      FROM sig sa JOIN sig sb ON sb.doc_id = sa.doc_id + 1 AND sb.j = sa.j
      WHERE sa.doc_id % 2 = 0 AND sa.doc_id < 300 AND sb.doc_id < 300
      GROUP BY 1, 2
    )
    SELECT a, b,
           round(n_eq / 128.0, 6) AS full_est,
           round((n4 / 128.0 - 0.0625) / 0.9375, 6) AS bbit4_est,
           round((n1 / 128.0 - 0.5) / 0.5, 6) AS bbit1_est
    FROM eq"""


def _streaming_claims_oracle(cfg: DedupConfig) -> str:
    """Batch first-claimant twin of the streaming LSH claims: per band
    bucket (band_idx, bkey — the exact partition the bands table induces),
    first_url is the min url and prior_count the 0-based rank by url,
    matching the stream's single-microbatch sorted processing order."""
    return f"""WITH {_shingle_tokh_ctes(cfg.shingle_k)},
    {_sig_band_ctes(cfg)},
    b2 AS (SELECT band_idx, bkey, CAST(doc_id AS VARCHAR) AS url
           FROM band WHERE doc_id < 1000)
    SELECT CAST(band_idx AS BIGINT) AS band_idx, url,
           min(url) OVER (PARTITION BY band_idx, bkey) AS first_url,
           CAST(row_number() OVER (PARTITION BY band_idx, bkey
                                   ORDER BY url) - 1 AS BIGINT)
             AS prior_count
    FROM b2"""


def _ensemble_oracle() -> str:
    """LSHEnsemble containment twin: fixed size partitions, xq-grid (b, r)
    selection per (query, partition), first-b-bands probe — all literals
    mirror q_ensemble_containment's EnsembleConfig exactly."""
    from datasketch_spark.operators.ensemble import EnsembleConfig

    ecfg = EnsembleConfig(threshold=0.8, num_perm=128, num_part=4, m=8)
    parts_vals = ",".join(
        f"({pid}, {up})" for pid, (_, up) in enumerate(_ENSEMBLE_PARTS)
    )
    xqp_vals = ",".join(
        f"({i}, {int(b)}, {int(r)})" for i, (b, r) in enumerate(ecfg.params)
    )
    bandr_union = "\n      UNION ALL ".join(
        f"SELECT doc_id, {r} AS r, (j // {r}) AS band_idx, "
        f"list(v ORDER BY j) AS bkey FROM sig WHERE j < {(128 // r) * r} "
        f"GROUP BY doc_id, (j // {r})"
        for r in ecfg.rs
    )
    # searchsorted(xqs, ratio, side='left'), clamped — same CASE chain as
    # containment_query's xq_idx expression.
    xq_case = (
        "CASE "
        + " ".join(
            f"WHEN (parts.upper::DOUBLE / q.set_size::DOUBLE) <= "
            f"({float(x)!r}::DOUBLE) THEN {i}"
            for i, x in enumerate(ecfg.xqs[:-1])
        )
        + f" ELSE {len(ecfg.xqs) - 1} END"
    )
    pid_case = (
        "CASE "
        + " ".join(
            f"WHEN set_size <= {up} THEN {pid}"
            for pid, (_, up) in enumerate(_ENSEMBLE_PARTS[:-1])
        )
        + f" ELSE {len(_ENSEMBLE_PARTS) - 1} END"
    )
    return f"""WITH {_shingle_tokh_ctes(5)},
    {_params_sig_ctes(128, 1)},
    sz AS (
      SELECT doc_id,
             len(list_distinct([substr(text, i, 5)
                 for i in generate_series(1, greatest(length(text) - 4, 1))]))
               AS set_size
      FROM documents
    ),
    pdoc AS (SELECT doc_id, {pid_case} AS pid FROM sz),
    bandr AS ({bandr_union}),
    parts(pid, upper) AS (VALUES {parts_vals}),
    xqp(xq_idx, b, r) AS (VALUES {xqp_vals}),
    sel AS (
      SELECT q.doc_id AS query_id, parts.pid, xqp.b, xqp.r
      FROM (SELECT doc_id, set_size FROM sz WHERE doc_id % 23 = 0) q
      CROSS JOIN parts
      JOIN xqp ON xqp.xq_idx = ({xq_case})
      WHERE xqp.b > 0
    ),
    hits AS (
      SELECT sel.query_id, ib.doc_id AS cand
      FROM sel
      JOIN bandr qb ON qb.doc_id = sel.query_id AND qb.r = sel.r
                   AND qb.band_idx < sel.b
      JOIN bandr ib ON ib.r = qb.r AND ib.band_idx = qb.band_idx
                   AND ib.bkey = qb.bkey
      JOIN pdoc ON pdoc.doc_id = ib.doc_id AND pdoc.pid = sel.pid
    )
    SELECT query_id,
           array_to_string(list_sort(list(DISTINCT cand)), ',') AS candidates_csv
    FROM hits GROUP BY query_id"""


def _forest_oracle() -> str:
    """LSHForest top-k twin: per-tree longest common signature prefix
    (8 trees x 16 slots), rank by deepest prefix then est-Jaccard then
    doc_id — exactly topk_query's window."""
    k_per_tree = 16  # num_perm 128 / l_trees 8
    return f"""WITH {_shingle_tokh_ctes(5)},
    {_params_sig_ctes(128, 1)},
    pairsig AS (
      SELECT a.doc_id AS query_id, b.doc_id AS doc_id,
             (a.j // {k_per_tree}) AS tree, (a.j % {k_per_tree}) AS off,
             (a.v = b.v) AS eq
      FROM sig a JOIN sig b ON a.j = b.j AND a.doc_id <> b.doc_id
      WHERE a.doc_id % 29 = 0
    ),
    treedepth AS (
      SELECT query_id, doc_id, tree,
             coalesce(min(CASE WHEN NOT eq THEN off END), {k_per_tree}) AS plen
      FROM pairsig GROUP BY query_id, doc_id, tree
    ),
    best AS (
      SELECT query_id, doc_id, CAST(max(plen) AS INTEGER) AS best_depth
      FROM treedepth GROUP BY query_id, doc_id HAVING max(plen) >= 1
    ),
    est AS (
      SELECT query_id, doc_id,
             (sum(CASE WHEN eq THEN 1 ELSE 0 END)::DOUBLE / 128.0) AS est_jaccard
      FROM pairsig GROUP BY query_id, doc_id
    ),
    ranked AS (
      SELECT b.query_id, b.doc_id, b.best_depth, e.est_jaccard,
             CAST(row_number() OVER (
               PARTITION BY b.query_id
               ORDER BY b.best_depth DESC, e.est_jaccard DESC, b.doc_id ASC
             ) AS INTEGER) AS rank
      FROM best b JOIN est e
        ON e.query_id = b.query_id AND e.doc_id = b.doc_id
    )
    SELECT query_id, doc_id, best_depth, est_jaccard, rank
    FROM ranked WHERE rank <= 5"""


def _lsh_query_words_oracle(cfg: DedupConfig) -> str:
    """MinHashLSH.query twin: word-md5 tokens -> sig -> bands -> per-query
    candidate set union across matching buckets."""
    return f"""WITH {_word_md5_tokh_ctes()},
    {_sig_band_ctes(cfg)},
    q AS (SELECT * FROM band WHERE doc_id % 17 = 0),
    hits AS (
      SELECT q.doc_id AS query_id, x.doc_id AS cand
      FROM q JOIN band x ON q.band_idx = x.band_idx AND q.bkey = x.bkey
    )
    SELECT query_id,
           array_to_string(list_sort(list(DISTINCT cand)), ',') AS candidates_csv
    FROM hits GROUP BY query_id"""


def _hll_oracle(p: int) -> str:
    """Reference HLL estimate (hyperloglog.py:144-168) in DuckDB: same
    registers (idx = hv & (m-1), rank = 32-p - bit_length(hv>>p) + 1), same
    alpha, same corrections. The harmonic sum is a sum of dyadic rationals
    (exact in double, order-independent) so both engines agree bit-for-bit
    before the final 4-dp round."""
    from datasketch_spark.operators.hll import reference_alpha

    m = 1 << p
    max_rank = 32 - p
    alpha = reference_alpha(p)
    big = float(1 << 32)
    return f"""
        WITH w AS (SELECT DISTINCT unnest({_DWORDS}) AS word FROM documents),
        hv AS (SELECT ('0x' || substr(md5(word), 1, 8))::BIGINT AS hv FROM w),
        reg AS (
          SELECT hv % {m} AS idx,
                 max(CASE WHEN (hv // {m}) = 0 THEN {max_rank + 1}
                     ELSE {max_rank + 1} - length(bin(hv // {m})) END) AS r
          FROM hv GROUP BY 1
        ),
        s AS (SELECT count(*) AS n_present,
                     sum(power(2.0, -r)) AS s_present FROM reg),
        est AS (
          SELECT ({alpha!r}::DOUBLE) * ({float(m * m)!r}::DOUBLE)
                   / (({m} - n_present)::DOUBLE + s_present) AS e,
                 ({m} - n_present)::DOUBLE AS v
          FROM s
        )
        SELECT round(CASE
                 WHEN e <= ({2.5 * m!r}::DOUBLE) AND v > 0
                   THEN ({float(m)!r}::DOUBLE) * ln(({float(m)!r}::DOUBLE) / v)
                 WHEN e <= ({big / 30.0!r}::DOUBLE) THEN e
                 ELSE -({big!r}::DOUBLE) * ln(1.0 - e / ({big!r}::DOUBLE)) END,
               4) AS hll_estimate,
               (SELECT count(*) FROM w) AS n_words_exact
        FROM est
    """
