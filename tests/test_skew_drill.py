"""Adversarial skew drill (r4 verdict stretch #8): one boilerplate text
repeated tens of thousands of times — the classic hot-LSH-bucket attack
(site templates, legal footers) that turns a bucketed join into an n^2
explosion if unguarded.

Contract under skew:
  1. the hot buckets are EXCLUDED from pair expansion by the bucket cap
     (no task ever buffers or expands the n^2 bucket);
  2. they are SURFACED by ``dropped_buckets`` — loud, never silent;
  3. the rest of the corpus is unaffected: the same near-dup pairs come
     out with and without the boilerplate flood;
  4. identical-text floods are the EXACT-dedup stage's job
     (hash-groupBy), which handles them in one map-side-combined agg.

Contracts 1-3 hold for every capped caller of ``lsh.bucket_pairs``: the
LSH bands, the exact-substring fingerprints (``dropped_fingerprints``)
and the set-join prefix tokens (``dropped_prefix_buckets``).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from datasketch_spark.config import DedupConfig
from datasketch_spark.operators.exact import exact_dup_groups
from datasketch_spark.operators.lsh import (
    bands_table,
    candidate_pairs,
    dropped_buckets,
    with_signature,
)
from datasketch_spark.operators.setjoin import (
    dropped_prefix_buckets,
    prefix_filtered_jaccard_pairs,
)
from datasketch_spark.operators.suffix import (
    dropped_fingerprints,
    fingerprints_table,
    substring_dedup_edges,
)

N_BOILER = 30_000
BOILER_TEXT = (
    "this website uses cookies to improve your experience by continuing "
    "to browse you agree to our terms of service and privacy policy all "
    "rights reserved contact us at the address below for more information"
)


def _normal_docs(spark, n=400, seed=11):
    # n docs, every even/odd pair near-duplicated (small token edit).
    rng = np.random.RandomState(seed)
    vocab = [f"tok{i}" for i in range(800)]
    rows = []
    for i in range(0, n, 2):
        words = [vocab[j] for j in rng.randint(0, 800, size=60)]
        rows.append((i, " ".join(words)))
        dup = list(words)
        dup[rng.randint(0, 60)] = vocab[int(rng.randint(0, 800))]
        rows.append((i + 1, " ".join(dup)))
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def skew_corpus(spark):
    normal = _normal_docs(spark)
    boiler = spark.range(N_BOILER).select(
        (F.col("id") + 1_000_000).alias("doc_id"), F.lit(BOILER_TEXT).alias("text")
    )
    return normal, normal.unionByName(boiler)


def test_hot_bucket_dropped_and_surfaced(spark, skew_corpus):
    normal, union = skew_corpus
    cfg = DedupConfig(threshold=0.8)
    bands = bands_table(with_signature(union, cfg), cfg)
    dropped = dropped_buckets(bands, cfg).collect()
    # Identical text -> identical signature -> ONE hot bucket per band.
    assert len(dropped) == cfg.b, [r.asDict() for r in dropped]
    assert all(r["n_keys"] >= N_BOILER for r in dropped)
    assert {r["band_idx"] for r in dropped} == set(range(cfg.b))


def test_pair_set_unaffected_by_flood(spark, skew_corpus):
    normal, union = skew_corpus
    cfg = DedupConfig(threshold=0.8)
    base = {
        (r["a"], r["b"])
        for r in candidate_pairs(
            bands_table(with_signature(normal, cfg), cfg), cfg
        ).collect()
    }
    flooded = {
        (r["a"], r["b"])
        for r in candidate_pairs(
            bands_table(with_signature(union, cfg), cfg), cfg
        ).collect()
    }
    # planted near-dups survive; not a single boilerplate pair leaks out
    # of the capped buckets into the n^2 expansion
    assert base and base == flooded
    assert not any(a >= 1_000_000 or b >= 1_000_000 for a, b in flooded)


def test_exact_stage_owns_identical_floods(spark, skew_corpus):
    _, union = skew_corpus
    groups = (
        exact_dup_groups(union.select("doc_id", "text"))
        .where(F.col("n_docs") >= N_BOILER)
        .collect()
    )
    assert len(groups) == 1
    assert groups[0]["n_docs"] == N_BOILER
    assert groups[0]["canonical_id"] == 1_000_000


def test_bucket_at_cap_expands_all_pairs(spark):
    # The cap is inclusive: a bucket of exactly bucket_cap members expands.
    cfg = DedupConfig(threshold=0.8, bucket_cap=300)
    docs = spark.range(300).select(
        F.col("id").alias("doc_id"), F.lit(BOILER_TEXT).alias("text")
    )
    bands = bands_table(with_signature(docs, cfg), cfg)
    assert candidate_pairs(bands, cfg).count() == 300 * 299 // 2


def _leaks(pairs):
    return [p for p in pairs if p[0] >= 1_000_000 or p[1] >= 1_000_000]


def test_substring_pass_unaffected_by_flood(spark, skew_corpus):
    normal, union = skew_corpus
    base = {tuple(r) for r in substring_dedup_edges(normal).collect()}
    flooded = {tuple(r) for r in substring_dedup_edges(union).collect()}
    assert base and base == flooded
    assert not _leaks(flooded)
    # The hot buckets are exactly the boilerplate text's fingerprints.
    boiler = fingerprints_table(union.where("doc_id = 1000000"))
    boiler_fps = {r["fp"] for r in boiler.collect()}
    dropped = dropped_fingerprints(fingerprints_table(union)).collect()
    assert boiler_fps and {r["fp"] for r in dropped} == boiler_fps
    assert all(r["n_members"] >= N_BOILER for r in dropped)


def test_prefix_join_unaffected_by_flood(spark, skew_corpus):
    normal, union = skew_corpus
    words = F.array_distinct(F.transform(F.split("text", " "), lambda w: F.xxhash64(w)))

    def toks(df):
        return df.select("doc_id", words.alias("toks"))

    def pairs(df):
        joined = prefix_filtered_jaccard_pairs(toks(df), "toks", 0.8, bucket_cap=1_000)
        return {tuple(r) for r in joined.collect()}

    base, flooded = pairs(normal), pairs(union)
    assert base and base == flooded
    assert not _leaks(flooded)
    # The hot buckets are boilerplate prefix tokens, one member per copy.
    boiler_toks = set(toks(union.where("doc_id = 1000000")).first()["toks"])
    dropped = dropped_prefix_buckets(toks(union), "toks", 0.8, bucket_cap=1_000).collect()
    assert dropped and {r["_tok"] for r in dropped} <= boiler_toks
    assert all(r["n_members"] == N_BOILER for r in dropped)
