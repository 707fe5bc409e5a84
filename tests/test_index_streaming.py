"""Index lifecycle (insert/remove/merge/contains) and streaming dedup
gates."""

import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from datasketch_spark.config import DedupConfig
from datasketch_spark.functions.hashing import sha1_hash32
from datasketch_spark.functions.minhash import make_signature_from_tokens_udf
from datasketch_spark.operators.bloom import LSHBloomFilter
from datasketch_spark.operators.index import MinHashLSHIndex
from datasketch_spark.operators.lsh import with_signature
from datasketch_spark.streaming.dedup_stream import exact_dedup_stream

CFG = DedupConfig(threshold=0.5)


def _sigs(spark, keyed_tokens):
    schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("tokens", ArrayType(LongType()), False),
        ]
    )
    df = spark.createDataFrame(
        [(k, [sha1_hash32(t.encode()) for t in toks]) for k, toks in keyed_tokens],
        schema,
    )
    udf = make_signature_from_tokens_udf(CFG.num_perm, CFG.seed)
    return df.withColumn("sig", udf("tokens")).select("doc_id", "sig")


def test_index_lifecycle(spark):
    toks = lambda i: [f"{i}-{j}" for j in range(20)]
    idx = MinHashLSHIndex.build(_sigs(spark, [(0, toks(0)), (1, toks(1))]), CFG)
    assert not idx.is_empty()
    # insert
    idx2 = idx.insert(_sigs(spark, [(2, toks(2))]))
    assert idx2.signatures.count() == 3
    assert idx2.bands.count() == 3 * CFG.b
    # contains
    keys = spark.createDataFrame([(0,), (2,), (99,)], ["doc_id"])
    got = {r["doc_id"]: r["present"] for r in idx2.contains(keys).collect()}
    assert got == {0: True, 2: True, 99: False}
    # query returns self
    q = _sigs(spark, [(0, toks(0))]).withColumnRenamed("doc_id", "query_id")
    res = idx2.query(q).collect()
    assert res and 0 in res[0]["candidates"]
    # remove purges bands too (reference test_lsh.py:127-143 invariant)
    idx3 = idx2.remove(spark.createDataFrame([(0,)], ["doc_id"]))
    assert idx3.signatures.count() == 2
    assert idx3.bands.where("doc_id = 0").count() == 0
    # merge (reference test_lsh.py:294+)
    other = MinHashLSHIndex.build(_sigs(spark, [(10, toks(10))]), CFG)
    merged = idx3.merge(other)
    assert merged.signatures.count() == 3
    # merge config mismatch rejected
    with pytest.raises(ValueError):
        idx3.merge(MinHashLSHIndex.build(_sigs(spark, [(11, toks(11))]), DedupConfig(threshold=0.9)))
    # overlap check
    with pytest.raises(ValueError):
        merged.merge(other, check_overlap=True)


def test_index_insert_duplicate_key_later_write_wins(spark):
    # Defined duplicate-key semantics: re-inserting key 0 with a DIFFERENT
    # token set must replace BOTH its signature row and all of its band
    # rows (delete-then-insert) — no mixed state across inserts.
    toks_v1 = [(0, [f"v1-{j}" for j in range(20)])]
    toks_v2 = [(0, [f"v2-{j}" for j in range(20)])]
    idx = MinHashLSHIndex.build(_sigs(spark, toks_v1), CFG)
    sig_v1 = idx.signatures.collect()[0]["sig"]
    bands_v1 = {
        (r["band_idx"], r["band_hash"]) for r in idx.bands.collect()
    }
    idx2 = idx.insert(_sigs(spark, toks_v2))
    assert idx2.signatures.count() == 1
    sig_v2 = idx2.signatures.collect()[0]["sig"]
    assert sig_v2 != sig_v1  # the later write won
    bands_v2 = {
        (r["band_idx"], r["band_hash"]) for r in idx2.bands.collect()
    }
    assert len(bands_v2) == CFG.b
    assert bands_v2 != bands_v1
    # Band rows are exactly the bands of the NEW signature: rebuild and
    # compare.
    fresh = MinHashLSHIndex.build(_sigs(spark, toks_v2), CFG)
    assert bands_v2 == {
        (r["band_idx"], r["band_hash"]) for r in fresh.bands.collect()
    }


def test_checkpoint_resume_rejects_stale_config(spark, tmp_path):
    # Resume must not serve stage data computed under a different config.
    from datasketch_spark.sources.io import CheckpointManager

    df = spark.range(5).withColumn("x", F.col("id") * 2)
    ck1 = CheckpointManager(
        root=str(tmp_path / "ck"), run_config={"threshold": 0.8}
    )
    ck1.materialize(df, "stage1")
    assert ck1.has("stage1")
    # Same config -> resumable; changed config -> recompute.
    ck_same = CheckpointManager(
        root=str(tmp_path / "ck"), run_config={"threshold": 0.8}
    )
    assert ck_same.has("stage1")
    ck_changed = CheckpointManager(
        root=str(tmp_path / "ck"), run_config={"threshold": 0.5}
    )
    assert not ck_changed.has("stage1")
    # materialize under the new config overwrites and re-stamps.
    ck_changed.materialize(df.where("id < 3"), "stage1")
    assert ck_changed.has("stage1")
    assert ck_changed.load(spark, "stage1").count() == 3
    assert not ck_same.has("stage1")


def test_exact_dedup_stream(spark, tmp_path):
    src = tmp_path / "in"
    out_table = f"dedup_out_{int(time.time())}"
    src.mkdir()
    pages = spark.createDataFrame(
        [
            ("u1", "2024-01-01 00:00:00", "hello world"),
            ("u2", "2024-01-01 00:00:01", "hello   WORLD"),  # same fingerprint
            ("u3", "2024-01-01 00:00:02", "something else"),
        ],
        ["url", "ts", "text"],
    ).withColumn("warc_ts", F.col("ts").cast("timestamp")).drop("ts")
    pages.write.parquet(str(src / "batch0"))
    stream = spark.readStream.schema(pages.schema).parquet(str(src / "*"))
    deduped = exact_dedup_stream(stream, watermark="10 minutes")
    q = (
        deduped.writeStream.format("memory")
        .queryName(out_table)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(f"select * from {out_table}").collect()
    fps = {r["fingerprint"] for r in rows}
    assert len(rows) == 2  # u1/u2 collapsed
    assert len(fps) == 2


def test_near_dedup_bloom_gate_batch(spark):
    # The near-dup gate logic on a batch frame (same code path the stream
    # uses via transform).
    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog " * 5)],
        ["doc_id", "text"],
    )
    sigs = with_signature(corpus, CFG)
    bloom = LSHBloomFilter(sigs, CFG)
    batch = spark.createDataFrame(
        [
            ("dup", "the quick brown fox jumps over the lazy dog " * 5),
            ("new", "completely different content with novel words here " * 5),
        ],
        ["url", "text"],
    )
    marked = bloom.mark_candidates(with_signature(batch, CFG))
    got = {r["url"]: r["maybe_dup"] for r in marked.collect()}
    assert got["dup"] is True
    assert got["new"] is False

