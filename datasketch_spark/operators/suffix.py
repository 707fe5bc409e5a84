"""Exact long-substring dedup pass (Lee et al. 2021, "Deduplicating
Training Data Makes Language Models Better"), re-shaped for Spark.

The paper builds one global suffix array; that is driver-hostile at 100TB.
Spark-shaped equivalent with the same guarantee:

  1. Per doc (vectorized pandas UDF): rolling-hash all k-byte grams, then
     ROBUST WINNOWING (Schleimer/Wilkerson/Aiken, SIGMOD 2003 — the MOSS
     fingerprinting algorithm): keep the minimal hash in every window of w
     consecutive grams. Guarantee: any common substring of length
     >= k + w - 1 shares at least one selected fingerprint.
  2. groupBy fingerprint -> candidate (docA, posA, docB, posB) alignments
     (bucket-capped like LSH buckets).
  3. Verify: join texts back, extend the exact match left/right around the
     aligned positions (applyInPandas, O(match) per pair); keep pairs whose
     true common substring >= min_len = k + w - 1.

Output edges feed the same connected-components stage as the MinHash pass.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StructField,
    StructType,
)

from datasketch_spark.operators.lsh import bucket_pairs
from datasketch_spark.operators.verify import join_sides

_B = np.uint64(1000003)  # polynomial rolling-hash base


def _gram_hashes(data: np.ndarray, k: int) -> np.ndarray:
    """Polynomial hashes of all k-grams of a uint8 array (vectorized: k
    strided multiply-adds over the windows)."""
    n = len(data)
    if n < k:
        return np.empty(0, dtype=np.uint64)
    n_win = n - k + 1
    acc = np.zeros(n_win, dtype=np.uint64)
    d = data.astype(np.uint64)
    with np.errstate(over="ignore"):
        for j in range(k):
            acc = acc * _B + d[j : j + n_win]
    return acc


def winnow(hashes: np.ndarray, w: int) -> np.ndarray:
    """Positions selected by robust winnowing: index of the min hash in
    each length-w window (rightmost min on ties), deduplicated."""
    n = len(hashes)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    if n <= w:
        return np.array([int(np.argmin(hashes))], dtype=np.int64)
    win = np.lib.stride_tricks.sliding_window_view(hashes, w)
    # rightmost min: argmin on reversed window
    rev_arg = w - 1 - np.argmin(win[:, ::-1], axis=1)
    pos = np.unique(rev_arg + np.arange(len(win)))
    return pos.astype(np.int64)


def fingerprints_table(
    docs: DataFrame,
    k: int = 50,
    w: int = 40,
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, fp: bigint, pos: bigint) winnowed fingerprints per doc."""

    out_schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("fps", ArrayType(LongType()), False),
            StructField("poss", ArrayType(LongType()), False),
        ]
    )

    def _fp(batches):
        for pdf in batches:
            ids, fps_col, pos_col = [], [], []
            for doc_id, text in zip(pdf[key_col], pdf[text_col]):
                data = np.frombuffer(
                    (text or "").encode("utf-8", "surrogatepass"), dtype=np.uint8
                )
                h = _gram_hashes(data, k)
                sel = winnow(h, w)
                ids.append(doc_id)
                fps_col.append(h[sel].astype(np.int64).tolist())
                pos_col.append(sel.tolist())
            yield pd.DataFrame({"doc_id": ids, "fps": fps_col, "poss": pos_col})

    exploded = (
        docs.select(key_col, text_col)
        .mapInPandas(_fp, schema=out_schema)
        .select(
            "doc_id",
            F.explode(F.arrays_zip("fps", "poss")).alias("z"),
        )
        .select("doc_id", F.col("z.fps").alias("fp"), F.col("z.poss").alias("pos"))
    )
    return exploded


def dropped_fingerprints(fps: DataFrame, bucket_cap: int = 200) -> DataFrame:
    """Fingerprint buckets excluded by the cap — (fp, n_members), the
    skew/coverage diagnostic mirroring ``lsh.dropped_buckets``. A non-empty
    result means boilerplate-heavy fingerprints were skipped and some
    exact-substring edges >= k+w-1 may be missing; raise ``bucket_cap`` or
    strip the boilerplate upstream."""
    return (
        fps.groupBy("fp")
        .agg(F.count("*").alias("n_members"))
        .where(F.col("n_members") > bucket_cap)
    )


def substring_candidates(
    fps: DataFrame, bucket_cap: int = 200
) -> DataFrame:
    """(a, b, pos_a, pos_b): doc pairs sharing a winnowed fingerprint, with
    one alignment per (pair, fingerprint bucket). Bucket-capped; audit what
    the cap skipped with ``dropped_fingerprints`` (never silent-by-design:
    callers of ``substring_dedup_edges`` get it in the returned dict of the
    pipeline or can evaluate it directly)."""
    pairs = bucket_pairs(
        fps,
        ["fp"],
        F.struct("doc_id", "pos"),
        bucket_cap,
        lambda x, y: F.struct(
            x["doc_id"].alias("a"),
            y["doc_id"].alias("b"),
            x["pos"].alias("pos_a"),
            y["pos"].alias("pos_b"),
        ),
    )
    return pairs.where(F.col("a") != F.col("b"))


def verify_substring_pairs(
    cands: DataFrame,
    docs: DataFrame,
    min_len: int,
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Extend the aligned match exactly; keep (a, b, match_len) pairs whose
    true common substring >= min_len. a < b canonical order on output."""
    joined = join_sides(cands, docs, key_col, [text_col])
    ta_col, tb_col = f"{text_col}_a", f"{text_col}_b"

    out_schema = StructType(
        [
            StructField("a", LongType(), False),
            StructField("b", LongType(), False),
            StructField("match_len", LongType(), False),
        ]
    )

    def _common_prefix_len(xa: np.ndarray, xb: np.ndarray) -> int:
        # Vectorized equality-prefix scan (the per-byte Python loop made
        # verify O(total matched bytes) in Python on duplicate-heavy
        # corpora).
        n = min(len(xa), len(xb))
        if n == 0:
            return 0
        neq = xa[:n] != xb[:n]
        i = int(np.argmax(neq))
        return n if not neq[i] else i

    def _verify(batches):
        for pdf in batches:
            rows = []
            cache: dict[int, np.ndarray] = {}

            def as_bytes(text):
                key = id(text)
                got = cache.get(key)
                if got is None:
                    got = np.frombuffer(
                        (text or "").encode("utf-8", "surrogatepass"), dtype=np.uint8
                    )
                    cache[key] = got
                return got

            for a, b, pa, pb, ta, tb in zip(
                pdf["a"], pdf["b"], pdf["pos_a"], pdf["pos_b"], pdf[ta_col], pdf[tb_col]
            ):
                ba, bb = as_bytes(ta), as_bytes(tb)
                pa, pb = int(pa), int(pb)
                right = _common_prefix_len(ba[pa:], bb[pb:])
                left = _common_prefix_len(ba[:pa][::-1], bb[:pb][::-1])
                total = left + right
                if total >= min_len:
                    rows.append((min(int(a), int(b)), max(int(a), int(b)), total))
            yield pd.DataFrame(rows, columns=["a", "b", "match_len"])

    return (
        joined.mapInPandas(_verify, schema=out_schema)
        .groupBy("a", "b")
        .agg(F.max("match_len").alias("match_len"))
    )


def substring_dedup_edges(
    docs: DataFrame,
    k: int = 50,
    w: int = 40,
    bucket_cap: int = 200,
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Full pass: docs -> (a, b, match_len) edges with an exact common
    substring of length >= k + w - 1 (the winnowing guarantee bound).

    The guarantee holds for every pair whose shared fingerprint bucket is
    within ``bucket_cap``; larger buckets are skipped (boilerplate) — audit
    them with ``dropped_fingerprints(fingerprints_table(...), bucket_cap)``.
    """
    fps = fingerprints_table(docs, k, w, key_col, text_col)
    cands = substring_candidates(fps, bucket_cap)
    return verify_substring_pairs(cands, docs, min_len=k + w - 1, key_col=key_col, text_col=text_col)
