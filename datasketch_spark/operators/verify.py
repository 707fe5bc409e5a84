"""Jaccard verification of LSH candidate pairs.

The reference documents this as a caller-side post-filter
(``lsh.py:376-378,406-409``; implemented in its benchmark harness
``benchmark/indexes/jaccard/lsh.py:58-68``) but has no operator for it.
Ours: join candidate pairs back to the signatures table twice and filter on
estimated Jaccard, or back to the texts for exact shingle-set Jaccard
(``verify_mode='exact'``). Both are native expressions (``zip_with`` and
``array_intersect``), evaluated JVM-side with no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datasketch_spark.config import DedupConfig
from datasketch_spark.functions.minhash import jaccard_col


def exact_jaccard_col(a: Column | str, b: Column | str) -> Column:
    """Exact Jaccard ``|A∩B| / (|A|+|B|-|A∩B|)`` of two DISTINCT-element
    arrays, 1.0 when both are empty; NULL if either is NULL.

    Branch-free so the intersection is one common subexpression: ``e`` is
    1 only when both arrays are empty, turning 0/0 into 1/1."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    n = F.size(a) + F.size(b)
    i = F.size(F.array_intersect(a, b))
    e = (n == 0).cast("int")
    return (i + e).cast("double") / (n - i + e)


def shingle_set_col(text: Column | str, k: int) -> Column:
    """The set of ``functions.shingles.byte_shingles(text, k)`` as an array
    of distinct tokens: every k-byte window of the UTF-8 text, or the whole
    text when it has at most k bytes; NULL and '' give an empty array.

    Each token is a string with one ISO-8859-1 char per byte, so a token
    ``g`` is the window ``g.encode('latin-1')``. Strings, unlike binary,
    take the hash-based ``array_distinct``/``array_intersect``, and one
    lookahead regex lists all windows without a per-window lambda."""
    t = F.col(text) if isinstance(text, str) else text
    b = F.decode(F.encode(t, "UTF-8"), "ISO-8859-1")
    n = F.length(b)
    windows = F.regexp_extract_all(b, F.lit(f"(?s)(?=(.{{{k}}}))"), 1)
    return (
        F.when(n >= k, F.array_distinct(windows))
        .when(n > 0, F.array(b))
        .otherwise(F.array().cast("array<string>"))
    )


def join_sides(
    pairs: DataFrame, table: DataFrame, key_col: str, cols: list[str]
) -> DataFrame:
    """``pairs`` plus ``{c}_a`` and ``{c}_b`` for each of ``table``'s
    ``cols``: the rows keyed by the pair's ``a`` and ``b`` ids, attached with
    two equi-joins on ``key_col``. The pair side is typically far smaller
    than ``table``, so AQE broadcasts it when it fits."""
    for side in ("a", "b"):
        keyed = table.select(
            F.col(key_col).alias("_k"), *[F.col(c).alias(f"{c}_{side}") for c in cols]
        )
        pairs = pairs.join(keyed, F.col(side) == F.col("_k")).drop("_k")
    return pairs


def verify_pairs_est(
    pairs: DataFrame,
    sig_df: DataFrame,
    cfg: DedupConfig,
    key_col: str = "doc_id",
    sig_col: str = "sig",
) -> DataFrame:
    """(a, b) -> (a, b, est_jaccard) filtered at cfg.threshold.

    Both sides' signatures come from ``join_sides``. est_jaccard =
    matching-slot fraction — the same estimator the reference's
    ``MinHash.jaccard`` applies (``minhash.py:299-324``).
    """
    return (
        join_sides(pairs, sig_df, key_col, [sig_col])
        .withColumn(
            "est_jaccard", jaccard_col(f"{sig_col}_a", f"{sig_col}_b", cfg.num_perm)
        )
        .where(F.col("est_jaccard") >= F.lit(cfg.threshold))
        .select("a", "b", "est_jaccard")
    )


def verify_pairs_exact_text(
    pairs: DataFrame,
    docs: DataFrame,
    cfg: DedupConfig,
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(a, b) -> (a, b, jaccard) with EXACT shingle-set Jaccard of the
    candidate docs' texts, filtered at cfg.threshold: the
    ``verify_mode='exact'`` pipeline path, free of estimator variance.

    Tokens are ``shingle_set_col``'s distinct k-byte windows (not hashes,
    so cfg.hash_mode plays no part), one set per doc of ``docs`` and join
    side, joined like the signatures in ``verify_pairs_est``. Sets built on
    the joined pair rows instead are rebuilt per pair, and again in the join
    condition that the threshold filter is pushed into (exact mode at sf0.1
    on 4 vCPU: 36 s that way, 6-7 s this way).
    """
    tokens = docs.select(key_col, shingle_set_col(text_col, cfg.shingle_k).alias("tokens"))
    return (
        join_sides(pairs, tokens, key_col, ["tokens"])
        .select("a", "b", exact_jaccard_col("tokens_a", "tokens_b").alias("jaccard"))
        .where(F.col("jaccard") >= F.lit(cfg.threshold))
    )
