"""Exact set-similarity self-join with prefix filtering (AllPairs/PPJoin,
Bayardo et al. WWW 2007) — the scale-safe form of "all pairs with Jaccard
>= t over token arrays".

A blocked all-pairs join is quadratic in block size; prefix filtering makes
candidate generation an inverted-index join: order every set by one global
total order, keep only each set's first ``|x| - ceil(t * |x|) + 1`` tokens
(the PREFIX), and observe that two sets with J >= t MUST share at least one
prefix token. Candidates are then "pairs sharing a prefix token", a
bucket-expansion identical in shape to LSH candidate generation (groupBy
token, native pair expansion) — never an N^2 block join. Every candidate
is exact-verified, so the output equals the naive all-pairs result.

The global order used here is (xxhash64(token), token): hash order is a
deterministic proxy for the frequency order the paper recommends (rare
tokens first maximizes pruning); ties broken by token value keep it total.

All native expressions — no Python boundary anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datasketch_spark.operators.lsh import bucket_pairs
from datasketch_spark.operators.verify import exact_jaccard_col, join_sides
from datasketch_spark.sources.io import local_checkpoint


def _effective_threshold(threshold: float, round_digits: int | None) -> float:
    """``round_digits`` matters for exactness at the boundary: the filter
    admits round(J, 4) >= t, so candidate generation must use the slightly
    lower effective threshold t - 0.5*10^-digits (a pair with true
    J = t - 0.00004 still rounds IN)."""
    t_eff = threshold - (0.5 * 10.0 ** (-round_digits) if round_digits else 0.0)
    if not 0.0 < t_eff <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    return t_eff


def _prefix_tokens(
    d: DataFrame,
    arr_col: str,
    t_eff: float,
    blocks: list[str],
    id_col: str,
) -> tuple[DataFrame, DataFrame]:
    """(base, tokens): the normalized (id, distinct-array, size) table and
    its exploded prefix tokens under the global (hash, token) order.

    ``base`` is a ``sources.io.local_checkpoint``: it fans into THREE plan
    branches (prefix tokens + both verification sides), and without the
    cut each branch re-runs the per-doc array construction + distinct from
    the scan (three Generate/Project chains in the r6 before-plan)."""
    base = local_checkpoint(
        d.select(
            F.col(id_col).alias("_id"),
            F.array_distinct(F.col(arr_col)).alias("_arr"),
            *[F.col(c).alias(f"_blk_{c}") for c in blocks],
        )
        .withColumn("_n", F.size("_arr"))
    )
    ordered = F.transform(
        F.array_sort(
            F.transform("_arr", lambda g: F.struct(F.xxhash64(g).alias("h"), g.alias("g")))
        ),
        lambda s: s["g"],
    )
    prefix_len = (F.col("_n") - F.ceil(F.lit(t_eff) * F.col("_n")) + 1).cast("int")
    tokens = base.select(
        "_id",
        *[f"_blk_{c}" for c in blocks],
        F.explode(F.slice(ordered, 1, prefix_len)).alias("_tok"),
    )
    return base, tokens


def dropped_prefix_buckets(
    d: DataFrame,
    arr_col: str,
    threshold: float,
    block_cols: list[str] | None = None,
    id_col: str = "doc_id",
    round_digits: int | None = 4,
    bucket_cap: int = 100_000,
) -> DataFrame:
    """Prefix-token buckets excluded by ``bucket_cap`` — (_tok[, blocks],
    n_members), the coverage diagnostic mirroring ``lsh.dropped_buckets``
    and ``suffix.dropped_fingerprints``. A non-empty result means
    ``prefix_filtered_jaccard_pairs`` with the same arguments is a LOWER
    BOUND of the exact all-pairs result: a pair whose only shared prefix
    token sits in a dropped bucket is lost. Raise ``bucket_cap`` or strip
    the boilerplate token upstream."""
    blocks = list(block_cols or [])
    _, tokens = _prefix_tokens(
        d, arr_col, _effective_threshold(threshold, round_digits), blocks, id_col
    )
    return (
        tokens.groupBy("_tok", *[f"_blk_{c}" for c in blocks])
        .agg(F.count("*").alias("n_members"))
        .where(F.col("n_members") > bucket_cap)
    )


def prefix_filtered_jaccard_pairs(
    d: DataFrame,
    arr_col: str,
    threshold: float,
    block_cols: list[str] | None = None,
    id_col: str = "doc_id",
    round_digits: int | None = 4,
    bucket_cap: int = 100_000,
) -> DataFrame:
    """(a, b, jaccard): all pairs with round(J, round_digits) >= threshold
    over DISTINCT-element token arrays; equals the blocked all-pairs result
    whenever ``dropped_prefix_buckets`` (same arguments) is EMPTY, with
    prefix-filtered candidate generation.

    ``block_cols`` optionally restricts pairs to equal-key blocks
    (conjunctive with the prefix filter). ``bucket_cap``: prefix-token
    buckets larger than this are dropped — under a non-empty
    ``dropped_prefix_buckets`` the output is a lower bound (a pair whose
    ONLY shared prefix token is a hotter-than-cap boilerplate token is
    lost). Audit the cap with ``dropped_prefix_buckets`` before trusting
    exactness, exactly like ``lsh.dropped_buckets`` /
    ``suffix.dropped_fingerprints``.
    """
    t_eff = _effective_threshold(threshold, round_digits)
    blocks = list(block_cols or [])
    base, tokens = _prefix_tokens(d, arr_col, t_eff, blocks, id_col)

    bucket_keys = ["_tok", *[f"_blk_{c}" for c in blocks]]
    cands = bucket_pairs(tokens, bucket_keys, "_id", bucket_cap)

    # Exact verification of every candidate.
    scored = join_sides(cands, base, "_id", ["_arr"]).select(
        "a", "b", exact_jaccard_col("_arr_a", "_arr_b").alias("jaccard")
    )
    if round_digits is not None:
        scored = scored.withColumn("jaccard", F.round("jaccard", round_digits))
    return scored.where(F.col("jaccard") >= threshold).select("a", "b", "jaccard")
