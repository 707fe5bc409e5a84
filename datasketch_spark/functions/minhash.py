"""MinHash as Spark columns: signature pandas UDFs + signature algebra.

The MinHash path's one JVM<->Python boundary is the signature UDF
(Arrow-batched). Everything downstream of the ``sig: array<bigint>`` column
(jaccard, merge, b-bit, banding) is native Spark SQL expressions that stay
inside whole-stage codegen.

Parity: the signature math reproduces reference ``MinHash.update_batch``
(``datasketch/minhash.py:226-297``) bit-for-bit at the same (num_perm, seed,
hashfunc); values are <= 2^32-1 so bigint (int64) is lossless.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from datasketch_spark.functions.hashing import (
    MAX_HASH,
    permutations,
    permute_min_ranges,
    permute_min_segments,
)
from datasketch_spark.functions.shingles import batch_shingle_hashes


def make_signature_udf(
    num_perm: int = 128,
    seed: int = 1,
    shingle_k: int = 5,
    hash_mode: str = "fast",
):
    """Pandas UDF: ``text (string) -> sig (array<bigint>)``.

    One Arrow batch is processed as a single segmented numpy job: shingle all
    texts, concatenate distinct token hashes, permute once per ~128k-token
    chunk, segment-min per doc (``permute_min_segments``).
    """
    a, b = permutations(num_perm, seed)

    @F.pandas_udf(ArrayType(LongType()))
    def minhash_sig(texts: pd.Series) -> pd.Series:
        hv, starts, ends = batch_shingle_hashes(
            texts.tolist(), shingle_k, hash_mode
        )
        sigs = permute_min_ranges(hv, starts, ends, a, b)
        # int64 view is lossless: values <= 2^32-1.
        sigs_i64 = sigs.astype(np.int64)
        return pd.Series(list(sigs_i64))

    return minhash_sig


def make_signature_from_tokens_udf(num_perm: int = 128, seed: int = 1):
    """Pandas UDF: ``token_hashes (array<bigint>) -> sig (array<bigint>)``.

    For inputs already tokenized/hashed (e.g. word sets hashed with
    sha1_hash32). Mirrors ``MinHash.update_batch`` on precomputed hashes.
    """
    a, b = permutations(num_perm, seed)

    @F.pandas_udf(ArrayType(LongType()))
    def minhash_from_tokens(tokens: pd.Series) -> pd.Series:
        arrs = [
            np.asarray(t, dtype=np.uint64)
            if t is not None
            else np.empty(0, dtype=np.uint64)
            for t in tokens
        ]
        offsets = np.zeros(len(arrs) + 1, dtype=np.int64)
        for i, arr in enumerate(arrs):
            offsets[i + 1] = offsets[i] + len(arr)
        hv = (
            np.concatenate(arrs) if offsets[-1] else np.empty(0, dtype=np.uint64)
        )
        sigs = permute_min_segments(hv, offsets, a, b)
        return pd.Series(list(sigs.astype(np.int64)))

    return minhash_from_tokens


# ---------------------------------------------------------------------------
# Signature algebra — native column expressions (no Python).
# ---------------------------------------------------------------------------


def jaccard_col(sig1: Column | str, sig2: Column | str, num_perm: int = 128) -> Column:
    """Estimated Jaccard = fraction of equal slots
    (reference ``MinHash.jaccard``, ``minhash.py:299-324``)."""
    s1 = F.col(sig1) if isinstance(sig1, str) else sig1
    s2 = F.col(sig2) if isinstance(sig2, str) else sig2
    matches = F.aggregate(
        F.zip_with(s1, s2, lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return matches / F.lit(float(num_perm))


def merge_col(sig1: Column | str, sig2: Column | str) -> Column:
    """Signature of the set union = elementwise min
    (reference ``MinHash.merge/union``, ``minhash.py:337-359,411-462``)."""
    s1 = F.col(sig1) if isinstance(sig1, str) else sig1
    s2 = F.col(sig2) if isinstance(sig2, str) else sig2
    return F.zip_with(s1, s2, lambda x, y: F.least(x, y))


def count_col(sig: Column | str, num_perm: int = 128) -> Column:
    """Cardinality estimate ``k / sum(hv / (2^32 - 1)) - 1``
    (reference ``MinHash.count``, ``minhash.py:326-335``: the divisor is
    ``float(_max_hash)`` = 2^32 - 1, NOT the hash range 2^32). An all-zero
    signature gives +inf, as the reference's numpy ``k / 0.0 - 1.0`` does;
    unguarded, ANSI mode fails the whole query with DIVIDE_BY_ZERO."""
    s = F.col(sig) if isinstance(sig, str) else sig
    return F.aggregate(
        s,
        F.lit(0.0),
        lambda acc, v: acc + v.cast("double") / F.lit(float(int(MAX_HASH))),
        lambda total: F.when(total == 0, F.lit(float("inf"))).otherwise(
            F.lit(float(num_perm)) / total - F.lit(1.0)
        ),
    )


def empty_sig(num_perm: int = 128) -> Column:
    """The never-updated (all-MAX_HASH) signature as a literal; expressions
    over it constant-fold, so comparing against its keys costs no job."""
    return F.array_repeat(F.lit(int(MAX_HASH)).cast("long"), num_perm)


def is_empty_col(sig: Column | str, num_perm: int = 128) -> Column:
    """True iff no update has touched the signature
    (reference ``MinHash.is_empty``, ``minhash.py:377-385``)."""
    s = F.col(sig) if isinstance(sig, str) else sig
    return s == empty_sig(num_perm)


def bbit_col(sig: Column | str, b: int = 1) -> Column:
    """Keep the lower b bits of each slot
    (reference ``bBitMinHash.__init__``, ``b_bit_minhash.py:26-41``)."""
    s = F.col(sig) if isinstance(sig, str) else sig
    mask = (1 << b) - 1
    return F.transform(s, lambda x: x.bitwiseAND(F.lit(mask)))


def bbit_jaccard_col(
    bsig1: Column | str, bsig2: Column | str, b: int, r: float, num_perm: int = 128
) -> Column:
    """Debiased b-bit Jaccard estimate
    (reference ``bBitMinHash.jaccard`` + ``_calc_c``,
    ``b_bit_minhash.py:53-72,127-145``): ``(raw_match_rate - C) / (1 - C)``
    where ``C = A(r,b)`` with both sets assumed at ratio r = |S|/2^32 -> for
    the standard large-universe case C -> 2^-b.
    """
    raw = jaccard_col(bsig1, bsig2, num_perm)
    # A(r, b) per Li & Koenig 2010 eq.; reference _calc_c b_bit_minhash.py:127-145
    c = _bbit_C(r, b)
    return (raw - F.lit(c)) / F.lit(1.0 - c)


def _bbit_C(r: float, b: int) -> float:
    """A(r,b) = r(1-r)^(2^b - 1) / (1 - (1-r)^(2^b)) ; C = A1+A2 sym case.

    INTENTIONAL DIVERGENCE for r > 0: this follows the published Li &
    Koenig 2010 formula with exponent 2^b; the reference's ``_calc_a``
    (``b_bit_minhash.py:127-145``) uses ``2*b`` in the same position, which
    deviates from the paper it cites (a typo: at r -> 0 both reduce to the
    paper's C = 2^-b limit only via the 2^b form). Estimates therefore
    differ from the reference for r > 0 and b not in (1, 2) — 2*b equals
    2^b at both b=1 and b=2; pass r=0 (the default
    large-universe case) for exact behavioral agreement."""
    if r <= 0.0:
        return 2.0 ** (-b)
    two_b = 2.0**b
    a = r * (1.0 - r) ** (two_b - 1.0) / (1.0 - (1.0 - r) ** two_b)
    return a  # symmetric case r1 == r2 == r: C1 == C2 == A
