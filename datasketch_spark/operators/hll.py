"""HyperLogLog as Spark-native aggregates.

The reference implements HLL/HLL++ from scratch (``hyperloglog.py``); Spark
already ships both the estimator (``approx_count_distinct`` IS HLL++,
matching ``HyperLogLogPlusPlus.count`` semantics, ``hyperloglog.py:323-381``)
and a mergeable sketch state (Apache DataSketches ``hll_sketch_agg`` /
``hll_union`` family, Spark >= 3.5) that covers the reference's
``merge``/``union``/serialize lifecycle (``hyperloglog.py:170-183,254-268``).
These wrappers pin the mapping and give the reference's (p = log2(m))
parameterization.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def approx_distinct(col: Column | str, p: int = 14) -> Column:
    """HLL++ cardinality estimate (reference ``HyperLogLogPlusPlus.count``).

    ``p`` is the register-precision exponent (reference default 8, Spark's
    default ~14); relative standard deviation = 1.04 / sqrt(2^p).
    """
    rsd = 1.04 / (2 ** (p / 2.0))
    return F.approx_count_distinct(col, rsd=rsd)


def hll_sketch(col: Column | str, p: int = 12) -> Column:
    """Mergeable HLL sketch state as a binary column (reference: the
    ``reg`` array + serialize, ``hyperloglog.py:66-76,202-252``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.hll_sketch_agg(c, F.lit(p))


def hll_estimate(sketch_col: Column | str) -> Column:
    """Estimate from sketch state (reference ``count``)."""
    return F.hll_sketch_estimate(sketch_col)


def hll_merge_agg(sketch_col: Column | str) -> Column:
    """Aggregate-union of many sketch states."""
    return F.hll_union_agg(sketch_col)


# ---------------------------------------------------------------------------
# Reference-parity estimator (the original HyperLogLog, not HLL++): exact
# register semantics of ``hyperloglog.py:103-168`` as native expressions —
# no UDF, two aggregations. This gives users of the reference's
# ``HyperLogLog`` class a bit-compatible estimate (same registers, same
# alpha, same small/large-range corrections) for any 32-bit hashfunc
# expressible as a Column (the reference accepts custom hashfuncs the same
# way, ``hyperloglog.py:66-98``).
# ---------------------------------------------------------------------------


def reference_alpha(p: int) -> float:
    """``HyperLogLog._get_alpha`` (``hyperloglog.py:55-64``)."""
    if not (4 <= p <= 16):
        raise ValueError(f"p={p} should be in range [4 : 16]")
    if p == 4:
        return 0.673
    if p == 5:
        return 0.697
    if p == 6:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / (1 << p))


def sha1_hash32_col(col: Column | str) -> Column:
    """The reference's default token hash ``sha1_hash32``
    (``hashfunc.py:5-15``): little-endian first 4 bytes of sha1 — hex pairs
    reversed, then base-16 parsed. Native expressions only."""
    c = F.col(col) if isinstance(col, str) else col
    h = F.sha1(c)
    swapped = F.concat(
        F.substring(h, 7, 2),
        F.substring(h, 5, 2),
        F.substring(h, 3, 2),
        F.substring(h, 1, 2),
    )
    return F.conv(swapped, 16, 10).cast("long")


def md5_hash32_col(col: Column | str) -> Column:
    """32-bit hash = big-endian first 4 bytes of md5. A reference-compatible
    custom hashfunc (any 32-bit hash is valid per ``hyperloglog.py:40-43``);
    used by the correctness oracle because the sandbox DuckDB lacks sha1."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def hll_registers(
    df: DataFrame, value_col: str, p: int = 8, hash32: Column | None = None
) -> DataFrame:
    """(idx, reg): the reference's SPARSE register table — idx = hv & (m-1),
    reg = max over values of rank = (32 - p) - bit_length(hv >> p) + 1
    (``hyperloglog.py:134-142``); absent idx means register 0. This is the
    engine's distributed HLL state; export it to the reference's byte
    layout with ``hll_export_bytes`` (m rows max — always driver-safe)."""
    m = 1 << p
    max_rank = 32 - p
    hv = hash32 if hash32 is not None else sha1_hash32_col(value_col)
    bits = F.shiftrightunsigned(F.col("hv"), p)
    rank = F.when(bits == 0, F.lit(max_rank + 1)).otherwise(
        F.lit(max_rank + 1) - F.length(F.bin(bits))
    )
    return (
        df.select(hv.alias("hv"))
        .select(F.col("hv").bitwiseAND(F.lit(m - 1)).alias("idx"), rank.alias("r"))
        .groupBy("idx")
        .agg(F.max("r").alias("reg"))
    )


def hll_export_bytes(regs: DataFrame, p: int) -> bytes:
    """Serialize a register table to the reference's byte layout
    (``hyperloglog.py:270-288``) — byte-compatible with
    ``HyperLogLog.deserialize``, so sketches built here interoperate with
    stored reference sketches. The collect is bounded at m = 2^p rows."""
    from datasketch_spark.functions.serialize import hll_bytes

    return hll_bytes(p, {r["idx"]: r["reg"] for r in regs.collect()})


def hll_count_from_bytes(data: bytes) -> float:
    """Driver-side reference-parity estimate for an imported sketch buffer
    (reference ``count``, ``hyperloglog.py:144-168``): alpha * m^2 /
    sum(2^-reg) with linear counting below 2.5m and the large-range
    correction. Use to count sketches migrated FROM the reference."""
    from datasketch_spark.functions.serialize import hll_from_bytes

    p, reg = hll_from_bytes(data)
    m = 1 << p
    e = (
        reference_alpha(p)
        * float(m * m)
        / float(np.sum(np.power(2.0, -reg.astype(np.float64))))
    )
    if e <= 2.5 * m:
        n_zero = int(np.count_nonzero(reg == 0))
        if n_zero > 0:
            return float(m * np.log(m / float(n_zero)))
        return e
    if e <= (1 << 32) / 30.0:
        return e
    return float(-(1 << 32) * np.log(1.0 - e / (1 << 32)))


def hll_count_reference(
    df: DataFrame, value_col: str, p: int = 8, hash32: Column | None = None
) -> DataFrame:
    """One-row (``hll_estimate`` double) reference-parity HLL count.

    Register update (``hyperloglog.py:134-142``): idx = hv & (m-1),
    rank = (32 - p) - bit_length(hv >> p) + 1, register = max rank.
    Estimate (``hyperloglog.py:144-168``): alpha * m^2 / sum(2^-reg) with
    linear counting below 2.5m and the 1/30*2^32 large-range correction.
    Absent registers contribute 2^0 = 1 to the harmonic sum, so one groupBy
    over PRESENT registers + a scalar aggregate suffices — no m-row join.
    All harmonic-sum terms are dyadic rationals well inside double mantissa
    range, so the sum is order-independent (exactly reproducible).

    One guarded divergence: when e <= 2.5m with ZERO empty registers the
    reference's linear counting evaluates m*ln(m/0) = inf
    (``hyperloglog.py:161-163``); here that branch falls through to the raw
    estimate instead. Unreachable for sanely-sized p.
    """
    m = 1 << p
    alpha = reference_alpha(p)
    regs = hll_registers(df, value_col, p, hash32)
    stats = regs.agg(
        F.count("*").alias("n_present"),
        # coalesce: on an EMPTY input sum() is NULL; 0.0 keeps the empty
        # sketch in the linear-counting branch, yielding m*ln(m/m) = 0.0
        # exactly like the reference's fresh sketch.
        F.coalesce(
            F.sum(F.pow(F.lit(2.0), -F.col("reg"))), F.lit(0.0)
        ).alias("s_present"),
    )
    e = F.lit(alpha) * F.lit(float(m * m)) / (
        (F.lit(m) - F.col("n_present")).cast("double") + F.col("s_present")
    )
    v = (F.lit(m) - F.col("n_present")).cast("double")
    estimate = (
        F.when(
            (e <= F.lit(2.5 * m)) & (v > 0), F.lit(float(m)) * F.log(F.lit(float(m)) / v)
        )
        .when(e <= F.lit((1 << 32) / 30.0), e)
        .otherwise(F.lit(-float(1 << 32)) * F.log(F.lit(1.0) - e / F.lit(float(1 << 32))))
    )
    return stats.select(estimate.alias("hll_estimate"))
