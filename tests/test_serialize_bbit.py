"""LeanMinHash codec round-trip + b-bit / count / is_empty column fns."""

import hashlib
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from datasketch_spark.functions.hashing import (
    MAX_HASH,
    permutations,
    permute_min,
    sha1_hash32_batch,
)
from datasketch_spark.functions.minhash import (
    bbit_col,
    bbit_jaccard_col,
    count_col,
    is_empty_col,
    make_signature_from_tokens_udf,
)
from datasketch_spark.functions.serialize import (
    lean_minhash_bytes,
    lean_minhash_from_bytes,
    make_deserialize_udf,
    make_seed_extract_udf,
    make_serialize_udf,
)


def test_lean_layout_matches_reference_schema():
    # Layout: 8-byte seed, 4-byte count, count x 4-byte values
    # (lean_minhash.py:143-147,171-175).
    data = lean_minhash_bytes(1, [734825475, 960773806, 359816889, 342714745])
    assert len(data) == 8 + 4 + 4 * 4
    seed, n = struct.unpack_from("<qi", data, 0)
    assert (seed, n) == (1, 4)
    vals = struct.unpack_from("<4I", data, 12)
    assert list(vals) == [734825475, 960773806, 359816889, 342714745]
    assert lean_minhash_from_bytes(data) == (1, list(vals))


def test_serialize_roundtrip_udf(spark):
    udf_sig = make_signature_from_tokens_udf(16, 1)
    df = spark.createDataFrame(
        [(1, [123, 456, 789]), (2, None)], "doc_id long, tokens array<long>"
    ).withColumn("sig", udf_sig("tokens"))
    ser = df.withColumn("buf", make_serialize_udf(seed=1)("sig"))
    rt = ser.withColumn("sig2", make_deserialize_udf()("buf")).withColumn(
        "seed", make_seed_extract_udf()("buf")
    )
    rows = {r["doc_id"]: r for r in rt.collect()}
    assert rows[1]["sig2"] == rows[1]["sig"]
    assert rows[1]["seed"] == 1
    assert len(rows[1]["buf"]) == 8 + 4 + 16 * 4
    # Null tokens -> the never-updated (all-MAX) signature round-trips too.
    assert rows[2]["sig"] == [int(MAX_HASH)] * 16
    assert rows[2]["sig2"] == rows[2]["sig"]
    # A genuinely null sig column serializes to null.
    nulls = spark.createDataFrame([(3,)], "doc_id long").withColumn(
        "sig", F.lit(None).cast("array<long>")
    )
    nrow = nulls.withColumn("buf", make_serialize_udf(seed=1)("sig")).collect()[0]
    assert nrow["buf"] is None


def test_bbit_and_count_and_empty(spark):
    a, b = permutations(128, 1)
    toks1 = [f"x{i}".encode() for i in range(500)]
    toks2 = toks1[:400] + [f"y{i}".encode() for i in range(100)]  # J = 400/600
    s1 = permute_min(sha1_hash32_batch(toks1), a, b).astype(np.int64).tolist()
    s2 = permute_min(sha1_hash32_batch(toks2), a, b).astype(np.int64).tolist()
    empty = [int(MAX_HASH)] * 128
    df = spark.createDataFrame([(s1, s2, empty)], ["s1", "s2", "e"])
    row = df.select(
        bbit_col("s1", 4).alias("b1"),
        bbit_col("s2", 4).alias("b2"),
        count_col("s1", 128).alias("cnt"),
        is_empty_col("e", 128).alias("emp"),
        is_empty_col("s1", 128).alias("nonemp"),
    ).collect()[0]
    assert all(0 <= v < 16 for v in row["b1"])  # only lower 4 bits kept
    assert row["emp"] is True and row["nonemp"] is False
    # Cardinality estimate within 20% of 500 (reference estimator).
    assert abs(row["cnt"] - 500) / 500 < 0.2
    # Debiased b-bit jaccard approximates true J better than raw matches.
    est = (
        df.select(
            bbit_jaccard_col(
                bbit_col("s1", 2), bbit_col("s2", 2), b=2, r=0.0, num_perm=128
            ).alias("j")
        ).collect()[0]["j"]
    )
    true_j = 400 / 600
    assert abs(est - true_j) < 0.15


def test_lean_minhash_bytes_parity_with_reference():
    # Byte-identical serialization vs the reference LeanMinHash
    # (lean_minhash.py:126-175): same seed/count/hashvalues layout.
    from tests.refload import load_reference_module

    ref_mh = load_reference_module("minhash")
    ref_lean = load_reference_module("lean_minhash")

    from datasketch_spark.functions.serialize import (
        lean_minhash_bytes,
        lean_minhash_from_bytes,
    )

    m = ref_mh.MinHash(num_perm=32, seed=7)
    m.update_batch([f"t{i}".encode() for i in range(50)])
    lean = ref_lean.LeanMinHash(m)
    buf = bytearray(lean.bytesize(byteorder="<"))
    lean.serialize(buf, byteorder="<")
    ours = lean_minhash_bytes(7, m.hashvalues)
    assert bytes(buf) == ours
    seed, vals = lean_minhash_from_bytes(bytes(buf))
    assert seed == 7 and vals == [int(v) for v in m.hashvalues]


def _sig(tokens: list[bytes], num_perm: int, seed: int) -> np.ndarray:
    return permute_min(sha1_hash32_batch(tokens), *permutations(num_perm, seed))


def test_lean_minhash_bytes_golden():
    # Runs without the reference checkout: pins this package's lean bytes
    # for the parity test's MinHash.
    sig = _sig([f"t{i}".encode() for i in range(50)], 32, 7)
    buf = lean_minhash_bytes(7, sig)
    assert len(buf) == 140
    assert hashlib.sha256(buf).hexdigest()[:16] == "c188dafcbe896987"
    assert lean_minhash_from_bytes(buf) == (7, [int(v) for v in sig])


_BBIT_COMMON = [f"c{i}".encode() for i in range(60)]
_BBIT_X = _BBIT_COMMON + [f"x{i}".encode() for i in range(40)]
_BBIT_Y = _BBIT_COMMON + [f"y{i}".encode() for i in range(40)]


def _bbit_jaccard(spark, s1, s2, b: int) -> float:
    df = spark.createDataFrame(
        [([int(v) for v in s1], [int(v) for v in s2])], ["s1", "s2"]
    )
    j = bbit_jaccard_col(bbit_col("s1", b), bbit_col("s2", b), b=b, r=0.0, num_perm=128)
    return df.select(j.alias("j")).collect()[0]["j"]


def test_bbit_jaccard_r0_parity_with_reference(spark):
    # At r=0 (the default large-universe case) our b-bit estimator and the
    # reference bBitMinHash.jaccard must agree exactly; for r > 0 they
    # intentionally diverge (2^b vs the reference's 2*b — documented in
    # functions/minhash.py::_bbit_C).
    from tests.refload import load_reference_module

    ref_mh = load_reference_module("minhash")
    ref_bbit = load_reference_module("b_bit_minhash")

    m1 = ref_mh.MinHash(num_perm=128, seed=1)
    m2 = ref_mh.MinHash(num_perm=128, seed=1)
    m1.update_batch(_BBIT_X)
    m2.update_batch(_BBIT_Y)
    for b in (1, 2, 4):
        expected = ref_bbit.bBitMinHash(m1, b=b, r=0.0).jaccard(
            ref_bbit.bBitMinHash(m2, b=b, r=0.0)
        )
        got = _bbit_jaccard(spark, m1.hashvalues, m2.hashvalues, b)
        assert abs(got - float(expected)) < 1e-12, (b, got, expected)


def test_bbit_jaccard_r0_golden(spark):
    # Runs without the reference checkout: pins this package's b-bit
    # estimates for the parity test's signatures.
    s1, s2 = _sig(_BBIT_X, 128, 1), _sig(_BBIT_Y, 128, 1)
    got = {b: _bbit_jaccard(spark, s1, s2, b) for b in (1, 2, 4)}
    assert got == pytest.approx(
        {1: 0.421875, 2: 0.4583333333333333, 4: 0.44166666666666665}, abs=1e-12
    )


def test_hll_codec_reference_roundtrip(spark):
    # Byte-identical interop with the reference's serialize/deserialize
    # layout (hyperloglog.py:270-301): p byte + 2^p register bytes.
    from tests.refload import load_reference_module

    from datasketch_spark.functions.serialize import hll_bytes, hll_from_bytes
    from datasketch_spark.operators.hll import (
        hll_count_from_bytes,
        hll_export_bytes,
        hll_registers,
    )

    hyperloglog = load_reference_module("hyperloglog")
    ref = hyperloglog.HyperLogLog(p=8)
    words = [f"word{i}" for i in range(500)]
    for w in words:
        ref.update(w.encode("utf8"))
    buf = bytearray(ref.bytesize())
    ref.serialize(buf)
    buf = bytes(buf)

    # Export: Spark-built registers over the same values (default
    # sha1_hash32 = the reference's default hashfunc) -> identical bytes.
    df = spark.createDataFrame([(w,) for w in words], ["word"])
    regs = hll_registers(df, "word", p=8)
    assert hll_export_bytes(regs, 8) == buf

    # Import: the reference buffer decodes to the reference's registers
    # and counts to the reference's own estimate, exactly.
    p, reg = hll_from_bytes(buf)
    assert p == 8
    assert np.array_equal(reg, ref.reg)
    assert hll_count_from_bytes(buf) == pytest.approx(ref.count(), abs=1e-9)

    # And the reference can read OUR bytes (deserialize round-trip).
    ref2 = hyperloglog.HyperLogLog.deserialize(hll_export_bytes(regs, 8))
    assert ref2 == ref

    # Empty sketch: linear counting yields exactly 0.0.
    assert hll_count_from_bytes(hll_bytes(8, np.zeros(256))) == 0.0


def test_hll_codec_golden(spark):
    # Runs without the reference checkout: pins this package's exported
    # bytes and estimate for the round-trip test's values.
    from datasketch_spark.functions.serialize import hll_bytes, hll_from_bytes
    from datasketch_spark.operators.hll import (
        hll_count_from_bytes,
        hll_export_bytes,
        hll_registers,
    )

    df = spark.createDataFrame([(f"word{i}",) for i in range(500)], ["word"])
    buf = hll_export_bytes(hll_registers(df, "word", p=8), 8)
    assert len(buf) == 1 + 256
    assert hashlib.sha256(buf).hexdigest()[:16] == "51beefbbb1f4a3cc"
    assert hll_count_from_bytes(buf) == pytest.approx(509.3963220454781, abs=1e-9)
    p, reg = hll_from_bytes(buf)
    assert hll_bytes(p, reg) == buf
    assert hll_count_from_bytes(hll_bytes(8, np.zeros(256))) == 0.0
