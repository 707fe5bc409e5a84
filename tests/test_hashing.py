"""Bit-parity tests for the numeric core (no Spark).

Golden values come from the reference's own test suite
(``test/test_minhash.py:109-115``) and documented optimal-param triples
(``datasketch/lsh.py:98-100``).
"""

import hashlib
import struct

import numpy as np
import pytest

from datasketch_spark.config import DedupConfig, optimal_param
from datasketch_spark.functions.hashing import (
    MAX_HASH,
    MERSENNE_PRIME,
    permutations,
    permute_min,
    permute_min_segments,
    sha1_hash32,
    sha1_hash32_batch,
)
from datasketch_spark.functions.shingles import (
    batch_shingle_hashes,
    byte_shingles,
    shingle_hashes_fast,
    shingle_hashes_sha1,
)


def _reference_permutations(num_perm, seed):
    # Independent re-derivation of the reference's published generation
    # order (minhash.py:170-184): per-slot (a, b) pairs, then transpose.
    gen = np.random.RandomState(seed)
    pairs = []
    for _ in range(num_perm):
        a = gen.randint(1, int(MERSENNE_PRIME), dtype=np.uint64)
        b = gen.randint(0, int(MERSENNE_PRIME), dtype=np.uint64)
        pairs.append((a, b))
    arr = np.array(pairs, dtype=np.uint64)
    return arr[:, 0], arr[:, 1]


def test_golden_minhash_hello():
    # MinHash(num_perm=4, seed=1).update(b"Hello") fixture.
    a, b = permutations(4, 1)
    sig = permute_min(sha1_hash32_batch([b"Hello"]), a, b)
    assert sig.tolist() == [734825475, 960773806, 359816889, 342714745]


def test_permutations_match_reference_generation():
    for num_perm, seed in [(4, 1), (128, 1), (16, 42)]:
        a, b = permutations(num_perm, seed)
        ra, rb = _reference_permutations(num_perm, seed)
        assert (a == ra).all() and (b == rb).all()


def test_sha1_hash32():
    for data in [b"Hello", b"", b"abc", b"\x00\xff"]:
        expected = struct.unpack("<I", hashlib.sha1(data).digest()[:4])[0]
        assert sha1_hash32(data) == expected
    assert sha1_hash32_batch([b"Hello", b"abc"]).tolist() == [
        sha1_hash32(b"Hello"),
        sha1_hash32(b"abc"),
    ]


def test_optimal_param_reference_triples():
    assert optimal_param(0.5, 128) == (25, 5)
    assert optimal_param(0.8, 128) == (9, 13)
    assert optimal_param(0.9, 128) == (5, 25)


def test_update_equivalence_incremental_vs_batch():
    # update x n == update_batch (reference test_minhash.py:29-41).
    a, b = permutations(128, 1)
    tokens = [f"tok-{i}".encode() for i in range(50)]
    hv = sha1_hash32_batch(tokens)
    batch_sig = permute_min(hv, a, b)
    inc = np.full(128, MAX_HASH, dtype=np.uint64)
    for t in tokens:
        inc = np.minimum(inc, permute_min(sha1_hash32_batch([t]), a, b))
    assert (batch_sig == inc).all()


def test_merge_is_union_signature():
    # sig(A | B) == min(sig(A), sig(B)) (reference test_minhash.py:52-67).
    a, b = permutations(128, 1)
    ta = [f"a{i}".encode() for i in range(30)]
    tb = [f"b{i}".encode() for i in range(30)]
    sa = permute_min(sha1_hash32_batch(ta), a, b)
    sb = permute_min(sha1_hash32_batch(tb), a, b)
    su = permute_min(sha1_hash32_batch(ta + tb), a, b)
    assert (np.minimum(sa, sb) == su).all()


def test_segment_minhash_matches_single():
    a, b = permutations(128, 1)
    rng = np.random.RandomState(0)
    arrs = [
        rng.randint(0, 2**32, size=n).astype(np.uint64) for n in [1, 0, 7, 500, 3]
    ]
    off = np.zeros(len(arrs) + 1, dtype=np.int64)
    for i, x in enumerate(arrs):
        off[i + 1] = off[i] + len(x)
    seg = permute_min_segments(np.concatenate(arrs), off, a, b, chunk_tokens=100)
    for i, x in enumerate(arrs):
        assert (seg[i] == permute_min(x, a, b)).all()


def test_byte_shingles():
    assert byte_shingles("abcdef", 5) == [b"abcde", b"bcdef"]
    assert byte_shingles("ab", 5) == [b"ab"]  # short text -> whole text
    assert byte_shingles("héllo!", 3)[0] == "hél".encode()[:3]


def test_shingle_hash_modes_in_32bit_range():
    for fn in (shingle_hashes_fast, shingle_hashes_sha1):
        h = fn("the quick brown fox jumps over the lazy dog", 5)
        assert h.dtype == np.uint64
        assert (h <= int(MAX_HASH)).all()
        assert len(h) == len(np.unique(h))


def test_batch_shingle_hashes_none_handling():
    for mode in ("fast", "parity"):
        hv, starts, ends = batch_shingle_hashes(
            ["abcdefgh", None, "abcdefgh", ""], 5, mode
        )
        lens = (ends - starts).tolist()
        assert lens[0] == lens[2] == 4  # 8-k+1 windows
        assert lens[1] == 0  # None -> empty range
        assert lens[3] == 0  # "" -> empty range
        assert (
            hv[starts[0] : ends[0]].tolist() == hv[starts[2] : ends[2]].tolist()
        )


def test_jaccard_estimate_accuracy():
    # |A|=|B|=1000, |A&B|=800 -> J = 800/1200 = 0.667; est within 4 sigma.
    a, b = permutations(128, 1)
    common = [f"c{i}".encode() for i in range(800)]
    only_a = [f"x{i}".encode() for i in range(200)]
    only_b = [f"y{i}".encode() for i in range(200)]
    sa = permute_min(sha1_hash32_batch(common + only_a), a, b)
    sb = permute_min(sha1_hash32_batch(common + only_b), a, b)
    est = (sa == sb).mean()
    true_j = 800 / 1200
    assert abs(est - true_j) < 4 * np.sqrt(true_j * (1 - true_j) / 128)


def test_dedup_config_defaults():
    cfg = DedupConfig(threshold=0.8)
    assert (cfg.b, cfg.r) == (9, 13)
    cfg2 = DedupConfig(params=(16, 8))
    assert (cfg2.b, cfg2.r) == (16, 8)


def test_dedup_config_rejects_unknown_modes():
    # A misspelt mode used to run the else-branch (sha1-32 / est) silently.
    for hash_mode in ("fast", "parity", "parity64"):
        assert DedupConfig(hash_mode=hash_mode).hash_mode == hash_mode
    for verify_mode in ("est", "exact"):
        assert DedupConfig(verify_mode=verify_mode).verify_mode == verify_mode
    with pytest.raises(ValueError, match="hash_mode"):
        DedupConfig(hash_mode="parity_64")
    with pytest.raises(ValueError, match="verify_mode"):
        DedupConfig(verify_mode="exat")


def test_sha1_hash64_golden():
    # Independent golden values: little-endian first 8 bytes of sha1
    # (reference hashfunc.py:18-28 semantics), recomputed via hashlib here.
    import hashlib
    import struct

    from datasketch_spark.functions.hashing import sha1_hash64, sha1_hash64_batch

    for token in [b"Hello", b"", b"minhash", bytes(range(256))]:
        want = struct.unpack("<Q", hashlib.sha1(token).digest()[:8])[0]
        assert sha1_hash64(token) == want
    batch = sha1_hash64_batch([b"Hello", b"minhash"])
    assert batch.tolist() == [sha1_hash64(b"Hello"), sha1_hash64(b"minhash")]
    assert batch.dtype == np.uint64


def test_parity64_shingle_mode():
    from datasketch_spark.functions.shingles import (
        batch_shingle_hashes,
        shingle_hashes_sha1_64,
    )

    hv, starts, ends = batch_shingle_hashes(["hello world"], 5, "parity64")
    assert hv[starts[0] : ends[0]].tolist() == shingle_hashes_sha1_64(
        "hello world", 5
    ).tolist()
    assert (hv >= (1 << 32)).any()  # genuinely 64-bit values


def _parity_trials():
    """(num_perm, seed, tokens) over random inputs, seeds and permutation
    counts: the inputs of the reference-parity test and its golden twin."""
    rng = np.random.RandomState(123)
    for _ in range(6):
        num_perm = int(rng.choice([16, 64, 128]))
        seed = int(rng.randint(0, 10_000))
        n_tokens = int(rng.randint(1, 200))
        tokens = [
            f"tok-{rng.randint(0, 1_000_000)}".encode() for _ in range(n_tokens)
        ]
        yield num_perm, seed, tokens


_PARITY_TEXT = "the quick brown fox jumps over the lazy dog " * 7


def test_signature_bit_parity_vs_reference_implementation():
    # Strongest parity evidence: load the REFERENCE MinHash module itself
    # (module-level import machinery; the full package pulls optional
    # deps) and compare signatures bit-for-bit across random inputs,
    # seeds, and permutation counts.
    from tests.refload import load_reference_module

    RefMinHash = load_reference_module("minhash").MinHash

    for trial, (num_perm, seed, tokens) in enumerate(_parity_trials()):
        ref = RefMinHash(num_perm=num_perm, seed=seed)
        ref.update_batch(tokens)
        a, b = permutations(num_perm, seed)
        ours = permute_min(sha1_hash32_batch(tokens), a, b)
        assert np.array_equal(ref.hashvalues, ours), (trial, num_perm, seed)

    # And through the engine's parity-mode shingling on real-ish text.
    ref = RefMinHash(num_perm=128, seed=1)
    ref.update_batch(byte_shingles(_PARITY_TEXT, 5))
    a, b = permutations(128, 1)
    ours = permute_min(shingle_hashes_sha1(_PARITY_TEXT, 5), a, b)
    assert np.array_equal(ref.hashvalues, ours)


def _sig_digest(sig: np.ndarray) -> str:
    return hashlib.sha256(sig.astype("<u8").tobytes()).hexdigest()[:16]


def test_signature_bit_golden():
    # Runs without the reference checkout: pins this package's signatures
    # on the parity test's inputs.
    got = []
    for num_perm, seed, tokens in _parity_trials():
        sig = permute_min(sha1_hash32_batch(tokens), *permutations(num_perm, seed))
        got.append((num_perm, seed, _sig_digest(sig)))
    assert got == [
        (128, 1346, "1a5588a8cb0846ec"),
        (64, 7224, "0409a500a7b104f2"),
        (128, 3365, "bffdadb30fead5fb"),
        (64, 6382, "83df81b058c2aaf5"),
        (16, 6733, "e89e32c8283692e9"),
        (64, 6948, "bb1c45e5868298a3"),
    ]
    text_sig = permute_min(shingle_hashes_sha1(_PARITY_TEXT, 5), *permutations(128, 1))
    assert text_sig[:2].tolist() == [84766837, 11034845]
    assert _sig_digest(text_sig) == "b3f1fb72d48817f3"


def test_permute_min_property_vs_pure_integer_math():
    # Hypothesis property: the Mersenne-fold uint64 kernel must equal the
    # same computation done in unbounded Python integers:
    #   min(((a*h + b) mod 2^64) mod (2^61-1) & (2^32-1)) per permutation,
    # including edge hash values 0 and 2^32-1.
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from datasketch_spark.functions.hashing import permute_min

    P = (1 << 61) - 1
    M64 = 1 << 64
    MASK = (1 << 32) - 1

    @settings(max_examples=60, deadline=None)
    @given(
        tokens=st.lists(
            st.one_of(
                st.integers(min_value=0, max_value=(1 << 32) - 1),
                st.sampled_from([0, 1, (1 << 32) - 1, (1 << 31)]),
            ),
            min_size=1,
            max_size=120,
        ),
        num_perm=st.sampled_from([1, 4, 16]),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
    )
    def check(tokens, num_perm, seed):
        a, b = permutations(num_perm, seed)
        got = permute_min(np.array(tokens, dtype=np.uint64), a, b)
        for j in range(num_perm):
            expect = min(
                ((int(a[j]) * h + int(b[j])) % M64) % P & MASK for h in tokens
            )
            assert int(got[j]) == expect, (j, tokens[:5])

    check()


def test_fast_shingle_windows_property_vs_per_string():
    # Hypothesis property: the chunked whole-batch shingler must give each
    # doc exactly the same hash multiset as shingling that doc alone.
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from datasketch_spark.functions.shingles import (
        batch_shingle_hashes,
        shingle_hashes_fast,
    )

    @settings(max_examples=40, deadline=None)
    @given(
        texts=st.lists(
            st.text(
                alphabet=st.characters(min_codepoint=0, max_codepoint=0x2FF),
                min_size=0,
                max_size=60,
            ),
            min_size=1,
            max_size=8,
        ),
        k=st.sampled_from([2, 5, 8]),
    )
    def check(texts, k):
        hv, starts, ends = batch_shingle_hashes(texts, k, "fast")
        for i, t in enumerate(texts):
            mine = np.sort(np.unique(hv[starts[i] : ends[i]]))
            alone = shingle_hashes_fast(t, k)
            assert np.array_equal(mine, alone), (i, repr(t))

    check()
