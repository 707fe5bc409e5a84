"""The exact-substring pass's two batch kernels against per-doc and
per-alignment reference loops, and the verify stage's output contract."""

import numpy as np
import pytest

from datasketch_spark.operators import suffix
from datasketch_spark.operators.suffix import (
    fingerprints_table,
    longest_aligned_match,
    verify_substring_pairs,
    winnow_batch,
)

K, W = 50, 40
_B = np.uint64(1000003)


# --- per-doc / per-alignment references ------------------------------------


def _gram_hashes(data: np.ndarray, k: int) -> np.ndarray:
    """Polynomial hashes of all k-grams of a uint8 array (k strided
    multiply-adds over the windows)."""
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
    each length-w window (rightmost min on ties), deduplicated; one
    ``np.argmin`` (first min) when there are at most w hashes."""
    n = len(hashes)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    if n <= w:
        return np.array([int(np.argmin(hashes))], dtype=np.int64)
    win = np.lib.stride_tricks.sliding_window_view(hashes, w)
    rev_arg = w - 1 - np.argmin(win[:, ::-1], axis=1)
    return np.unique(rev_arg + np.arange(len(win))).astype(np.int64)


def _encode(text) -> bytes:
    return (text or "").encode("utf-8", "surrogatepass")


def reference_fingerprints(texts, k=K, w=W) -> list[tuple[int, int, int]]:
    out = []
    for i, text in enumerate(texts):
        h = _gram_hashes(np.frombuffer(_encode(text), np.uint8), k)
        sel = winnow(h, w)
        out += zip([i] * len(sel), h[sel].view(np.int64).tolist(), sel.tolist())
    return out


def _common_prefix_len(xa: np.ndarray, xb: np.ndarray) -> int:
    n = min(len(xa), len(xb))
    if n == 0:
        return 0
    neq = xa[:n] != xb[:n]
    i = int(np.argmax(neq))
    return n if not neq[i] else i


def reference_match_len(ta: bytes, tb: bytes, pa: int, pb: int) -> int:
    ba, bb = np.frombuffer(ta, np.uint8), np.frombuffer(tb, np.uint8)
    right = _common_prefix_len(ba[pa:], bb[pb:])
    left = _common_prefix_len(ba[:pa][::-1], bb[:pb][::-1])
    return left + right


def _batch(blobs):
    offsets = np.r_[0, np.cumsum([len(b) for b in blobs])]
    return np.frombuffer(b"".join(blobs), np.uint8), offsets


def kernel_fingerprints(texts, split, k=K, w=W) -> list[tuple[int, int, int]]:
    """``winnow_batch`` over ``texts`` in batches of ``split`` docs."""
    out = []
    for lo in range(0, len(texts), split):
        doc, fp, pos = winnow_batch(*_batch([_encode(t) for t in texts[lo : lo + split]]), k, w)
        out += zip((doc + lo).tolist(), fp.tolist(), pos.tolist())
    return out


# --- fingerprints -----------------------------------------------------------


def _edge_texts():
    rng = np.random.RandomState(5)
    letters = list("abcdefgh ")
    texts = [
        "",
        None,
        "x" * 49,  # one byte short of a gram
        "y" * 50,  # exactly one gram
        "z" * 89,  # k + w - 1 bytes: w grams, the short-doc rule
        "grüße 日本語 \U0001f600 " * 12,  # multibyte
        "lone \ud800 surrogate " * 8,
    ]
    texts += ["".join(rng.choice(letters, int(rng.randint(0, 400)))) for _ in range(40)]
    texts += ["".join(rng.choice(["a", "b"], int(rng.randint(80, 300)))) for _ in range(20)]
    return texts


@pytest.mark.parametrize("chunk_bytes", [suffix._CHUNK_BYTES, 64])
@pytest.mark.parametrize("k,w", [(K, W), (20, 10), (5, 1)])
def test_winnow_batch_matches_per_doc_reference(monkeypatch, chunk_bytes, k, w):
    monkeypatch.setattr(suffix, "_CHUNK_BYTES", chunk_bytes)
    texts = _edge_texts()
    want = reference_fingerprints(texts, k, w)
    assert want
    for split in (1, 7, len(texts)):
        assert kernel_fingerprints(texts, split, k, w) == want, split


def test_short_doc_takes_first_min_long_doc_rightmost():
    # "a" * 60: 11 equal grams <= w, so np.argmin's first min.
    assert kernel_fingerprints(["a" * 60], 1) == reference_fingerprints(["a" * 60])
    assert [p for _, _, p in kernel_fingerprints(["a" * 60], 1)] == [0]
    # "a" * 100: 51 equal grams > w, so each window's rightmost min.
    assert [p for _, _, p in kernel_fingerprints(["a" * 100], 1)] == list(range(39, 51))


def test_fingerprints_table_matches_reference(spark):
    # Spark stores a lone surrogate as U+FFFD, so that text is left out.
    texts = [t for t in _edge_texts() if "\ud800" not in (t or "")]
    rows = [(10 * i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(3)
    got = sorted(tuple(r) for r in fingerprints_table(df).collect())
    want = sorted((10 * i, fp, pos) for i, fp, pos in reference_fingerprints(texts))
    assert got == want


# --- extend-verify ----------------------------------------------------------


def test_longest_aligned_match_matches_per_alignment_reference():
    rng = np.random.RandomState(3)
    for trial in range(30):
        texts_a, texts_b, aligns = [], [], []
        for p in range(int(rng.randint(1, 20))):
            a = rng.randint(0, 3, int(rng.randint(0, 500))).astype(np.uint8)
            b = a.copy()
            for _ in range(int(rng.randint(0, 8))):  # substitutions split runs
                if len(b):
                    b[rng.randint(len(b))] = rng.randint(0, 3)
            shift = int(rng.randint(0, 20))
            b = np.r_[rng.randint(0, 3, shift).astype(np.uint8), b]
            texts_a.append(a.tobytes())
            texts_b.append(b.tobytes())
            for _ in range(int(rng.randint(0, 50))):
                pa = int(rng.randint(0, len(a) + 1))
                pb = pa + shift if rng.rand() < 0.7 else int(rng.randint(0, len(b) + 1))
                aligns.append((p, pa, min(pb, len(b))))
        rng.shuffle(aligns)
        al = np.array(aligns, np.int64).reshape(-1, 3)
        got = longest_aligned_match(*_batch(texts_a), *_batch(texts_b), al[:, 0], al[:, 1], al[:, 2])
        want = [0] * len(texts_a)
        for p, pa, pb in aligns:
            want[p] = max(want[p], reference_match_len(texts_a[p], texts_b[p], pa, pb))
        assert got.tolist() == want, trial


def _letters(rng, n, alphabet="abcdefghijklmnopqrstuvwxyz"):
    return "".join(rng.choice(list(alphabet), n))


def test_verify_extends_every_run_on_a_diagonal(spark):
    # Docs 1 and 2 share s1 + one substituted byte + s2 on one diagonal
    # (offset 30 - 10); the later run s2 is the longer one. Doc 3 shares
    # nothing with doc 1.
    rng = np.random.RandomState(9)
    s1, s2 = _letters(rng, 100), _letters(rng, 150)
    t1 = _letters(rng, 30, "0123") + s1 + "X" + s2 + _letters(rng, 40, "0123")
    t2 = _letters(rng, 10, "5678") + s1 + "Y" + s2 + _letters(rng, 25, "5678")
    t3 = _letters(rng, 400, "ABCD")
    docs = spark.createDataFrame([(1, t1), (2, t2), (3, t3)], "doc_id long, text string")
    cands = [
        (1, 2, 30 + 20, 10 + 20),  # inside s1
        (1, 2, 30 + 40, 10 + 40),  # inside s1, same run
        (1, 2, 131 + 60, 111 + 60),  # inside s2: same diagonal, longer run
        (1, 2, 5, 200),  # bytes differ
        (1, 3, 30 + 20, 200),  # bytes differ: no edge
    ]
    cdf = spark.createDataFrame(cands, "a long, b long, pos_a long, pos_b long")
    got = [tuple(r) for r in verify_substring_pairs(cdf, docs, min_len=89).collect()]
    b1, b2 = _encode(t1), _encode(t2)
    assert reference_match_len(b1, b2, 50, 30) == 100
    assert got == [(1, 2, 150)]
    assert max(reference_match_len(b1, b2, pa, pb) for _, _, pa, pb in cands[:4]) == 150


def test_verify_output_is_canonical_for_either_input_order(spark):
    rng = np.random.RandomState(4)
    shared = _letters(rng, 120)
    t5 = _letters(rng, 17) + shared + _letters(rng, 9)
    t8 = _letters(rng, 3) + shared + _letters(rng, 30)
    docs = spark.createDataFrame([(5, t5), (8, t8)], "doc_id long, text string")
    pa, pb = 17 + 33, 3 + 33
    want = reference_match_len(_encode(t5), _encode(t8), pa, pb)
    assert want >= 120
    for cands in ([(5, 8, pa, pb)], [(8, 5, pb, pa)], [(5, 8, pa, pb), (8, 5, pb, pa)]):
        cdf = spark.createDataFrame(cands, "a long, b long, pos_a long, pos_b long")
        got = [tuple(r) for r in verify_substring_pairs(cdf, docs, min_len=89).collect()]
        assert got == [(5, 8, want)], cands
