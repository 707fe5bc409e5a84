"""verify_mode='exact': pipeline verification by true shingle-set Jaccard."""

import hashlib

import numpy as np

from datasketch_spark.config import DedupConfig
from datasketch_spark.functions.shingles import byte_shingles, shingle_hashes_fast
from datasketch_spark.operators.dedup import dedup_pipeline
from datasketch_spark.operators.verify import shingle_set_col, verify_pairs_exact_text
from datasketch_spark.sources.pages import synth_pages, synth_pages_pdf

# Sorted "a b repr(jaccard)" lines of exact-mode ``verified`` on
# synth_pages(300, seed=42) at threshold 0.5, captured at commit 5fc09b6
# (the per-pair Python verifier over 32-bit shingle hashes).
EXACT_GOLDEN = (118, "a6f9d2b99cd3d4fe9520b74718b5899e3b68013835d143e409339a055107600e")


def test_exact_verify_pipeline(spark):
    cfg = DedupConfig(threshold=0.5, verify_mode="exact")
    pages = synth_pages(spark, 300, seed=42)
    stages = dedup_pipeline(pages, cfg)
    verified = stages["verified"].collect()
    assert len(verified) > 50
    # Every reported jaccard IS the exact value — recompute independently
    # for a sample of pairs.
    pdf = synth_pages_pdf(300, seed=42)
    url_by_id = {r["doc_id"]: r["url"] for r in stages["docs"].collect()}
    text_by_url = dict(zip(pdf["url"], pdf["text"]))
    for r in verified[:40]:
        sa = set(shingle_hashes_fast(text_by_url[url_by_id[r["a"]]], cfg.shingle_k).tolist())
        sb = set(shingle_hashes_fast(text_by_url[url_by_id[r["b"]]], cfg.shingle_k).tolist())
        true_j = len(sa & sb) / len(sa | sb)
        assert abs(r["est_jaccard"] - true_j) < 1e-12
        assert true_j >= cfg.threshold
    rows = sorted((r["a"], r["b"], r["est_jaccard"]) for r in verified)
    blob = "\n".join(f"{a} {b} {j!r}" for a, b, j in rows).encode()
    assert (len(rows), hashlib.sha256(blob).hexdigest()) == EXACT_GOLDEN


def test_exact_tokens_edge_cases(spark):
    # The native token sets are byte_shingles' sets (a token is its window
    # encoded as latin-1); NULL and '' have no tokens, as in the old loop.
    k = 5
    texts = [
        "",
        None,
        "abc",
        "abcde",
        "naïve café — 東京\nŅ\r\n😀 ünïcödé, naïve café — 東京",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = dict(df.select("doc_id", shingle_set_col("text", k)).collect())
    assert got[0] == [] and got[1] == []
    for i, t in enumerate(texts):
        toks = [g.encode("latin-1") for g in got[i]]
        assert len(toks) == len(set(toks)), i
        assert set(toks) == set(byte_shingles(t or "", k)), i

    docs = spark.createDataFrame(
        [(10, ""), (11, ""), (12, "some text")], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(10, 11), (10, 12)], "a long, b long")
    cfg = DedupConfig(threshold=0.0, params=(16, 8))
    verified = verify_pairs_exact_text(pairs, docs, cfg).collect()
    assert {(r["a"], r["b"]): r["jaccard"] for r in verified} == {(10, 11): 1.0, (10, 12): 0.0}


def test_exact_vs_est_mode_precision(spark):
    # Exact mode must be a subset-or-equal refinement: every exact-verified
    # pair is >= threshold by definition; est mode may keep borderline
    # pairs whose true J is slightly below.
    pages = synth_pages(spark, 300, seed=42)
    est = {
        (r["a"], r["b"])
        for r in dedup_pipeline(pages, DedupConfig(threshold=0.5))["verified"].collect()
    }
    exact = {
        (r["a"], r["b"])
        for r in dedup_pipeline(
            pages, DedupConfig(threshold=0.5, verify_mode="exact")
        )["verified"].collect()
    }
    # Same candidate generation; both filter at 0.5 — overlap dominates.
    assert len(exact & est) / max(1, len(exact | est)) > 0.8


def test_winnow_guarantee_property():
    # The correctness foundation of the substring_edges oracle: ANY common
    # substring of length >= k + w - 1 must yield a shared fingerprint at
    # aligned positions in both docs (so extend-verify recovers the match).
    # Pure-numpy property check over random plants.
    import numpy as np

    from datasketch_spark.operators.suffix import winnow_batch

    rng = np.random.RandomState(17)
    k, w = 11, 7
    min_len = k + w - 1
    for trial in range(25):
        block_len = int(rng.randint(min_len, min_len + 30))
        block = rng.randint(0, 256, block_len).astype(np.uint8)
        pad_a = rng.randint(0, 256, int(rng.randint(0, 40))).astype(np.uint8)
        pad_b = rng.randint(0, 256, int(rng.randint(0, 40))).astype(np.uint8)
        doc_a = np.concatenate([pad_a, block, rng.randint(0, 256, 25).astype(np.uint8)])
        doc_b = np.concatenate([rng.randint(0, 256, 33).astype(np.uint8), block, pad_b])
        doc, fp, pos = winnow_batch(
            np.concatenate([doc_a, doc_b]), [0, len(doc_a), len(doc_a) + len(doc_b)], k, w
        )
        fps_a = dict(zip(pos[doc == 0].tolist(), fp[doc == 0].tolist()))
        fps_b = dict(zip(pos[doc == 1].tolist(), fp[doc == 1].tolist()))
        start_a, start_b = len(pad_a), 33
        # aligned shared fingerprint inside the planted block?
        found = False
        for pa, h in fps_a.items():
            off = pa - start_a
            if 0 <= off <= block_len - k and fps_b.get(start_b + off) == h:
                found = True
                break
        assert found, f"trial {trial}: no aligned shared fingerprint"
