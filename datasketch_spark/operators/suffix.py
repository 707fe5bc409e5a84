"""Exact long-substring dedup pass (Lee et al. 2021, "Deduplicating
Training Data Makes Language Models Better"), re-shaped for Spark.

The paper builds one global suffix array; that is driver-hostile at 100TB.
Spark-shaped equivalent with the same guarantee:

  1. Fingerprints (mapInArrow, one numpy kernel per batch: ``winnow_batch``
     over the batch's UTF-8 buffer and offsets): polynomial hashes of all
     k-byte grams from one prefix sum, then ROBUST WINNOWING
     (Schleimer/Wilkerson/Aiken, SIGMOD 2003 — the MOSS fingerprinting
     algorithm): keep the minimal hash in every window of w consecutive
     grams. Guarantee: any common substring of length >= k + w - 1 shares
     at least one selected fingerprint.
  2. groupBy fingerprint -> candidate (docA, posA, docB, posB) alignments
     (bucket-capped like LSH buckets).
  3. Verify: group the alignments per doc pair, join both texts back once
     per pair, and extend the exact match left/right around the aligned
     positions (mapInArrow, one numpy kernel per batch:
     ``longest_aligned_match``). An alignment inside a run already extended
     on its diagonal is skipped, as it would extend to the same run. Keep
     pairs whose true common substring >= min_len = k + w - 1.

Output edges feed the same connected-components stage as the MinHash pass.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datasketch_spark.operators.lsh import bucket_pairs
from datasketch_spark.operators.verify import join_sides

_B = 1000003  # polynomial rolling-hash base; odd, so invertible mod 2**64
_B_INV = pow(_B, -1, 1 << 64)
# Text bytes per winnowing pass: bounds the kernel's temporaries (under 100
# bytes per text byte) whatever the Arrow batch size, and keeps them in
# cache (on 4,000 synth_pages docs: 0.14 CPU-s at 64 KB, 0.25 at 256 KB).
_CHUNK_BYTES = 1 << 16
# Bytes compared per extend step and alignment, and per step in total.
_FIRST_BLOCK = 64
_BLOCK_BUDGET = 1 << 20


def _powers(base: int, n: int) -> np.ndarray:
    """``base ** t mod 2**64`` for t in [0, n)."""
    p = np.full(n, base, dtype=np.uint64)
    p[:1] = 1
    return np.cumprod(p, dtype=np.uint64)


def _ranges(starts: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Concatenated ``arange(s, s + c)`` for each (s, c)."""
    total = int(counts.sum())
    shift = np.repeat(starts - (np.cumsum(counts) - counts), counts)
    return shift + np.arange(total)


def _first(keys: np.ndarray) -> np.ndarray:
    """Mask of the first element of each run of equal ``keys``."""
    mask = np.ones(len(keys), bool)
    mask[1:] = keys[1:] != keys[:-1]
    return mask


def _rightmost_min(v: np.ndarray, i: np.ndarray, off: int):
    """Per start j: the (value, index) of min(v[j], v[j + off]), the right
    one on ties. Needs i[j + off] >= i[j], so that the right index is the
    max of i[j] and i[j + off] * right (cheaper than ``np.where``)."""
    n = max(len(v) - off, 0)
    right = v[off : off + n] <= v[:n]
    return np.minimum(v[off : off + n], v[:n]), np.maximum(i[:n], i[off : off + n] * right)


def _winnow_chunk(data, starts, lens, k, w, pw, pw_inv):
    """(selected gram starts, their hashes) of the docs at ``starts`` /
    ``lens`` in ``data``; positions index ``data``, ascending."""
    m = len(data) - k + 1
    grams = lens - k + 1
    if not (grams > 0).any():
        return np.empty(0, np.int64), np.empty(0, np.uint64)
    # h[i] = sum_t data[i+t] * B^(k-1-t) = (S[i+k] - S[i]) * B^(i+k-1),
    # S the prefix sum of data[t] * B^-t: all in Z / 2**64.
    s = np.zeros(len(data) + 1, np.uint64)
    np.cumsum(data * pw_inv[: len(data)], out=s[1:])
    h = (s[k:] - s[:m]) * pw[k - 1 : k - 1 + m]

    picks = []
    long_ = grams > w
    if long_.any():
        # Rightmost min of every w-window by doubling: after the loop entry
        # j covers [j, j + span); the last step covers [j, j + w). Entry j's
        # index is the last min of a range starting at j, so it never
        # exceeds the index of entry j + off. Values compare as int64 with
        # the sign bit flipped (same order as uint64, faster).
        v = (h ^ np.uint64(1 << 63)).view(np.int64)
        idx, span = np.arange(m, dtype=np.int32 if m < 2**31 else np.int64), 1
        while 2 * span <= w:
            v, idx = _rightmost_min(v, idx, span)
            span *= 2
        if span < w:
            v, idx = _rightmost_min(v, idx, w - span)
        sel = idx[_ranges(starts[long_], grams[long_] - w + 1)]
        # Consecutive windows' picks never decrease: drop repeats.
        picks.append(sel[_first(sel)])
    short = (grams > 0) & ~long_
    if short.any():
        # Docs with at most w grams keep their FIRST min (np.argmin).
        g = _ranges(starts[short], grams[short])
        seg = np.cumsum(grams[short]) - grams[short]
        hv = h[g]
        doc = np.repeat(np.arange(len(seg)), grams[short])
        is_min = hv == np.repeat(np.minimum.reduceat(hv, seg), grams[short])
        picks.append(g[is_min][_first(doc[is_min])])
    sel = np.sort(np.concatenate(picks))
    return sel, h[sel]


def winnow_batch(
    data: np.ndarray, offsets: np.ndarray, k: int, w: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Winnowed fingerprints of a batch of docs: doc i is the bytes
    ``data[offsets[i]:offsets[i+1]]`` (uint8 ``data``, ascending
    ``offsets``). Returns flat ``(doc_idx, fp, pos)`` int64 arrays ordered
    by (doc_idx, pos): ``fp`` is the k-gram hash at byte ``pos`` of the doc,
    ``sum_t byte[pos+t] * 1000003^(k-1-t) mod 2**64`` viewed as int64.

    Selection per doc of n = len - k + 1 grams:
      - n > w: the minimal hash of every window of w consecutive grams, the
        RIGHTMOST one on ties, each position once;
      - 1 <= n <= w: the FIRST minimal hash (``"a" * 60`` with k=50, w=40
        has 11 equal grams and selects position 0);
      - n <= 0 (fewer than k bytes): nothing.
    Docs are processed in chunks of about ``_CHUNK_BYTES`` text bytes.
    """
    offsets = np.asarray(offsets, dtype=np.int64)
    lens = np.diff(offsets)
    n_docs = len(lens)
    out_doc, out_fp, out_pos = [], [], []
    if n_docs and lens.max() >= k:
        width = int(min(offsets[-1] - offsets[0], max(_CHUNK_BYTES, lens.max())))
        pw, pw_inv = _powers(_B, width), _powers(_B_INV, width)
        i0 = 0
        while i0 < n_docs:
            i1 = max(int(np.searchsorted(offsets, offsets[i0] + _CHUNK_BYTES, "right")) - 1, i0 + 1)
            lo = offsets[i0]
            starts = offsets[i0:i1] - lo
            chunk = data[lo : offsets[i1]].astype(np.uint64)
            sel, fp = _winnow_chunk(chunk, starts, lens[i0:i1], k, w, pw, pw_inv)
            doc = np.searchsorted(starts, sel, "right") - 1
            out_doc.append(doc + i0)
            out_pos.append(sel - starts[doc])
            out_fp.append(fp.view(np.int64))
            i0 = i1
    if not out_doc:
        return tuple(np.empty(0, np.int64) for _ in range(3))
    return np.concatenate(out_doc), np.concatenate(out_fp), np.concatenate(out_pos)


def _utf8(col: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(bytes, offsets) of an Arrow string column, zero-copy: row i is
    ``bytes[offsets[i]:offsets[i+1]]``, NULL as ''."""
    col = pc.fill_null(col, "")
    _, offs, data = col.buffers()
    width = np.int64 if pa.types.is_large_string(col.type) else np.int32
    off = np.frombuffer(offs, width)[col.offset : col.offset + len(col) + 1].astype(np.int64)
    buf = np.frombuffer(data, np.uint8) if data is not None else np.empty(0, np.uint8)
    return buf, off


def fingerprints_table(
    docs: DataFrame,
    k: int = 50,
    w: int = 40,
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, fp: bigint, pos: bigint) winnowed fingerprints per doc
    (``winnow_batch`` over the UTF-8 bytes of each text)."""

    def _fp(batches):
        for batch in batches:
            doc, fp, pos = winnow_batch(*_utf8(batch.column(1)), k, w)
            ids = batch.column(0).take(doc)
            yield pa.RecordBatch.from_arrays([ids, fp, pos], names=["doc_id", "fp", "pos"])

    return docs.select(F.col(key_col).cast("long"), text_col).mapInArrow(
        _fp, "doc_id long, fp long, pos long"
    )


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


def _match_len(x, xs, y, ys, bound, step):
    """Per row r: the largest n <= bound[r] with
    ``x[xs[r] + step*t] == y[ys[r] + step*t]`` for every t < n, comparing
    growing blocks of bytes per row."""
    n = np.zeros(len(xs), np.int64)
    live = np.flatnonzero(bound > 0)
    block = _FIRST_BLOCK
    while live.size:
        t = n[live, None] + np.arange(block)
        inside = t < bound[live, None]
        t = step * np.minimum(t, bound[live, None] - 1)
        eq = (x[xs[live, None] + t] == y[ys[live, None] + t]) & inside
        full = eq.all(axis=1)
        n[live] += np.where(full, block, eq.argmin(axis=1))
        live = live[full & (n[live] < bound[live])]
        block = min(2 * block, max(_FIRST_BLOCK, _BLOCK_BUDGET // max(live.size, 1)))
    return n


def longest_aligned_match(
    a_data: np.ndarray,
    a_off: np.ndarray,
    b_data: np.ndarray,
    b_off: np.ndarray,
    pair: np.ndarray,
    pos_a: np.ndarray,
    pos_b: np.ndarray,
) -> np.ndarray:
    """Per pair p (texts ``a_data[a_off[p]:a_off[p+1]]`` and likewise b):
    the longest exact match through any of its alignments, i.e. the max
    over alignments ``(pair[j], pos_a[j], pos_b[j])`` of the common run
    extended left from (pos_a, pos_b) plus the run extended right from
    there. Positions are clipped to the text lengths; 0 for a pair without
    alignments.

    Alignments are sorted by (pair, diagonal pos_a - pos_b, pos_a) and
    extended in rounds: each round extends the first not-yet-covered
    alignment of every (pair, diagonal) group, then covers the later ones
    of that group whose pos_a lies in the run just found (they would
    extend to the same run)."""
    len_a = np.diff(a_off)
    len_b = np.diff(b_off)
    best = np.zeros(len(len_a), np.int64)
    if not len(pair):
        return best
    pair = np.asarray(pair, np.int64)
    pa_ = np.clip(pos_a, 0, len_a[pair])
    pb_ = np.clip(pos_b, 0, len_b[pair])
    diag = pa_ - pb_
    order = np.lexsort((pa_, diag, pair))
    pair, pa_, pb_, diag = pair[order], pa_[order], pb_[order], diag[order]
    first = _first(pair) | _first(diag)
    head = np.flatnonzero(first)
    group = np.cumsum(first) - 1
    # One sort key per alignment: group, then pos_a (< 2**32 in a string).
    key = (group << 32) + pa_
    cur, end = head, np.r_[head[1:], len(pair)]
    while cur.size:
        p, xa, xb = pair[cur], pa_[cur], pb_[cur]
        sa, sb = a_off[p] + xa, b_off[p] + xb
        right = _match_len(a_data, sa, b_data, sb, np.minimum(len_a[p] - xa, len_b[p] - xb), 1)
        left = _match_len(a_data, sa - 1, b_data, sb - 1, np.minimum(xa, xb), -1)
        np.maximum.at(best, p, left + right)
        nxt = np.searchsorted(key, key[cur] + np.maximum(right, 1), "left")
        more = nxt < end
        cur, end = nxt[more], end[more]
    return best


def verify_substring_pairs(
    cands: DataFrame,
    docs: DataFrame,
    min_len: int,
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Extend the aligned matches exactly; keep (a, b, match_len) pairs
    whose true common substring >= min_len, match_len the longest match
    through any of the pair's alignments. a < b canonical order on output,
    for alignments given in either order."""
    swap = F.col("a") > F.col("b")
    per_pair = (
        cands.select(
            F.least("a", "b").cast("long").alias("a"),
            F.greatest("a", "b").cast("long").alias("b"),
            F.struct(
                F.when(swap, F.col("pos_b")).otherwise(F.col("pos_a")).alias("pos_a"),
                F.when(swap, F.col("pos_a")).otherwise(F.col("pos_b")).alias("pos_b"),
            ).alias("al"),
        )
        .groupBy("a", "b")
        .agg(F.collect_list("al").alias("aligns"))
    )
    joined = join_sides(per_pair, docs, key_col, [text_col])
    ta_col, tb_col = f"{text_col}_a", f"{text_col}_b"

    def _verify(batches):
        for batch in batches:
            aligns = batch.column("aligns")
            pair = np.repeat(
                np.arange(len(batch)), pc.list_value_length(aligns).to_numpy(zero_copy_only=False)
            )
            pos_a, pos_b = (c.to_numpy() for c in aligns.flatten().flatten())
            best = longest_aligned_match(
                *_utf8(batch.column(ta_col)), *_utf8(batch.column(tb_col)), pair, pos_a, pos_b
            )
            keep = best >= min_len
            mask = pa.array(keep)
            yield pa.RecordBatch.from_arrays(
                [batch.column("a").filter(mask), batch.column("b").filter(mask), best[keep]],
                names=["a", "b", "match_len"],
            )

    return joined.mapInArrow(_verify, "a long, b long, match_len long")


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
