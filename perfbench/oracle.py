"""Correctness oracle, computed from the generated inputs alone.

Nothing here calls the package: shingles are recomputed from the UTF-8
bytes of each text, and the planted cluster of every doc is known from the
generator.  The pipeline's output is only ever the thing being scored.
"""

from __future__ import annotations

from collections import defaultdict
from itertools import combinations

import numpy as np

RECALL_FLOOR = 0.99


def shingle_ids(text: str, k: int = 5) -> np.ndarray:
    """Sorted distinct k-byte shingles of the UTF-8 text, each packed
    big-endian into a uint64 (k <= 7).  A text of at most k bytes is one
    shingle, tagged with the top bit so it cannot equal a packed k-gram;
    an empty text has none."""
    raw = text.encode("utf-8", "surrogatepass")
    if len(raw) <= k:
        packed = [int.from_bytes(raw, "big") | 1 << 63] if raw else []
        return np.array(packed, dtype=np.uint64)
    data = np.frombuffer(raw, dtype=np.uint8).astype(np.uint64)
    n = len(data) - k + 1
    packed = np.zeros(n, dtype=np.uint64)
    for j in range(k):
        packed = (packed << np.uint64(8)) | data[j : j + n]
    return np.unique(packed)


def cluster_jaccard(texts, k: int = 5) -> np.ndarray:
    """Exact pairwise shingle Jaccard of a few docs, as an n x n matrix:
    one doc-by-shingle incidence matrix, intersections by matrix product."""
    ids = [shingle_ids(t, k) for t in texts]
    _, inverse = np.unique(np.concatenate(ids), return_inverse=True)
    incidence = np.zeros((len(ids), inverse.max() + 1 if len(inverse) else 0), dtype=np.float32)
    row = np.repeat(np.arange(len(ids)), [len(x) for x in ids])
    incidence[row, inverse] = 1.0
    inter = (incidence @ incidence.T).astype(np.float64)  # exact below 2**24
    size = np.diag(inter)
    union = size[:, None] + size[None, :] - inter
    with np.errstate(invalid="ignore", divide="ignore"):
        return np.where(union > 0, inter / union, 1.0)


def truth_pairs(urls, texts, labels, min_jaccard: float, k: int = 5) -> set:
    """Pairs (u, v), u < v, inside one planted cluster whose exact
    shingle Jaccard is at least ``min_jaccard``.  ``labels[i]`` is the
    planted cluster of doc i, or None for a planted singleton."""
    members = defaultdict(list)
    for i, label in enumerate(labels):
        if label is not None:
            members[label].append(i)
    truth = set()
    for idx in members.values():
        jac = cluster_jaccard([texts[i] for i in idx], k)
        for a, b in zip(*np.nonzero(np.triu(jac >= min_jaccard, 1))):
            truth.add(tuple(sorted((urls[idx[a]], urls[idx[b]]))))
    return truth


def score_clusters(assign: dict, truth: set, label_of: dict) -> tuple[float, float]:
    """(recall, precision) of a url -> cluster_id assignment.

    Recall: share of truth pairs placed in one output cluster.
    Precision: share of output same-cluster pairs whose two docs share a
    planted cluster; over-merging distinct clusters lowers it."""
    hit = sum(1 for u, v in truth if assign.get(u) is not None and assign.get(u) == assign.get(v))
    recall = hit / len(truth) if truth else 1.0
    groups = defaultdict(lambda: defaultdict(int))
    for url, cid in assign.items():
        groups[cid][label_of.get(url)] += 1
    total = inside = 0
    for per_label in groups.values():
        n = sum(per_label.values())
        total += n * (n - 1) // 2
        inside += sum(c * (c - 1) // 2 for lab, c in per_label.items() if lab is not None)
    precision = inside / total if total else 1.0
    return recall, precision


def check_claims(claims: list[tuple], expected: set) -> list[str]:
    """Problems with a streaming claims table, empty when it is correct.

    ``claims`` rows are (band_idx, band_hash, url, first_url, prior_count);
    ``expected`` is the batch recomputation as a set of
    (band_idx, band_hash, url).  Within each bucket, prior_count must run
    0..n-1 and first_url must be the url of the prior_count 0 row."""
    problems = []
    got = [(b, h, u) for b, h, u, _, _ in claims]
    if len(got) != len(set(got)):
        problems.append(f"{len(got) - len(set(got))} duplicate claim rows")
    missing, extra = expected - set(got), set(got) - expected
    if missing or extra:
        problems.append(f"claims differ from batch bands: {len(missing)} missing, {len(extra)} extra")
    buckets = defaultdict(list)
    for b, h, u, first, prior in claims:
        buckets[(b, h)].append((prior, u, first))
    bad_prior = bad_first = 0
    for rows in buckets.values():
        rows.sort()
        if [p for p, _, _ in rows] != list(range(len(rows))):
            bad_prior += 1
            continue
        owner = rows[0][1]
        if any(first != owner for _, _, first in rows):
            bad_first += 1
    if bad_prior:
        problems.append(f"{bad_prior} buckets whose prior_count is not 0..n-1")
    if bad_first:
        problems.append(f"{bad_first} buckets whose first_url is not the prior_count 0 url")
    return problems


def score_claims(claims: list[tuple], truth: set, label_of: dict) -> tuple[float, float]:
    """(recall, precision) for a claims table: a truth pair is found when
    its two urls share a claimed bucket; precision is the share of
    distinct colliding url pairs that lie inside one planted cluster."""
    buckets = defaultdict(set)
    for b, h, u, _, _ in claims:
        buckets[(b, h)].add(u)
    colliding = set()
    for urls in buckets.values():
        if len(urls) > 1:
            colliding.update(combinations(sorted(urls), 2))
    recall = len(truth & colliding) / len(truth) if truth else 1.0
    inside = sum(
        1 for u, v in colliding if label_of.get(u) is not None and label_of.get(u) == label_of.get(v)
    )
    precision = inside / len(colliding) if colliding else 1.0
    return recall, precision
