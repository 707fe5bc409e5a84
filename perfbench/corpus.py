"""Generated inputs that the package itself does not ship.

``templated_pages`` builds a mirrored-and-templated corpus: almost every
doc belongs to a near-duplicate cluster, cluster sizes are heavy-tailed,
and every page repeats its site's item template, so shingles repeat
inside a doc.  It is a pure function of the seed.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd

_VOCAB_SIZE = 6000
_SITES = 40
# Per-member word-replacement rates: exact mirrors first, then edits.
_EDIT_RATES = (0.0, 0.0, 0.02, 0.04, 0.06, 0.09, 0.12)


def _vocabulary() -> list[str]:
    rng = np.random.default_rng(7)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    return ["".join(rng.choice(letters, size=int(rng.integers(3, 10)))) for _ in range(_VOCAB_SIZE)]


def cluster_sizes(n_docs: int, max_size: int, singleton_share: float = 0.05) -> list[int]:
    """Cluster sizes summing to exactly ``n_docs``: a ``singleton_share``
    of planted singletons, the rest Pareto(alpha=1.2) sizes from 2 to
    ``max_size``.  The quantiles are a golden-ratio sequence rather than
    random draws, so every seed gets the same sizes (and so the same
    number of planted pairs) and only the text and order change."""
    sizes, total, i = [], 0, 0
    while total < n_docs:
        i += 1
        u = (i * 0.6180339887498949) % 1.0
        if u < singleton_share:
            s = 1
        else:
            v = (u - singleton_share) / (1.0 - singleton_share)
            s = min(max_size, int(2 * (1.0 - v) ** (-1 / 1.2)))
        s = min(s, n_docs - total)
        sizes.append(s)
        total += s
    return sizes


def templated_pages(n_docs: int, seed: int, max_cluster: int) -> tuple[pd.DataFrame, list]:
    """(pages with url and text, planted cluster label per row); the label
    is None for a planted singleton."""
    rng = np.random.default_rng(seed)
    vocab = _vocabulary()
    templates = [rng.integers(0, _VOCAB_SIZE, size=int(rng.integers(5, 9))) for _ in range(_SITES)]
    urls, texts, labels = [], [], []
    for cid, size in enumerate(cluster_sizes(n_docs, max_cluster)):
        site = int(rng.integers(0, _SITES))
        items = [rng.integers(0, _VOCAB_SIZE, size=int(rng.integers(8, 15))) for _ in range(int(rng.integers(5, 10)))]
        for member in range(size):
            rate = _EDIT_RATES[member % len(_EDIT_RATES)] if member else 0.0
            body = []
            for words in items:
                words = words.copy()
                hit = rng.random(len(words)) < rate
                words[hit] = rng.integers(0, _VOCAB_SIZE, size=int(hit.sum()))
                body.append(" ".join(vocab[w] for w in templates[site]))
                body.append(" ".join(vocab[w] for w in words))
            texts.append(" ".join(body))
            urls.append(f"https://mirror{int(rng.integers(0, 10_000)):04d}.example/{cid:06d}-{member:03d}")
            labels.append(cid if size > 1 else None)
    order = rng.permutation(len(urls))
    pdf = pd.DataFrame({"url": [urls[i] for i in order], "text": [texts[i] for i in order]})
    return pdf, [labels[i] for i in order]


def templated_labels(urls) -> list:
    """Planted cluster of each ``templated_pages`` doc, read from its url
    (``.../<cluster>-<member>``); None for a planted singleton, the only
    doc of its cluster."""
    clusters = [url.rsplit("/", 1)[1].split("-")[0] for url in urls]
    sizes = Counter(clusters)
    return [int(c) if sizes[c] > 1 else None for c in clusters]


def crawl_label(url: str) -> int | None:
    """Planted cluster of a ``sources.pages.synth_pages`` doc: the pages
    module plants a 4-member cluster at positions 0..3 of every block of
    10 doc indices, and the url ends with the doc index."""
    block, pos = divmod(int(url.rsplit("/", 1)[1]), 10)
    return block if pos < 4 else None


def token_repeat_ratio(texts, k: int = 5) -> float:
    """Share of k-byte shingle tokens that repeat a token earlier in the
    same doc."""
    total = distinct = 0
    for text in texts:
        data = text.encode("utf-8")
        n = max(0, len(data) - k + 1)
        total += n
        distinct += len({data[i : i + k] for i in range(n)})
    return (total - distinct) / total if total else 0.0
