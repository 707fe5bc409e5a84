"""Self-tests for the benchmark's own code, on tiny hand-made inputs.

    python3 -m pytest perfbench -q

None of these start Spark.
"""

from __future__ import annotations

import numpy as np
import pytest

import corpus
import oracle
from spans import Span, Tracer, span_self_time

BASE = (
    "the quick brown fox jumps over the lazy dog while seven wizards quietly "
    "box jumping frogs near the old mill by the river every single morning"
)
OTHER = (
    "pack my box with five dozen liquor jugs and then sail across the bay "
    "toward the lighthouse before the winter storms arrive from the north"
)


def _edit(text: str, i: int) -> str:
    """``text`` with its i-th word replaced: a near-duplicate."""
    words = text.split()
    words[i] = "zzzz"
    return " ".join(words)


@pytest.fixture
def planted():
    docs = [
        ("a0", BASE, "A"),
        ("a1", _edit(BASE, 3), "A"),
        ("a2", _edit(BASE, 20), "A"),
        ("b0", OTHER, "B"),
        ("b1", _edit(OTHER, 5), "B"),
        ("s0", "an unrelated singleton page about gardening tools and soil", None),
    ]
    urls, texts, labels = (list(x) for x in zip(*docs))
    truth = oracle.truth_pairs(urls, texts, labels, 0.7)
    return urls, labels, truth


def test_shingle_ids_match_byte_slices():
    for text in ("", "abc", "abcde", BASE, "naïve café ünïcode"):
        raw = text.encode("utf-8")
        got = oracle.shingle_ids(text, 5)
        if len(raw) > 5:
            want = sorted(int.from_bytes(raw[i : i + 5], "big") for i in range(len(raw) - 4))
            assert [int(x) for x in got] == sorted(set(want))
        else:
            assert len(got) == (1 if raw else 0)


def test_cluster_jaccard_is_exact():
    texts = [BASE, _edit(BASE, 3), OTHER]
    sets = [{t.encode()[i : i + 5] for i in range(len(t.encode()) - 4)} for t in texts]
    jac = oracle.cluster_jaccard(texts, 5)
    for i in range(3):
        for j in range(3):
            assert jac[i, j] == pytest.approx(len(sets[i] & sets[j]) / len(sets[i] | sets[j]))


def test_oracle_scores_perfect_clustering(planted):
    urls, labels, truth = planted
    assert truth == {("a0", "a1"), ("a0", "a2"), ("a1", "a2"), ("b0", "b1")}
    assign = {u: (lab or u) for u, lab in zip(urls, labels)}
    assert oracle.score_clusters(assign, truth, dict(zip(urls, labels))) == (1.0, 1.0)


def test_oracle_flags_merged_and_split_clusters(planted):
    urls, labels, truth = planted
    label_of = dict(zip(urls, labels))
    merged = {u: ("AB" if lab else u) for u, lab in zip(urls, labels)}
    recall, precision = oracle.score_clusters(merged, truth, label_of)
    assert recall == 1.0
    assert precision == pytest.approx(4 / 10)  # 10 same-cluster pairs, 4 planted
    split = {u: (lab or u) for u, lab in zip(urls, labels)} | {"a2": "elsewhere"}
    recall, precision = oracle.score_clusters(split, truth, label_of)
    assert recall == pytest.approx(2 / 4)
    assert precision == 1.0


def test_truth_level_drops_distant_members():
    far = " ".join(BASE.split()[:6] + OTHER.split())
    truth = oracle.truth_pairs(["x", "y"], [BASE, far], ["A", "A"], 0.7)
    assert truth == set()


def _claims(expected: set) -> list[tuple]:
    """A correct claims table for ``expected``: urls claim each bucket in
    url order."""
    rows, seen = [], {}
    for b, h, u in sorted(expected):
        prior = seen.setdefault((b, h), [])
        rows.append((b, h, u, prior[0] if prior else u, len(prior)))
        prior.append(u)
    return rows


EXPECTED = {(0, 11, "u1"), (0, 11, "u2"), (0, 11, "u3"), (1, 12, "u1"), (1, 13, "u2")}


def test_claims_checker_accepts_correct_table():
    claims = _claims(EXPECTED)
    assert oracle.check_claims(claims, EXPECTED) == []
    recall, precision = oracle.score_claims(claims, {("u1", "u2")}, {"u1": 1, "u2": 1, "u3": 2})
    assert recall == 1.0
    assert precision == pytest.approx(1 / 3)


def test_claims_checker_rejects_corrupted_prior_count():
    claims = _claims(EXPECTED)
    i = next(i for i, c in enumerate(claims) if c[4] == 2)
    claims[i] = claims[i][:4] + (1,)
    assert any("prior_count" in p for p in oracle.check_claims(claims, EXPECTED))


def test_claims_checker_rejects_wrong_first_url_and_missing_rows():
    claims = _claims(EXPECTED)
    i = next(i for i, c in enumerate(claims) if c[4] == 1)
    claims[i] = claims[i][:3] + ("u9", 1)
    assert any("first_url" in p for p in oracle.check_claims(claims, EXPECTED))
    problems = oracle.check_claims(_claims(EXPECTED)[1:], EXPECTED)
    assert any("1 missing" in p for p in problems)


def test_span_self_time_subtracts_merged_clipped_children():
    spans = [
        Span("root", 0.0, 10.0),
        Span("a", 1.0, 3.0, parent=0),
        Span("b", 2.0, 5.0, parent=0),  # overlaps a: together they cover 1..5
        Span("c", 9.0, 12.0, parent=0),  # clipped to 9..10
        Span("grandchild", 6.0, 8.0, parent=1),  # not a direct child of root
    ]
    assert span_self_time(spans, 0) == pytest.approx(10.0 - 4.0 - 1.0)
    assert span_self_time(spans, 1) == pytest.approx(2.0)
    assert span_self_time(spans, 4) == pytest.approx(2.0)
    tracer = Tracer("t")
    tracer.spans = spans
    assert tracer.descendants(0) == {1, 2, 3, 4}
    assert tracer.descendants(1) == {4}
    table = {r["layer"]: r for r in tracer.layer_table()}
    assert table["root"]["self_s"] == pytest.approx(5.0)
    assert table["c"]["total_s"] == pytest.approx(3.0)


def _sizes(labels) -> list[int]:
    return sorted(np.unique([lab for lab in labels if lab is not None], return_counts=True)[1])


def test_templated_pages_are_seeded_and_clustered():
    a, labels = corpus.templated_pages(300, seed=5, max_cluster=40)
    b, _ = corpus.templated_pages(300, seed=5, max_cluster=40)
    c, other_labels = corpus.templated_pages(300, seed=6, max_cluster=40)
    assert a.equals(b) and len(a) == 300 and a["url"].is_unique
    assert not a.equals(c)
    assert _sizes(labels) == _sizes(other_labels)  # same planted pairs for every seed
    assert max(_sizes(labels)) <= 40
    assert sum(lab is not None for lab in labels) / len(labels) > 0.9
    assert corpus.templated_labels(list(a["url"])) == labels


def test_crawl_label_follows_synth_pages_layout():
    assert [corpus.crawl_label(f"https://site.example/{i}") for i in (0, 3, 4, 9, 13, 14)] == [
        0, 0, None, None, 1, None
    ]

