"""Breadth operators: forest top-k, ensemble containment, bloom filter,
weighted minhash, HLL, exact-substring pass, ANN."""

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from datasketch_spark.config import DedupConfig
from datasketch_spark.functions.hashing import sha1_hash32
from datasketch_spark.functions.minhash import make_signature_from_tokens_udf
from datasketch_spark.functions.weighted import (
    make_weighted_minhash_udf,
    weighted_jaccard_col,
    weighted_minhash_np,
    weighted_params,
)
from datasketch_spark.operators.ann import brute_force_topk, simhash_bucketed_pairs, cosine_pairs
from datasketch_spark.operators.bloom import LSHBloomFilter
from datasketch_spark.operators.ensemble import (
    EnsembleConfig,
    containment_query,
    ensemble_bands,
    size_partitions,
)
from datasketch_spark.operators.forest import ForestConfig, prefix_table, topk_query
from datasketch_spark.operators.hll import approx_distinct, hll_estimate, hll_merge_agg, hll_sketch
from datasketch_spark.operators.suffix import substring_dedup_edges, winnow_batch

TOKENS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("tokens", ArrayType(LongType()), False),
        StructField("set_size", IntegerType(), False),
    ]
)


def _abc_grams_df(spark):
    # reference test_lshforest.py:12-23 fixture: keys a..x, 3-char windows
    # of the alphabet starting at the key's position.
    alphabet = "abcdefghijklmnopqrstuvwxyz"
    rows = []
    for i in range(len(alphabet) - 2):
        grams = [alphabet[j : j + 3] for j in range(i, len(alphabet) - 2)]
        rows.append(
            (i, [sha1_hash32(g.encode()) for g in grams], len(grams))
        )
    return spark.createDataFrame(rows, TOKENS_SCHEMA)


def test_forest_self_recall_topk(spark):
    # Self-similarity: each key's own prefix table must put itself at
    # rank 1 when queried (reference test_lshforest.py:60-64 analogue,
    # here with self excluded -> check nearest neighbor is i±1 chain).
    fcfg = ForestConfig(num_perm=128, l_trees=8)
    df = _abc_grams_df(spark)
    udf = make_signature_from_tokens_udf(128, 1)
    sigs = df.withColumn("sig", udf("tokens")).select("doc_id", "sig")
    prefixes = prefix_table(sigs, fcfg)
    queries = sigs.withColumnRenamed("doc_id", "query_id")
    res = topk_query(prefixes, queries, sigs, fcfg, k=3)
    rows = res.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"]))
    # Every query gets results, and the top hit is an adjacent key (the
    # most-overlapping set by construction).
    assert len(by_q) == 24
    for q, hits in by_q.items():
        hits.sort()
        top = hits[0][1]
        assert abs(top - q) == 1, (q, hits)


def _near_dup_sigs(seed, n_clusters, n_members, flips_per_member):
    # n_clusters random base signatures, each with n_members copies; copy m
    # has flips_per_member * m slots redrawn.
    rng = np.random.RandomState(seed)
    base_sigs = rng.randint(0, 1 << 31, size=(n_clusters, 128))
    rows = []
    did = 0
    for c in range(n_clusters):
        for m in range(n_members):
            sig = base_sigs[c].copy()
            if m:
                n_flip = flips_per_member * m
                flip = rng.choice(128, size=n_flip, replace=False)
                sig[flip] = rng.randint(0, 1 << 31, size=n_flip)
            rows.append((did, [int(x) for x in sig]))
            did += 1
    return rows


def _brute_force_topk(rows, queries, k):
    # Full enumeration with topk_query's total order (best_depth desc,
    # est_jaccard desc, doc_id asc) over 8 trees of 16 slots.
    sigs = dict(rows)
    expected = {}
    for q in queries:
        scored = []
        for d, s in sigs.items():
            if d == q:
                continue
            eq = [a == b for a, b in zip(sigs[q], s)]
            best = 0
            for t in range(8):
                run = 0
                for v in eq[t * 16 : (t + 1) * 16]:
                    if not v:
                        break
                    run += 1
                best = max(best, run)
            if best < 1:
                continue
            scored.append((-best, -sum(eq) / 128.0, d))
        scored.sort()
        for rank, (nb, ne, d) in enumerate(scored[:k], start=1):
            expected[(q, rank)] = (d, -nb, -ne)
    return expected


def _forest_topk_rows(spark, rows, query_every, k, diagnostics=None):
    sig_df = spark.createDataFrame(rows, "doc_id long, sig array<bigint>")
    fcfg = ForestConfig(num_perm=128, l_trees=8)
    prefixes = prefix_table(sig_df, fcfg)
    queries = sig_df.where(f"doc_id % {query_every} = 0").withColumnRenamed(
        "doc_id", "query_id"
    )
    res = topk_query(prefixes, queries, sig_df, fcfg, k=k, diagnostics=diagnostics)
    got = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["best_depth"], r["est_jaccard"])
        for r in res.collect()
    }
    return got, prefixes


def test_forest_deepening_equals_full_enumeration_and_prunes(spark):
    # Self-similar corpus (8 clusters x 6 near-identical sigs): iterative
    # deepening must return EXACTLY the full-enumeration top-k (the early
    # exit only skips pairs that cannot outrank the accumulated ones) while
    # generating far fewer candidate rows than the all-pairs depth-1 join.
    rows = _near_dup_sigs(11, 8, 6, 1)
    diag = {}
    got, prefixes = _forest_topk_rows(spark, rows, 6, 5, diagnostics=diag)
    assert got == _brute_force_topk(rows, range(0, 48, 6), 5)
    # Pruning: every query satisfies at a deep round (cluster-mates match
    # at or near full depth), so the hot shallow buckets are never probed —
    # retired queries make the later rounds' joins empty.
    n_all_pairs = 8 * 47
    assert diag["candidate_rows"] < n_all_pairs / 2, diag
    # The deep depths share a round: [[16, 4], [2], [1]].
    assert len(diag["rounds"]) == 3, diag
    # Index storage holds only the probed depths [16, 4, 2, 1]: l_trees * 4
    # rows per doc (32), not num_perm (128).
    assert prefixes.count() == 48 * 8 * 4

    # Two 6 x 5 corpora in one call. With 3*m slots redrawn, cluster-mates
    # still share full-depth prefixes and every query retires in the deep
    # round. With 24*m, mates share only shallow prefixes, so the depth-2
    # and depth-1 rounds add rows too, and each band must still tile into
    # the full-enumeration top-k.
    rows = _near_dup_sigs(23, 6, 5, 3) + [
        (d + 30, s) for d, s in _near_dup_sigs(29, 6, 5, 24)
    ]
    diag = {}
    got, _ = _forest_topk_rows(spark, rows, 5, 4, diagnostics=diag)
    assert got == _brute_force_topk(rows, range(0, 60, 5), 4)
    cumulative = [r["cumulative_rows"] for r in diag["rounds"]]
    assert cumulative[0] < cumulative[1] < cumulative[2], diag


def test_ensemble_self_containment(spark):
    # reference test_lshensemble.py:24-44: sets {0..size-1}; querying each
    # indexed set with itself (containment 1.0) must return the key.
    rng = np.random.RandomState(5)
    rows = []
    for i in range(64):
        size = int(rng.randint(1, 100))
        toks = [sha1_hash32(str(v).encode()) for v in range(size)]
        rows.append((i, toks, size))
    df = spark.createDataFrame(rows, TOKENS_SCHEMA)
    udf = make_signature_from_tokens_udf(128, 1)
    sigs = df.withColumn("sig", udf("tokens")).select("doc_id", "sig", "set_size")
    ecfg = EnsembleConfig(threshold=0.8, num_perm=128, num_part=8, m=8)
    parts = size_partitions(sigs, ecfg)
    assert parts[0][0] <= parts[-1][1]
    bands = ensemble_bands(sigs, ecfg, parts)
    queries = sigs.select(
        F.col("doc_id").alias("query_id"), "sig", "set_size"
    )
    res = containment_query(bands, queries, ecfg, parts)
    got = {(r["query_id"], r["doc_id"]) for r in res.collect()}
    for i in range(64):
        assert (i, i) in got, f"key {i} not self-returned"


def test_ensemble_band_pruning_equivalent_and_smaller(spark):
    # Reachability pruning (ratio ceiling + first-b-bands cap) must shrink
    # the index without changing any query result.
    from datasketch_spark.operators.ensemble import reachable_bands_per_partition

    rng = np.random.RandomState(9)
    rows = []
    for i in range(40):
        size = int(rng.randint(1, 80))
        toks = [sha1_hash32(str(v).encode()) for v in range(size)]
        rows.append((i, toks, size))
    df = spark.createDataFrame(rows, TOKENS_SCHEMA)
    udf = make_signature_from_tokens_udf(128, 1)
    sigs = df.withColumn("sig", udf("tokens")).select("doc_id", "sig", "set_size")
    ecfg = EnsembleConfig(threshold=0.8, num_perm=128, num_part=4, m=8)
    parts = size_partitions(sigs, ecfg)
    pruned = ensemble_bands(sigs, ecfg, parts)
    full = ensemble_bands(sigs, ecfg, parts, prune_unreachable=False)
    n_pruned, n_full = pruned.count(), full.count()
    assert n_pruned < n_full, (n_pruned, n_full)
    # At this config r=8 is only reachable with b=1: 15 of its 16 bands
    # are dead rows in the unpruned index.
    for b_max in reachable_bands_per_partition(ecfg, parts):
        assert b_max.get(8, 0) <= 1
    queries = sigs.select(F.col("doc_id").alias("query_id"), "sig", "set_size")
    got_p = {
        (r["query_id"], r["doc_id"])
        for r in containment_query(pruned, queries, ecfg, parts).collect()
    }
    got_f = {
        (r["query_id"], r["doc_id"])
        for r in containment_query(full, queries, ecfg, parts).collect()
    }
    assert got_p == got_f


def test_ensemble_size0_query_rows_dropped(spark):
    # A size-0 query row (ratio = Infinity) must yield no candidates from
    # either a pruned or an unpruned index — not silently probe bands the
    # pruned index never materialized.
    rng = np.random.RandomState(13)
    rows = []
    for i in range(20):
        size = int(rng.randint(1, 60))
        toks = [sha1_hash32(str(v).encode()) for v in range(size)]
        rows.append((i, toks, size))
    df = spark.createDataFrame(rows, TOKENS_SCHEMA)
    udf = make_signature_from_tokens_udf(128, 1)
    sigs = df.withColumn("sig", udf("tokens")).select("doc_id", "sig", "set_size")
    ecfg = EnsembleConfig(threshold=0.8, num_perm=128, num_part=4, m=8)
    parts = size_partitions(sigs, ecfg)
    queries = sigs.select(
        F.col("doc_id").alias("query_id"), "sig", "set_size"
    ).withColumn(
        "set_size", F.when(F.col("query_id") == 0, F.lit(0)).otherwise(F.col("set_size"))
    )
    got_p = {
        (r["query_id"], r["doc_id"])
        for r in containment_query(
            ensemble_bands(sigs, ecfg, parts), queries, ecfg, parts
        ).collect()
    }
    got_f = {
        (r["query_id"], r["doc_id"])
        for r in containment_query(
            ensemble_bands(sigs, ecfg, parts, prune_unreachable=False),
            queries,
            ecfg,
            parts,
        ).collect()
    }
    assert got_p == got_f
    assert not any(q == 0 for q, _ in got_p)


def test_ivf_train_rejects_empty_or_zero_corpus(spark):
    from datasketch_spark.operators.ann import train_ivf_centroids

    zeros = spark.createDataFrame(
        [(i, [0.0, 0.0, 0.0]) for i in range(5)], ["vec_id", "embedding"]
    )
    with pytest.raises(ValueError, match="non-zero vectors"):
        train_ivf_centroids(zeros, n_lists=2)
    empty = zeros.where("vec_id < 0")
    with pytest.raises(ValueError, match="non-zero vectors"):
        train_ivf_centroids(empty, n_lists=2)


def _dp_histograms():
    """(trial, num_part, sizes, counts): random skewed size histograms, the
    inputs of the reference-DP parity test and its golden twin."""
    rng = np.random.RandomState(11)
    for trial in range(6):
        n = int(rng.randint(8, 40))
        sizes = np.unique(rng.randint(1, 500, size=n)).astype(np.float64)
        counts = rng.randint(1, 1000, size=len(sizes)).astype(np.float64)
        for num_part in (3, 5):
            if num_part <= len(sizes):
                yield trial, num_part, sizes, counts


def _total_nfp(parts, sizes, counts):
    total = 0.0
    for lo, hi in parts:
        mask = (sizes >= lo) & (sizes <= hi)
        if mask.any():
            u = float(sizes[mask][-1])
            total += float(np.sum(counts[mask] * (u - sizes[mask]) / u))
    return total


def test_optimal_partitions_matches_reference_dp():
    # Parity with the reference DP's OBJECTIVE (lshensemble_partition.py):
    # import the reference MODULE (numpy-only, no package __init__) and
    # check on random skewed histograms that our boundaries achieve exactly
    # the optimal total NFP the reference itself computes (total_nfps).
    # Boundary-for-boundary equality is NOT asserted: the reference's
    # backtrack reads the wrong DP layer (cost[u1, p2i(p)] where its
    # forward recurrence uses p2i(p-1)) and reconstructs strictly
    # suboptimal boundaries on most instances — see the divergence note in
    # operators/ensemble.py::optimal_partitions.
    from tests.refload import load_reference_module

    from datasketch_spark.operators.ensemble import optimal_partitions

    ref = load_reference_module("lshensemble_partition")

    n_strictly_better = 0
    for trial, num_part, sizes, counts in _dp_histograms():
        got = optimal_partitions(sizes, counts, num_part)
        assert len(got) == num_part
        # Contiguous cover of the domain.
        assert got[0][0] == int(sizes[0]) and got[-1][1] == int(sizes[-1])
        nfps = ref._compute_nfps_real(counts, sizes)
        ref_parts, claimed_opt, _ = ref._compute_best_partitions(
            num_part, sizes, nfps
        )
        ours = _total_nfp(got, sizes, counts)
        theirs = _total_nfp(ref_parts, sizes, counts)
        assert abs(ours - claimed_opt) < 1e-9, (trial, num_part, ours, claimed_opt)
        assert ours <= theirs + 1e-9
        if ours < theirs - 1e-9:
            n_strictly_better += 1
    # The reference backtrack bug manifests on these seeds; if this stops
    # holding the reference was fixed and boundary equality can be asserted.
    assert n_strictly_better > 0


def test_optimal_partitions_objective_golden():
    # Runs without the reference checkout: pins this package's optimal
    # total NFP on the parity test's histograms.
    from datasketch_spark.operators.ensemble import optimal_partitions

    got = {}
    for trial, num_part, sizes, counts in _dp_histograms():
        parts = optimal_partitions(sizes, counts, num_part)
        assert len(parts) == num_part
        assert parts[0][0] == int(sizes[0]) and parts[-1][1] == int(sizes[-1])
        got[trial, num_part] = _total_nfp(parts, sizes, counts)
    assert got == pytest.approx(
        {
            (0, 3): 3053.3860658779427,
            (0, 5): 1822.4830127183645,
            (1, 3): 3640.539408808584,
            (1, 5): 2234.444362104185,
            (2, 3): 640.1844577854012,
            (2, 5): 165.41202795212882,
            (3, 3): 3571.387124555442,
            (3, 5): 2008.2371441578653,
            (4, 3): 3060.861007846588,
            (4, 5): 1497.2220753639785,
            (5, 3): 686.4751110500883,
            (5, 5): 198.0785205960011,
        },
        abs=1e-9,
    )


def test_ensemble_optimal_partitions_pipeline(spark):
    # The DP partitioner slots into the same ensemble pipeline; self-query
    # containment = 1.0 must still return every key.
    from datasketch_spark.operators.ensemble import optimal_size_partitions

    rng = np.random.RandomState(9)
    rows = []
    for i in range(48):
        size = int(rng.randint(1, 120))
        toks = [sha1_hash32(str(v).encode()) for v in range(size)]
        rows.append((i, toks, size))
    df = spark.createDataFrame(rows, TOKENS_SCHEMA)
    udf = make_signature_from_tokens_udf(128, 1)
    sigs = df.withColumn("sig", udf("tokens")).select("doc_id", "sig", "set_size")
    ecfg = EnsembleConfig(threshold=0.8, num_perm=128, num_part=6, m=8)
    parts = optimal_size_partitions(sigs, ecfg)
    assert len(parts) <= 6 and parts[0][0] <= parts[-1][1]
    bands = ensemble_bands(sigs, ecfg, parts)
    queries = sigs.select(F.col("doc_id").alias("query_id"), "sig", "set_size")
    res = containment_query(bands, queries, ecfg, parts)
    got = {(r["query_id"], r["doc_id"]) for r in res.collect()}
    for i in range(48):
        assert (i, i) in got, f"key {i} not self-returned"


def test_bloom_prefilter(spark):
    cfg = DedupConfig(threshold=0.5)
    rng = np.random.RandomState(3)
    rows = []
    for i in range(60):
        toks = [sha1_hash32(f"{i}-{j}".encode()) for j in range(30)]
        rows.append((i, toks, 30))
    df = spark.createDataFrame(rows, TOKENS_SCHEMA)
    udf = make_signature_from_tokens_udf(128, 1)
    sigs = df.withColumn("sig", udf("tokens")).select("doc_id", "sig")
    bloom = LSHBloomFilter(sigs, cfg)
    # Members must all hit (no false negatives).
    marked = bloom.mark_candidates(sigs)
    assert marked.where("NOT maybe_dup").count() == 0
    # Novel sets should mostly miss.
    novel = spark.createDataFrame(
        [
            (1000 + i, [sha1_hash32(f"novel{i}-{j}".encode()) for j in range(30)], 30)
            for i in range(40)
        ],
        TOKENS_SCHEMA,
    )
    nsigs = novel.withColumn("sig", udf("tokens")).select("doc_id", "sig")
    nmarked = bloom.mark_candidates(nsigs)
    assert nmarked.where("maybe_dup").count() <= 4  # fpp slack


def test_bloom_sharded_build_semantics(spark):
    # The sharded build (one applyInPandas task per (band, shard)) must be
    # semantically identical to a single-shard filter, and no driver-bound
    # row may exceed the shard bitmap size (the r1 scale-killer was a
    # corpus-sized bitmap per input partition).
    from datasketch_spark.operators.bloom import _SHARD_MAX_BITS

    cfg = DedupConfig(threshold=0.5)
    rows = [
        (i, [sha1_hash32(f"s{i}-{j}".encode()) for j in range(25)], 25)
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, TOKENS_SCHEMA)
    udf = make_signature_from_tokens_udf(128, 1)
    sigs = df.withColumn("sig", udf("tokens")).select("doc_id", "sig")
    bloom = LSHBloomFilter(sigs, cfg, n_shards=4)
    assert bloom.n_shards == 4
    # Every shard bitmap is bounded (driver transfer unit), never
    # corpus-sized.
    for band_filters in bloom.filters:
        for bl in band_filters:
            assert bl.bits.nbytes <= _SHARD_MAX_BITS // 8
    # No false negatives through the sharded path.
    marked = bloom.mark_candidates(sigs)
    assert marked.where("NOT maybe_dup").count() == 0
    # Novel keys mostly miss (fpp-level slack).
    novel = spark.createDataFrame(
        [
            (900 + i, [sha1_hash32(f"x{i}-{j}".encode()) for j in range(25)], 25)
            for i in range(40)
        ],
        TOKENS_SCHEMA,
    )
    nsigs = novel.withColumn("sig", udf("tokens")).select("doc_id", "sig")
    assert bloom.mark_candidates(nsigs).where("maybe_dup").count() <= 4


def test_weighted_minhash_vectorized_matches_reference_loop(spark):
    dim, sample_size, seed = 20, 64, 1
    rs, ln_cs, betas = weighted_params(dim, sample_size, seed)
    rng = np.random.RandomState(2)
    v = rng.uniform(1, 10, size=dim).astype(np.float32)
    v[3] = 0.0
    # Reference per-sample loop (weighted_minhash.py:146-158), re-derived.
    vv = v.copy()
    vv[vv == 0] = np.nan
    vlog = np.log(vv)
    expected = np.zeros((sample_size, 2), dtype=int)
    for i in range(sample_size):
        t = np.floor((vlog / rs[i]) + betas[i])
        ln_y = (t - betas[i]) * rs[i]
        ln_a = ln_cs[i] - ln_y - rs[i]
        k = int(np.nanargmin(ln_a))
        expected[i] = (k, int(t[k]))
    got = weighted_minhash_np(v, rs, ln_cs, betas)
    assert (got == expected).all()


def test_weighted_minhash_udf_and_jaccard(spark):
    dim = 30
    rng = np.random.RandomState(4)
    base = rng.uniform(1, 10, size=dim).astype(float)
    similar = base.copy()
    similar[:3] *= 1.5
    different = rng.uniform(1, 10, size=dim).astype(float)
    schema = StructType(
        [
            StructField("vid", LongType(), False),
            StructField("vec", ArrayType(FloatType()), False),
        ]
    )
    df = spark.createDataFrame(
        [(0, base.tolist()), (1, similar.tolist()), (2, different.tolist())],
        schema,
    )
    udf = make_weighted_minhash_udf(dim, sample_size=128, seed=1)
    w = df.withColumn("wmh", udf("vec"))
    rows = {r["vid"]: r["wmh"] for r in w.collect()}
    assert all(len(v) == 128 for v in rows.values())
    pair = (
        w.where("vid=0").select(F.col("wmh").alias("w1"))
        .crossJoin(w.where("vid=1").select(F.col("wmh").alias("w2")))
        .select(weighted_jaccard_col("w1", "w2").alias("j"))
        .collect()[0]["j"]
    )
    pair_diff = (
        w.where("vid=0").select(F.col("wmh").alias("w1"))
        .crossJoin(w.where("vid=2").select(F.col("wmh").alias("w2")))
        .select(weighted_jaccard_col("w1", "w2").alias("j"))
        .collect()[0]["j"]
    )
    assert pair > pair_diff  # similar vectors estimate higher


def test_hll_wrappers(spark):
    df = spark.range(5000).select(
        F.concat(F.lit("a-"), F.col("id"), F.lit("-"), F.col("id")).alias("val"),
        (F.col("id") % 2).alias("g"),
    )
    est = df.agg(approx_distinct("val", p=12).alias("e")).collect()[0]["e"]
    assert abs(est - 5000) / 5000 < 0.05
    # Mergeable sketch path: union of per-group sketches ~= global.
    sketches = df.groupBy("g").agg(hll_sketch("val", p=12).alias("sk"))
    merged = sketches.agg(
        hll_estimate(hll_merge_agg("sk")).alias("e")
    ).collect()[0]["e"]
    assert abs(merged - 5000) / 5000 < 0.05


def test_winnow_guarantee():
    rng = np.random.RandomState(0)
    data = rng.randint(0, 256, size=500 + 50 - 1).astype(np.uint8)  # 500 grams
    _, _, pos = winnow_batch(data, [0, len(data)], 50, 40)
    # Every window of 40 consecutive grams contains a selected position.
    for start in range(0, 500 - 40 + 1):
        assert ((pos >= start) & (pos < start + 40)).any()


def test_substring_pass_finds_planted_long_match(spark):
    rng = np.random.RandomState(1)
    letters = "abcdefghijklmnopqrstuvwxyz "
    def rand_text(n):
        return "".join(letters[i] for i in rng.randint(0, len(letters), size=n))
    shared = rand_text(200)
    docs = [
        (0, rand_text(300) + shared + rand_text(100)),
        (1, rand_text(150) + shared + rand_text(250)),
        (2, rand_text(600)),
        (3, rand_text(50)),  # shorter than k
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    edges = substring_dedup_edges(df, k=50, w=40).collect()
    pairs = {(r["a"], r["b"]): r["match_len"] for r in edges}
    assert (0, 1) in pairs
    assert pairs[(0, 1)] >= 200
    assert all(p == (0, 1) for p in pairs)


def test_ann_topk_and_simhash_recall(spark):
    rng = np.random.RandomState(7)
    # 3 well-separated gaussian clusters of vectors.
    centers = rng.normal(size=(3, 32)) * 5
    rows = []
    for i in range(90):
        c = i % 3
        v = centers[c] + rng.normal(size=32) * 0.05
        rows.append((i, [float(x) for x in v]))
    schema = StructType(
        [
            StructField("vec_id", LongType(), False),
            StructField("embedding", ArrayType(FloatType()), False),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    topk = brute_force_topk(df, df.where("vec_id < 6"), k=5)
    for r in topk.collect():
        assert r["query_id"] % 3 == r["neighbor_id"] % 3  # same cluster
    exact = {
        (r["a"], r["b"])
        for r in cosine_pairs(df, min_sim=0.99).collect()
    }
    approx = {
        (r["a"], r["b"])
        for r in simhash_bucketed_pairs(df, min_sim=0.99, n_bits=8, n_tables=6).collect()
    }
    assert approx <= exact
    assert len(approx) >= 0.9 * len(exact)  # high recall on tight clusters


_HLL_WORDS = [f"word-{i}" for i in range(3000)] + ["word-0", "word-1"]


def _hll_md5_estimate(spark) -> float:
    from datasketch_spark.operators.hll import hll_count_reference, md5_hash32_col

    df = spark.createDataFrame([(w,) for w in _HLL_WORDS], ["word"])
    return hll_count_reference(
        df, "word", p=8, hash32=md5_hash32_col("word")
    ).collect()[0]["hll_estimate"]


def test_hll_count_reference_parity(spark):
    # The Spark-native reference-parity estimator vs the ACTUAL reference
    # HyperLogLog object, same custom md5-based 32-bit hashfunc, same
    # values: estimates must agree to float precision.
    import hashlib

    from tests.refload import load_reference_module

    ref_hll_mod = load_reference_module("hyperloglog")

    def md5_hash32(b: bytes) -> int:
        return int(hashlib.md5(b).hexdigest()[:8], 16)

    ref = ref_hll_mod.HyperLogLog(p=8, hashfunc=md5_hash32)
    for w in _HLL_WORDS:
        ref.update(w.encode())
    expected = ref.count()

    got = _hll_md5_estimate(spark)
    assert abs(got - float(expected)) < 1e-9, (got, expected)


def test_hll_count_reference_golden(spark):
    # Runs without the reference checkout: pins this package's estimate on
    # the parity test's values.
    assert _hll_md5_estimate(spark) == pytest.approx(2851.963303571345, abs=1e-9)


def test_hll_count_reference_empty_input(spark):
    # Empty input -> empty register table -> linear counting m*ln(m/m) = 0.0
    # (reference fresh-sketch behavior); the harmonic sum coalesces to 0.
    from datasketch_spark.operators.hll import hll_count_reference

    empty = spark.createDataFrame([], "word string")
    got = hll_count_reference(empty, "word", p=8).collect()
    assert len(got) == 1 and got[0]["hll_estimate"] == 0.0


def test_ivf_topk_full_probe_equals_brute_force(spark):
    # With n_probe == n_lists every list is scored, so IVF must reproduce
    # the exact brute-force output (same rounding + tie rules).
    from datasketch_spark.operators.ann import ivf_topk, train_ivf_centroids

    rng = np.random.RandomState(12)
    n, dim = 200, 16
    pts = rng.normal(size=(n, dim))
    df = spark.createDataFrame(
        [(i, pts[i].tolist()) for i in range(n)], ["vec_id", "embedding"]
    )
    q = df.where("vec_id < 15")
    got = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["sim"])
        for r in ivf_topk(df, q, k=5, n_lists=8, n_probe=8).collect()
    )
    want = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["sim"])
        for r in brute_force_topk(df, q, k=5).collect()
    )
    assert got == want
    # Deterministic training: same data -> bit-identical centroids.
    c1 = train_ivf_centroids(df, 8)
    c2 = train_ivf_centroids(df, 8)
    assert np.array_equal(c1, c2)
    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0)


def test_ivf_topk_partial_probe_recall(spark):
    # Clustered corpus: probing 3 of 10 lists must still recover almost all
    # true neighbors (the IVF contract: neighbors live in nearby lists).
    from datasketch_spark.operators.ann import ivf_topk

    rng = np.random.RandomState(13)
    centers = rng.normal(size=(10, 24)) * 8.0
    pts = np.vstack([c + rng.normal(size=(30, 24)) for c in centers])
    df = spark.createDataFrame(
        [(i, pts[i].tolist()) for i in range(len(pts))], ["vec_id", "embedding"]
    )
    q = df.where("vec_id % 30 = 7")
    approx = ivf_topk(df, q, k=5, n_lists=10, n_probe=3).collect()
    exact = brute_force_topk(df, q, k=5).collect()
    truth: dict = {}
    for r in exact:
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    got: dict = {}
    for r in approx:
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [
        len(truth[qid] & got.get(qid, set())) / len(truth[qid]) for qid in truth
    ]
    assert np.mean(recalls) >= 0.9, recalls


def test_forest_excludes_empty_signatures(spark):
    # Never-updated (all-MAX_HASH) signatures would form one full-depth
    # m^2 bucket per tree; like lsh.bands_table, prefix_table drops them
    # and empty docs simply get no forest results.
    from datasketch_spark.functions.hashing import MAX_HASH

    rng = np.random.RandomState(14)
    rows = [(i, [int(x) for x in rng.randint(0, 1 << 31, 128)]) for i in range(6)]
    empty_sig = [int(MAX_HASH)] * 128
    rows += [(100 + j, list(empty_sig)) for j in range(3)]
    sig_df = spark.createDataFrame(rows, "doc_id long, sig array<bigint>")
    fcfg = ForestConfig(num_perm=128, l_trees=8)
    prefixes = prefix_table(sig_df, fcfg)
    keys = {r["doc_id"] for r in prefixes.select("doc_id").distinct().collect()}
    assert keys == set(range(6))
    res = topk_query(
        prefixes,
        sig_df.withColumnRenamed("doc_id", "query_id"),
        sig_df,
        fcfg,
        k=3,
    )
    got = {(r["query_id"], r["doc_id"]) for r in res.collect()}
    assert not any(q >= 100 or d >= 100 for q, d in got), got
