"""Physical-plan budget tests: shuffles, pushdown, Python-boundary count.

These pin the plan shape the engine promises at scale; adding an
accidental Exchange or a second Python eval node fails here, not on the
cluster.
"""

from pyspark.sql import functions as F

from datasketch_spark.config import DedupConfig
from datasketch_spark.operators import lsh
from datasketch_spark.operators.verify import verify_pairs_est, verify_pairs_exact_text
from datasketch_spark.plans.inspect import (
    jobs_run,
    plan_str,
    pushed_filters,
    python_eval_count,
    scan_read_schemas,
    shuffle_count,
)
from datasketch_spark.sources.io import NoopCheckpoints, local_checkpoint, spread


def test_signature_stage_single_python_boundary(spark):
    df = spark.createDataFrame([(1, "hello world " * 10)], ["doc_id", "text"])
    cfg = DedupConfig(threshold=0.8)
    sigs = lsh.with_signature(df, cfg)
    assert python_eval_count(sigs) == 1
    # Banding adds NO further Python boundary and NO shuffle.
    bands = lsh.bands_table(sigs, cfg)
    assert python_eval_count(bands) == 1
    assert shuffle_count(bands) == 0


def _assert_cap_filters_before_collect(df):
    # The bucket cap is a Filter directly over the window count, and every
    # collect_list aggregate sits above it: an over-cap bucket never
    # reaches a member list.
    lines = plan_str(df, "simple").splitlines()
    windows = [i for i, line in enumerate(lines) if "Window [count(1)" in line]
    assert len(windows) == 1, "no cap window in the plan"
    window = windows[0]
    assert "Filter" in lines[window - 1] and "<=" in lines[window - 1], lines[window - 1]
    collects = [i for i, line in enumerate(lines) if "collect_list" in line]
    assert collects and max(collects) < window - 1


def test_candidate_pairs_shuffle_budget(spark):
    df = spark.createDataFrame(
        [(i, f"text number {i} " * 10) for i in range(10)], ["doc_id", "text"]
    )
    cfg = DedupConfig(threshold=0.8)
    bands = lsh.bands_table(lsh.with_signature(df, cfg), cfg)
    pairs = lsh.candidate_pairs(bands, cfg)
    # The bucket Exchange (shared by the cap's window count and the
    # collect_list groupBy) and the final distinct; no pre-pass, no join.
    assert shuffle_count(pairs) == 2
    assert "BroadcastExchange" not in plan_str(pairs, "simple")
    _assert_cap_filters_before_collect(pairs)


def test_parquet_pushdown_and_pruning(spark, tmp_path):
    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"t{i}", "en" if i % 2 else "de", i * 10) for i in range(100)],
        ["doc_id", "text", "lang", "n_chars"],
    ).write.parquet(path)
    df = (
        spark.read.parquet(path)
        .where(F.col("lang") == "en")
        .select("doc_id", "text")
    )
    pf = pushed_filters(df)
    assert pf and any("lang" in f for f in pf), pf
    schemas = scan_read_schemas(df)
    # Column pruning: n_chars must not be read.
    assert schemas and all("n_chars" not in s for s in schemas), schemas


def test_simhash_real_dim_single_python_boundary(spark):
    # r1 scale hazard: the expression-based SimHash inlined n_bits x dim
    # literals (dim 768 x 16 bits x 4 tables ~ 49k plan nodes). The UDF path
    # must carry exactly ONE Python boundary and an O(1)-size plan at real
    # embedding dims.
    import numpy as np

    from datasketch_spark.operators.ann import simhash_bucketed_pairs

    rng = np.random.RandomState(0)
    dim = 768
    base = rng.normal(size=(6, dim))
    rows = []
    for i in range(6):
        rows.append((2 * i, (base[i] / np.linalg.norm(base[i])).tolist()))
        near = base[i] + rng.normal(scale=1e-4, size=dim)
        rows.append((2 * i + 1, (near / np.linalg.norm(near)).tolist()))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = simhash_bucketed_pairs(df, min_sim=0.999, n_bits=16, n_tables=4)
    assert python_eval_count(pairs) == 1
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    # Every planted near-identical pair collides in some table and verifies.
    assert {(2 * i, 2 * i + 1) for i in range(6)} <= got


def test_verify_stage_stays_jvm_side(spark):
    df = spark.createDataFrame(
        [(i, f"text number {i} " * 10) for i in range(10)], ["doc_id", "text"]
    )
    cfg = DedupConfig(threshold=0.8)
    sigs = lsh.with_signature(df, cfg).localCheckpoint(eager=True)
    bands = lsh.bands_table(sigs, cfg)
    pairs = lsh.candidate_pairs(bands, cfg)
    verified = verify_pairs_est(pairs, sigs, cfg)
    # After checkpointed signatures, verification is pure JVM: zero Python
    # eval nodes (jaccard is zip_with/aggregate expressions).
    assert python_eval_count(verified) == 0
    assert "zip_with" in plan_str(verified, "simple") or "ZipWith" in plan_str(
        verified, "formatted"
    )
    # Exact verification is native too: array_intersect over byte shingles.
    assert python_eval_count(verify_pairs_exact_text(pairs, df, cfg)) == 0


def test_bucketed_bands_elide_groupby_shuffles(spark, tmp_path):
    # The scale contract stated in lsh.bands_table's docstring, made
    # checkable: writing the bands table bucketed by band_hash makes the
    # candidate_pairs/bucket_histogram groupBys reuse the scan's
    # distribution — their shuffles disappear from the physical plan.
    from datasketch_spark.config import DedupConfig
    from datasketch_spark.operators.lsh import (
        bands_table,
        bucket_histogram,
        candidate_pairs,
        with_signature,
    )
    from datasketch_spark.plans.inspect import shuffle_count
    from datasketch_spark.sources.io import write_bucketed

    cfg = DedupConfig(threshold=0.5)
    docs = spark.createDataFrame(
        [(i, f"some shared words plus token{i} and token{i % 7}") for i in range(60)],
        "doc_id long, text string",
    )
    bands = bands_table(with_signature(docs, cfg), cfg)
    spark.sql("DROP TABLE IF EXISTS bands_bucketed_test")
    bucketed = write_bucketed(
        bands,
        "bands_bucketed_test",
        bucket_cols=["band_hash"],
        n_buckets=8,
        sort_cols=["band_hash"],
        path=str(tmp_path / "bands_bucketed"),
    )
    try:
        for op in (bucket_histogram, lambda b: candidate_pairs(b, cfg)):
            plain_shuffles = shuffle_count(op(bands))
            bucketed_shuffles = shuffle_count(op(bucketed))
            assert bucketed_shuffles < plain_shuffles, (
                plain_shuffles,
                bucketed_shuffles,
            )
        # Same results either way.
        a = {tuple(r) for r in candidate_pairs(bands, cfg).collect()}
        b = {tuple(r) for r in candidate_pairs(bucketed, cfg).collect()}
        assert a == b and a
    finally:
        spark.sql("DROP TABLE IF EXISTS bands_bucketed_test")


class _NoCheckpoint(NoopCheckpoints):
    """Leaves the signature table un-checkpointed so its own plan shows."""

    def materialize(self, df, stage):
        return df


def _docs_parquet(spark, path, n_files):
    spark.createDataFrame(
        [(i, f"shared words here plus token{i % 9} and more") for i in range(40)],
        "doc_id long, text string",
    ).repartition(n_files).write.parquet(path)
    return spark.read.parquet(path)


def test_signature_table_spreads_single_partition_input(spark, tmp_path):
    docs = _docs_parquet(spark, str(tmp_path / "one"), 1)
    sigs = lsh.signature_table(docs, DedupConfig(threshold=0.5), checkpoints=_NoCheckpoint())
    plan = plan_str(sigs, "simple")
    # Exactly one exchange, a round-robin one, below (before) the UDF.
    assert shuffle_count(sigs) == 1
    assert plan.count("RoundRobinPartitioning") == 1
    assert plan.index("ArrowEvalPython") < plan.index("RoundRobinPartitioning")


def test_signature_table_leaves_wide_input_alone(spark, tmp_path):
    n = spark.sparkContext.defaultParallelism
    docs = _docs_parquet(spark, str(tmp_path / "wide"), n)
    sigs = lsh.signature_table(docs, DedupConfig(threshold=0.5), checkpoints=_NoCheckpoint())
    assert shuffle_count(sigs) == 0
    assert python_eval_count(sigs) == 1


def test_spread_decision_runs_no_job(spark, tmp_path):
    docs = _docs_parquet(spark, str(tmp_path / "one"), 1)
    shuffled = docs.repartition(2).select("doc_id", "text")  # adaptive plan

    def spread_all():
        for df in (docs, shuffled, spread(docs), spread(shuffled)):
            spread(df)

    assert jobs_run(spark, spread_all) == 0


def test_building_key_tables_runs_no_job(spark):
    # The empty-signature keys these tables exclude constant-fold, and the
    # SimHash UDF reads the embedding width from its batches: building any
    # of them is plan construction only.
    from datasketch_spark.operators.ann import simhash_bucketed_pairs
    from datasketch_spark.operators.forest import ForestConfig, prefix_table

    sigs = spark.createDataFrame([(1, list(range(128)))], "doc_id long, sig array<bigint>")
    vecs = spark.createDataFrame([(1, [1.0, 0.5])], "vec_id long, embedding array<double>")
    builds = {
        "bands_table": lambda: lsh.bands_table(sigs, DedupConfig(params=(7, 11))),
        "prefix_table": lambda: prefix_table(sigs, ForestConfig(128, 4)),
        "simhash_bucketed_pairs": lambda: simhash_bucketed_pairs(vecs, 0.9),
    }
    assert {name: jobs_run(spark, b) for name, b in builds.items()} == dict.fromkeys(
        builds, 0
    )


def test_connected_components_job_budget(spark):
    # Each round's edges are a lazy local_checkpoint that the round's
    # fingerprint collect materializes: cutting lineage adds no job.
    from datasketch_spark.operators.components import connected_components

    edges = spark.createDataFrame([(i, i + 1) for i in range(40)], ["u", "v"])
    assert jobs_run(spark, lambda: connected_components(edges)) == 64


def test_dedup_pipeline_job_budget(spark):
    # One small in-memory pipeline call through the collect of its
    # clusters. Its stage cuts are lazy local checkpoints, so a stage that
    # starts paying a job of its own fails here.
    from datasketch_spark.operators.dedup import dedup_pipeline
    from datasketch_spark.sources.pages import synth_pages

    pages = local_checkpoint(synth_pages(spark, 200, seed=3))
    pages.count()  # the input's own job stays out of the budget
    cfg = DedupConfig(threshold=0.8)
    assert jobs_run(spark, lambda: dedup_pipeline(pages, cfg)["clusters"].collect()) == 9
    exact = DedupConfig(threshold=0.8, verify_mode="exact")
    assert jobs_run(spark, lambda: dedup_pipeline(pages, exact)["clusters"].collect()) == 10


def test_signature_table_evaluates_udf_once_for_every_consumer(spark):
    cfg = DedupConfig(threshold=0.5)
    docs = spark.createDataFrame(
        [(i, f"shared words here plus token{i % 9} and more") for i in range(40)],
        "doc_id long, text string",
    )
    sigs = lsh.signature_table(docs, cfg)
    pairs = lsh.candidate_pairs(lsh.bands_table(sigs, cfg), cfg)
    verified = verify_pairs_est(pairs, sigs, cfg)
    # Two consumers (banding, verification), both reading the checkpoint.
    assert python_eval_count(pairs) == 0
    assert python_eval_count(verified) == 0
    assert verified.count() > 0


def test_signature_table_tokens_and_size(spark):
    from datasketch_spark.functions.minhash import make_signature_from_tokens_udf
    from datasketch_spark.functions.text import char_ngrams_col

    cfg = DedupConfig(threshold=0.5)
    docs = spark.createDataFrame(
        [(1, "abcabcabc", [3, 1, 3, 2]), (2, "xyz", [7])],
        "doc_id long, text string, toks array<bigint>",
    )
    sized = lsh.signature_table(docs, cfg, with_size=True)
    assert sized.columns == ["doc_id", "sig", "set_size"]
    n_shingles = F.size(F.array_distinct(char_ngrams_col(F.col("text"), 5)))
    want = {r["doc_id"]: r["n"] for r in docs.select("doc_id", n_shingles.alias("n")).collect()}
    assert {r["doc_id"]: r["set_size"] for r in sized.collect()} == want

    toks = lsh.signature_table(docs, cfg, tokens=F.col("toks"), with_size=True)
    udf = make_signature_from_tokens_udf(cfg.num_perm, cfg.seed)
    signed = docs.select("doc_id", udf("toks").alias("s"))
    expect = {r["doc_id"]: list(r["s"]) for r in signed.collect()}
    got = {r["doc_id"]: (list(r["sig"]), r["set_size"]) for r in toks.collect()}
    assert got == {1: (expect[1], 3), 2: (expect[2], 1)}


def test_pairs_expr_all_ordered_pairs(spark):
    df = spark.createDataFrame([([1, 2, 3, 4],)], "ids array<bigint>")
    pairs = df.select(F.explode(lsh.pairs_expr("ids")).alias("p")).select("p.*")
    got = [(r["a"], r["b"]) for r in pairs.collect()]
    assert got == [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    plus = df.select(F.explode(lsh.pairs_expr("ids", lambda x, y: x + y)).alias("s"))
    assert [r["s"] for r in plus.collect()] == [3, 4, 5, 5, 6, 7]


def test_bucket_pairs_drops_over_cap_bucket(spark):
    rows = spark.createDataFrame(
        [("hot", i) for i in range(4)] + [("cold", 10), ("cold", 11)],
        "k string, id long",
    )
    assert [tuple(r) for r in lsh.bucket_pairs(rows, ["k"], "id", cap=3).collect()] == [(10, 11)]
    assert lsh.bucket_pairs(rows, ["k"], "id").count() == 7


def test_bucket_pairs_emits_shared_pair_once(spark):
    # (1, 2) shares buckets 0 and 1.
    rows = spark.createDataFrame(
        [(0, 2), (0, 1), (1, 1), (1, 2), (1, 3)], "k int, id long"
    )
    got = sorted(tuple(r) for r in lsh.bucket_pairs(rows, ["k"], "id").collect())
    assert got == [(1, 2), (1, 3), (2, 3)]


def test_bucket_pairs_struct_member_carries_positions(spark):
    rows = spark.createDataFrame(
        [(7, 2, 30), (7, 1, 5), (8, 1, 6)], "fp long, doc_id long, pos long"
    )
    pairs = lsh.bucket_pairs(
        rows,
        ["fp"],
        F.struct("doc_id", "pos"),
        pair=lambda x, y: F.struct(
            x["doc_id"].alias("a"),
            y["doc_id"].alias("b"),
            x["pos"].alias("pos_a"),
            y["pos"].alias("pos_b"),
        ),
    )
    assert pairs.columns == ["a", "b", "pos_a", "pos_b"]
    assert [tuple(r) for r in pairs.collect()] == [(1, 2, 5, 30)]


def test_substring_candidates_no_self_pair(spark):
    from datasketch_spark.operators.suffix import substring_candidates

    # Doc 1 repeats fingerprint 5 at positions 0 and 9.
    fps = spark.createDataFrame(
        [(1, 5, 0), (1, 5, 9), (2, 5, 3)], "doc_id long, fp long, pos long"
    )
    got = sorted(tuple(r) for r in substring_candidates(fps).collect())
    assert got == [(1, 2, 0, 3), (1, 2, 9, 3)]


def test_substring_pass_plan_budget(spark):
    # Bucket groupBy, pair distinct and the per-pair alignment grouping;
    # the text join-backs are broadcast at this size. One Python stage
    # fingerprints, one extend-verifies.
    from datasketch_spark.operators.dedup import assign_doc_ids
    from datasketch_spark.operators.suffix import substring_dedup_edges
    from datasketch_spark.sources.pages import synth_pages

    docs = assign_doc_ids(local_checkpoint(synth_pages(spark, 200, seed=3)))
    edges = substring_dedup_edges(docs)
    assert shuffle_count(edges) == 3
    assert python_eval_count(edges) == 2


def test_pair_operator_shuffle_budgets(spark):
    import numpy as np

    from datasketch_spark.operators.ann import simhash_bucketed_pairs
    from datasketch_spark.operators.setjoin import prefix_filtered_jaccard_pairs
    from datasketch_spark.operators.suffix import substring_candidates

    toks = spark.createDataFrame(
        [(i, [i % 3, i % 5, 7, 8]) for i in range(12)], "doc_id long, toks array<bigint>"
    )
    fps = spark.createDataFrame(
        [(i % 4, i % 3, i) for i in range(12)], "doc_id long, fp long, pos long"
    )
    rng = np.random.RandomState(0)
    vecs = spark.createDataFrame(
        [(i, rng.normal(size=8).tolist()) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    counts = (
        shuffle_count(prefix_filtered_jaccard_pairs(toks, "toks", 0.5)),
        shuffle_count(substring_candidates(fps)),
        shuffle_count(simhash_bucketed_pairs(vecs, 0.9, n_bits=4, n_tables=2)),
    )
    # Each: the bucket groupBy and the pair distinct; setjoin and simhash
    # add two exchanges per join-back side.
    assert counts == (6, 2, 6)


def test_capped_callers_filter_before_collect_list(spark):
    from datasketch_spark.operators.setjoin import prefix_filtered_jaccard_pairs
    from datasketch_spark.operators.suffix import substring_candidates

    toks = spark.createDataFrame(
        [(i, [i % 3, i % 5, 7, 8]) for i in range(12)], "doc_id long, toks array<bigint>"
    )
    fps = spark.createDataFrame(
        [(i % 4, i % 3, i) for i in range(12)], "doc_id long, fp long, pos long"
    )
    _assert_cap_filters_before_collect(prefix_filtered_jaccard_pairs(toks, "toks", 0.5))
    _assert_cap_filters_before_collect(substring_candidates(fps))
