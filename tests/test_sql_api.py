"""SQL-surface registration: spark.sql results must match the native
column-expression API."""

from pyspark.sql import functions as F

from datasketch_spark.config import DedupConfig
from datasketch_spark.functions.hashing import MAX_HASH
from datasketch_spark.functions.minhash import count_col, jaccard_col, merge_col
from datasketch_spark.functions.sql_api import register_sql
from datasketch_spark.functions.text import (
    fingerprint_col,
    langid_col,
    token_count_col,
)
from datasketch_spark.operators.lsh import with_signature


def test_sql_api_matches_dataframe_api(spark):
    cfg = DedupConfig(threshold=0.8)
    register_sql(spark, cfg)
    rows = [
        (1, "the quick brown fox is that it was for with"),
        (2, "der die das und ist nicht ein mit"),
        (3, "totally unaffiliated words here " * 4),
        (4, ""),
        # Unicode spaces: the SQL functions split like words_col (Java \s+,
        # ASCII whitespace only), not like Python's str.split().
        (5, "hello\u00a0world foo"),
        (6, "a\u2003b"),
        (7, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.createOrReplaceTempView("sql_api_docs")

    got = spark.sql(
        """
        SELECT doc_id, minhash_sig(text) AS sig, lang_id(text) AS lang,
               doc_fingerprint(text) AS fp, token_count(text) AS n
        FROM sql_api_docs
        """
    ).collect()
    want_sig = {
        r["doc_id"]: r["sig"]
        for r in with_signature(df, cfg).select("doc_id", "sig").collect()
    }
    want_rest = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            langid_col("text").alias("lang"),
            fingerprint_col("text").alias("fp"),
            token_count_col("text").alias("n"),
        ).collect()
    }
    for r in got:
        d = r["doc_id"]
        assert r["sig"] == want_sig[d], d
        assert r["lang"] == want_rest[d]["lang"], d
        assert r["fp"] == want_rest[d]["fp"], d
        assert r["n"] == want_rest[d]["n"], d

    assert len(got) == len(rows)

    # lang_id, doc_fingerprint and token_count are SQL scalar functions
    # inlined into codegen: the plan must contain no Arrow/Python eval.
    for fn in ("lang_id", "doc_fingerprint", "token_count"):
        plan = (
            spark.sql(f"SELECT {fn}(text) FROM sql_api_docs")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "ArrowEval" not in plan and "BatchEval" not in plan, (fn, plan)

    # Sketch algebra through SQL.
    alg = spark.sql(
        """
        SELECT a.doc_id,
               minhash_jaccard(a.sig, a.sig) AS self_j,
               minhash_jaccard(a.sig, b.sig) AS cross_j,
               minhash_merge(a.sig, b.sig) AS merged,
               minhash_count(a.sig) AS est
        FROM (SELECT doc_id, minhash_sig(text) AS sig FROM sql_api_docs WHERE doc_id = 1) a
        JOIN (SELECT minhash_sig(text) AS sig FROM sql_api_docs WHERE doc_id = 3) b
        """
    ).collect()[0]
    assert alg["self_j"] == 1.0
    assert 0.0 <= alg["cross_j"] < 0.3
    assert alg["merged"] == [
        min(x, y) for x, y in zip(want_sig[1], want_sig[3])
    ]
    assert alg["est"] > 0

    # The sketch functions are the column expressions: equal on every
    # ordered pair of the same signatures, and inlined into codegen.
    sig_df = spark.createDataFrame(
        sorted(want_sig.items()), "doc_id long, sig array<bigint>"
    )
    sig_df.createOrReplaceTempView("sql_api_sigs")
    alg_sql = spark.sql(
        """
        SELECT a.doc_id AS a, b.doc_id AS b,
               minhash_jaccard(a.sig, b.sig) AS j,
               minhash_merge(a.sig, b.sig) AS merged,
               minhash_count(a.sig) AS est
        FROM sql_api_sigs a CROSS JOIN sql_api_sigs b
        """
    )
    alg_col = sig_df.alias("a").crossJoin(sig_df.alias("b")).select(
        F.col("a.doc_id").alias("a"),
        F.col("b.doc_id").alias("b"),
        jaccard_col("a.sig", "b.sig", cfg.num_perm).alias("j"),
        merge_col("a.sig", "b.sig").alias("merged"),
        count_col("a.sig", cfg.num_perm).alias("est"),
    )
    got_alg = sorted(tuple(r) for r in alg_sql.collect())
    assert len(got_alg) == len(rows) ** 2
    assert got_alg == sorted(tuple(r) for r in alg_col.collect())
    plan = alg_sql._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEval" not in plan and "BatchEval" not in plan, plan


def test_minhash_count_all_zero_signature(spark):
    # An all-zero signature estimates +inf (the reference's numpy k / 0.0
    # - 1.0) in both twins instead of failing the query under ANSI mode.
    register_sql(spark, DedupConfig(threshold=0.8))
    sigs = spark.createDataFrame(
        [(0, [0] * 128), (1, [int(MAX_HASH)] * 64 + [0] * 64)],
        "doc_id long, sig array<bigint>",
    )
    sigs.createOrReplaceTempView("sql_api_count_sigs")
    want = {0: float("inf"), 1: 1.0}
    col = dict(sigs.select("doc_id", count_col("sig", 128)).collect())
    sql = dict(
        spark.sql("SELECT doc_id, minhash_count(sig) FROM sql_api_count_sigs").collect()
    )
    assert col == want and sql == want
