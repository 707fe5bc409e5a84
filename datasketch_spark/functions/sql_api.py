"""SQL-surface registration: use the engine from ``spark.sql``.

The engine's primary surface is DataFrame column expressions (pure
codegen — see functions/minhash.py, functions/text.py). This module adds
the SQL convenience layer on top: one ``register_sql(spark)`` call makes
the same capabilities callable from plain SQL,

    from datasketch_spark.functions.sql_api import register_sql
    register_sql(spark)
    spark.sql('''
        SELECT doc_id,
               minhash_sig(text)              AS sig,
               lang_id(text)                  AS lang,
               doc_fingerprint(text)          AS fp,
               token_count(text)              AS n_tokens
        FROM documents
    ''')
    spark.sql("SELECT minhash_jaccard(a.sig, b.sig) FROM ...")

``minhash_sig`` is the signature pandas UDF itself (one Arrow boundary,
exactly like ``with_signature``). Every other function is a SQL SCALAR
FUNCTION (``CREATE FUNCTION ... RETURN expr`` — inlined into whole-stage
codegen, zero Python) whose body is the same expression as its column
twin: ``minhash_jaccard``/``minhash_merge``/``minhash_count`` are
``jaccard_col``/``merge_col``/``count_col``, and ``lang_id``,
``token_count`` and ``doc_fingerprint`` are ``langid_col``,
``token_count_col`` and ``fingerprint_col``.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from datasketch_spark.config import DedupConfig
from datasketch_spark.functions.hashing import MAX_HASH
from datasketch_spark.functions.minhash import make_signature_udf
from datasketch_spark.functions.text import LANG_PRIORITY, LANG_STOPWORDS


def register_sql(
    spark: SparkSession, cfg: DedupConfig | None = None, prefix: str = ""
) -> None:
    """Register the engine's functions for ``spark.sql`` use.

    ``cfg`` pins (num_perm, seed, shingle_k, hash_mode) for the signature
    functions; ``prefix`` namespaces the names (e.g. ``ds_``).
    """
    cfg = cfg or DedupConfig(threshold=0.8)
    num_perm = cfg.num_perm

    spark.udf.register(
        f"{prefix}minhash_sig",
        make_signature_udf(num_perm, cfg.seed, cfg.shingle_k, cfg.hash_mode),
    )

    # Everything else is a SQL SCALAR FUNCTION (CREATE ... RETURN expr):
    # each body is the exact expression of its column twin, and Spark
    # inlines it into whole-stage codegen — no Arrow boundary, no per-row
    # Python.
    def scalar(name: str, params: str, ret: str, body: str) -> None:
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {prefix}{name}({params}) "
            f"RETURNS {ret} RETURN {body}"
        )

    # Sketch algebra: jaccard_col, merge_col and count_col, num_perm inlined.
    pair = "s1 ARRAY<BIGINT>, s2 ARRAY<BIGINT>"
    scalar(
        "minhash_jaccard",
        pair,
        "DOUBLE",
        "aggregate(zip_with(s1, s2, (x, y) -> CAST(x = y AS INT)), 0, "
        f"(acc, v) -> acc + v) / {float(num_perm)}D",
    )
    scalar("minhash_merge", pair, "ARRAY<BIGINT>", "zip_with(s1, s2, (x, y) -> least(x, y))")
    scalar(
        "minhash_count",
        "s ARRAY<BIGINT>",
        "DOUBLE",
        "aggregate(s, 0.0D, "
        f"(acc, v) -> acc + CAST(v AS DOUBLE) / {float(int(MAX_HASH))}D, "
        "t -> CASE WHEN t = 0 THEN CAST('Infinity' AS DOUBLE) "
        f"ELSE {float(num_perm)}D / t - 1.0D END)",
    )

    # Text functions: langid_col (argmax of per-language distinct-stopword
    # hits, LANG_PRIORITY tie-break via a lexicographic struct max),
    # token_count_col and fingerprint_col, tokenized like words_col with
    # Java's \s+.
    def words_sql(t: str) -> str:
        return rf"filter(split(trim({t}), '\\s+'), x -> x != '')"

    score_structs = ", ".join(
        "named_struct('s', size(array_intersect({words}, array({sw}))), "
        "'pr', {pr}, 'l', '{lang}')".format(
            words=f"array_distinct({words_sql('t')})",
            sw=", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang]),
            pr=len(LANG_PRIORITY) - i,
            lang=lang,
        )
        for i, lang in enumerate(LANG_PRIORITY)
    )
    scalar(
        "lang_id",
        "t STRING",
        "STRING",
        f"if(array_max(array({score_structs})).s > 0, "
        f"array_max(array({score_structs})).l, 'und')",
    )
    scalar("token_count", "t STRING", "INT", f"size({words_sql('t')})")
    scalar(
        "doc_fingerprint",
        "t STRING",
        "STRING",
        f"md5(array_join({words_sql('lower(t)')}, ' '))",
    )
