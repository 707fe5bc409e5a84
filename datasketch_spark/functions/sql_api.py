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

Functions whose semantics are pure expressions register as SQL SCALAR
FUNCTIONS (``CREATE FUNCTION ... RETURN expr`` — inlined into whole-stage
codegen, zero Python): ``lang_id``, ``token_count`` and ``doc_fingerprint``,
each the same expression as its column twin. The rest are Arrow-batched pandas
UDFs (vectorized over batches, never row-at-a-time Python). For hot paths
prefer the native column expressions (``jaccard_col``/``langid_col``/...);
the pandas-UDF layer trades one Arrow boundary for SQL ergonomics,
exactly like the signature UDF itself.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, LongType

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

    @F.pandas_udf(DoubleType())
    def _jaccard(s1: pd.Series, s2: pd.Series) -> pd.Series:
        a = np.array(s1.tolist(), dtype=np.int64)
        b = np.array(s2.tolist(), dtype=np.int64)
        return pd.Series((a == b).mean(axis=1))

    @F.pandas_udf(ArrayType(LongType()))
    def _merge(s1: pd.Series, s2: pd.Series) -> pd.Series:
        a = np.array(s1.tolist(), dtype=np.int64)
        b = np.array(s2.tolist(), dtype=np.int64)
        return pd.Series(list(np.minimum(a, b)))

    @F.pandas_udf(DoubleType())
    def _count(s: pd.Series) -> pd.Series:
        a = np.array(s.tolist(), dtype=np.float64)
        total = (a / float(int(MAX_HASH))).sum(axis=1)
        return pd.Series(np.where(total > 0, num_perm / total - 1.0, 0.0))

    spark.udf.register(f"{prefix}minhash_jaccard", _jaccard)
    spark.udf.register(f"{prefix}minhash_merge", _merge)
    spark.udf.register(f"{prefix}minhash_count", _count)

    # lang_id, token_count and doc_fingerprint are SQL SCALAR FUNCTIONS
    # (CREATE ... RETURN expr), not pandas UDFs: each body is the exact
    # expression of its column twin (langid_col: argmax of per-language
    # distinct-stopword hits, LANG_PRIORITY tie-break via a lexicographic
    # struct max; token_count_col; fingerprint_col), tokenized like
    # words_col with Java's \s+, and Spark inlines it into whole-stage
    # codegen — no Arrow boundary, no per-row Python.
    def words_sql(t: str) -> str:
        return rf"filter(split(trim({t}), '\\s+'), x -> x != '')"

    def scalar(name: str, ret: str, body: str) -> None:
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {prefix}{name}(t STRING) "
            f"RETURNS {ret} RETURN {body}"
        )

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
        "STRING",
        f"if(array_max(array({score_structs})).s > 0, "
        f"array_max(array({score_structs})).l, 'und')",
    )
    scalar("token_count", "INT", f"size({words_sql('t')})")
    scalar(
        "doc_fingerprint", "STRING", f"md5(array_join({words_sql('lower(t)')}, ' '))"
    )
