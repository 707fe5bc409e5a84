"""Exact deduplication: hash-groupBy on a normalized content fingerprint.

The cheap first pass of a training-data dedup stack: byte/normalized-exact
duplicates collapse without any sketching. One shuffle on the fingerprint;
at scale the fingerprint distributes uniformly so there is no skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datasketch_spark.functions.text import fingerprint_col


def exact_dup_groups(
    docs: DataFrame, key_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(fingerprint, n_docs, canonical_id, doc_ids) per distinct content."""
    return (
        docs.select(F.col(key_col), fingerprint_col(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count("*").alias("n_docs"),
            F.min(key_col).alias("canonical_id"),
            F.array_sort(F.collect_list(key_col)).alias("doc_ids"),
        )
    )
