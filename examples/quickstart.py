"""Quickstart: near-duplicate detection over a pages table.

    python examples/quickstart.py
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from datasketch_spark import DedupConfig, get_spark
from datasketch_spark.operators.dedup import (
    cluster_summary,
    dedup_pipeline,
    keep_canonical,
)
from datasketch_spark.sources.pages import synth_pages


def main() -> None:
    spark = get_spark()

    # Any DataFrame with (url, text) works; here: a synthetic Common-Crawl
    # style corpus with planted near-duplicate clusters.
    pages = synth_pages(spark, n_docs=5_000, seed=7)

    # threshold=0.8 -> optimal (b, r) = (9, 13) at 128 permutations,
    # matching the reference's MinHashLSH parameterization.
    cfg = DedupConfig(threshold=0.8)
    stages = dedup_pipeline(pages, cfg)

    print("=== near-duplicate pairs (signature Jaccard >= 0.8) ===")
    stages["verified"].orderBy(F.desc("est_jaccard")).show(5)

    print("=== cluster size histogram ===")
    cluster_summary(stages["clusters"]).show()

    kept = keep_canonical(stages["clusters"])
    print(f"kept {kept.count()} of {stages['clusters'].count()} docs after dedup")


if __name__ == "__main__":
    main()
