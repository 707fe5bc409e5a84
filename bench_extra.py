"""Extra benchmarks for optimization work (bench.py is FROZEN for
measurement; numbers cited in OPTIMIZATION_r06.md come from here).

Modes:
  --queries [name ...]   time individual declared queries, REPS times each
                         (count(), same methodology as bench.py), with job
                         descriptions so the work is attributable.
  --stages               per-stage breakdown of the minhash_dedup pipeline
                         (signatures / bands / pairs / verify / cc) using
                         noop-sink isolation (guide 1.4).

Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_REPS (default 3).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _spark():
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count()
    from datasketch_spark.session import get_spark

    return get_spark(
        app_name="bench-extra",
        master=f"local[{cpus}]",
        shuffle_partitions=max(int(cpus), 16),
    )


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_queries(names: list[str]) -> None:
    import __spark_entry__ as entrymod

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("SPARK_GRAFT_REPS", "3"))
    spark = _spark()
    spark.range(1000).selectExpr("sum(id)").collect()
    qs = entrymod.queries()
    names = names or list(qs)
    out: dict[str, list[float]] = {}
    for name in names:
        runs = []
        for i in range(reps):
            spark.sparkContext.setJobDescription(f"{name} rep{i}")
            t0 = time.time()
            n = qs[name](spark, sf_dir).count()
            runs.append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        out[name] = runs
        print(f"# {name}: rows={n} runs={runs} min={min(runs)}", file=sys.stderr)
    print(json.dumps({"queries": out, "mins": {k: min(v) for k, v in out.items()}}))


def run_stages() -> None:
    from pyspark.sql import functions as F

    from datasketch_spark.config import DedupConfig
    from datasketch_spark.operators import lsh
    from datasketch_spark.operators.components import connected_components_auto
    from datasketch_spark.operators.verify import verify_pairs_est

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("SPARK_GRAFT_REPS", "2"))
    spark = _spark()
    spark.range(1000).selectExpr("sum(id)").collect()
    cfg = DedupConfig(threshold=0.5)
    res: dict[str, list[float]] = {}

    def timed(label, fn):
        runs = []
        for i in range(reps):
            spark.sparkContext.setJobDescription(f"{label} rep{i}")
            t0 = time.time()
            fn()
            runs.append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        res[label] = runs
        print(f"# {label}: {runs}", file=sys.stderr)

    def docs():
        return (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select(F.col("doc_id").cast("string").alias("url"), "text")
            .withColumn("doc_id", F.xxhash64("url"))
            .select("doc_id", "text")
        )

    timed("read_only", lambda: noop(docs()))
    timed("signatures", lambda: noop(lsh.signature_table(docs(), cfg)))

    def bands():
        return lsh.bands_table(lsh.signature_table(docs(), cfg), cfg)

    timed("sig+bands", lambda: noop(bands()))
    timed("sig+bands+pairs", lambda: noop(lsh.candidate_pairs(bands(), cfg)))

    def verified():
        sigs = lsh.signature_table(docs(), cfg)
        bands_df = lsh.bands_table(sigs, cfg)
        pairs = lsh.candidate_pairs(bands_df, cfg).localCheckpoint(eager=False)
        return verify_pairs_est(pairs, sigs, cfg)

    timed("sig..verify", lambda: noop(verified()))
    timed("sig..cc", lambda: noop(
        connected_components_auto(
            verified().select(F.col("a").alias("u"), F.col("b").alias("v"))
        )
    ))
    print(json.dumps({"stages": res}))


if __name__ == "__main__":
    if "--stages" in sys.argv:
        run_stages()
    else:
        args = [a for a in sys.argv[1:] if a != "--queries"]
        run_queries(args)
