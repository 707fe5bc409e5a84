"""Capture .explain("formatted") for declared queries into plans/<tag>/.

Usage:
    python tools/capture_plans.py <tag-dir> [suffix] [query ...]

Writes plans/<tag>/<query>_<suffix>.txt (suffix default "before") for each
named query (default: all) and prints its Python-eval and Exchange counts.
Run-local counters are stripped before writing
(``plans.inspect.strip_run_local``), so two captures of the same plan diff
clean.
The streaming query is skipped by default (constructing it RUNS the
stream); pass it explicitly to include it. Env: SPARK_GRAFT_SF_DIR,
SPARK_GRAFT_CPUS (default: all cores).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r06"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count()

    import __spark_entry__ as entrymod
    from datasketch_spark.plans.inspect import (
        plan_str,
        python_eval_count,
        shuffle_count,
        strip_run_local,
    )
    from datasketch_spark.session import get_spark

    spark = get_spark(
        app_name="capture-plans",
        master=f"local[{cpus}]",
        shuffle_partitions=max(int(cpus), 16),
    )
    qs = entrymod.queries()
    if not names:
        # streaming_claims runs a real stream during query construction;
        # only capture it when explicitly requested.
        names = [n for n in qs if n != "streaming_claims"]
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = qs[name](spark, sf_dir)
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(strip_run_local(plan_str(df, "formatted")))
        print(f"wrote {path} python_eval={python_eval_count(df)} shuffles={shuffle_count(df)}")


if __name__ == "__main__":
    main()
