"""Physical-plan introspection helpers: make shuffle counts, pushdown,
codegen coverage and job counts assertable in tests instead of eyeballed,
and captured plans diffable across runs.

At 100TB, every Exchange in the plan is a full-corpus shuffle; these
helpers let tests pin the shuffle budget of each operator so a regression
that adds an accidental shuffle (or breaks parquet filter pushdown) fails
CI rather than the cluster bill.
"""

from __future__ import annotations

import itertools
import re

from pyspark.sql import DataFrame, SparkSession


def plan_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def shuffle_count(df: DataFrame) -> int:
    """Number of Exchange operators in the physical plan (AQE may later
    coalesce but not remove them)."""
    return len(re.findall(r"\bExchange\b", plan_str(df, "simple")))


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters lists from every parquet scan in the plan."""
    return re.findall(r"PushedFilters: \[([^\]]*)\]", plan_str(df, "formatted"))


def scan_read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema of every file scan — column-pruning visibility."""
    return re.findall(r"ReadSchema: ([^\n]*)", plan_str(df, "formatted"))


def python_eval_count(df: DataFrame) -> int:
    """Arrow/Python eval nodes in the plan — the pipeline contract is
    exactly ONE (the signature UDF) per signature computation."""
    return len(
        re.findall(
            r"ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow", plan_str(df, "simple")
        )
    )


_JOB_GROUPS = itertools.count()


def jobs_run(spark: SparkSession, build) -> int:
    """How many Spark jobs calling ``build()`` runs."""
    sc = spark.sparkContext
    group = f"jobs-run-{next(_JOB_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        build()
        return len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


# Counters a plan picks up from the session that built it, not its shape.
_RUN_LOCAL = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"(\w+RDD)\[\d+\]"), r"\1[]"),
    (re.compile(r"(RDD\[\] at \w+) at [^\s,]+"), r"\1"),  # the call site's file:line
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"(lambda \w+)_\d+\b"), r"\1_"),
]


def strip_run_local(plan: str) -> str:
    """``plan`` without run-local counters (``#123`` expression ids,
    ``MapPartitionsRDD[45]`` ids and their call sites, ``plan_id=``, the
    ``_14`` of lambda variable ``x_14``): two captures of the same plan
    diff clean."""
    for pattern, repl in _RUN_LOCAL:
        plan = pattern.sub(repl, plan)
    return plan
