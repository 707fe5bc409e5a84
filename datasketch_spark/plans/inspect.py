"""Physical-plan introspection helpers: make shuffle counts, pushdown, and
codegen coverage assertable in tests instead of eyeballed.

At 100TB, every Exchange in the plan is a full-corpus shuffle; these
helpers let tests pin the shuffle budget of each operator so a regression
that adds an accidental shuffle (or breaks parquet filter pushdown) fails
CI rather than the cluster bill.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


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
        re.findall(r"ArrowEvalPython|BatchEvalPython|MapInPandas", plan_str(df, "simple"))
    )
