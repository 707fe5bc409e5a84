"""Emulate the driver's correctness gate: run each __spark_entry__ query on
Spark and its oracle_sql twin on DuckDB at sf0.01; compare row counts,
column names, and order-insensitive values."""

from __future__ import annotations

import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entrymod  # noqa: E402
from datasketch_spark.session import get_spark  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = sys.argv[2].split(",") if len(sys.argv) > 2 else None

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(v):
    if v is None:
        # Sentinel that cannot collide with real data: a NULL on one side
        # must NOT compare equal to a genuine empty string on the other
        # (r5 advice — a regression turning '' into NULL would otherwise
        # pass unnoticed).
        return "\x00NULL\x00"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    return v


def row_key(row):
    # Mixed types (None stand-ins vs ints) must still sort: key on the
    # type name first, then the value.
    return tuple((type(v).__name__, str(v), v if isinstance(v, (int, float)) and not isinstance(v, bool) else 0) for v in row)


def main():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count()
    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=16)
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        sdf = fn(spark, SF_DIR)
        scols = sorted(sdf.columns)
        srows = sorted(
            (tuple(norm(r[c]) for c in scols) for r in sdf.collect()),
            key=row_key,
        )
        if name not in oracles:
            print(f"{name}: rows-only ({len(srows)} rows) — no oracle")
            continue
        ddf = con.sql(oracles[name])
        dcols = sorted(ddf.columns)
        drows = sorted(
            (tuple(norm(row[ddf.columns.index(c)]) for c in dcols)
             for row in ddf.fetchall()),
            key=row_key,
        )
        ok = scols == dcols and srows == drows
        status = "OK " if ok else "FAIL"
        print(f"{name}: {status} spark={len(srows)} duckdb={len(drows)} cols {scols==dcols}")
        if not ok:
            failures.append(name)
            if scols != dcols:
                print("  spark cols:", scols, " duckdb cols:", dcols)
            sset, dset = set(srows), set(drows)
            for x in list(sset - dset)[:3]:
                print("  spark-only:", x)
            for x in list(dset - sset)[:3]:
                print("  duckdb-only:", x)
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("all matched")


if __name__ == "__main__":
    main()
