"""Local stand-in for the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB over the same parquet dir,
compare row count, column names, and an order-insensitive value hash.

Each ok/FAIL line carries the query's Spark wall time (build + collect).

Usage: python scripts/check_oracle.py [sf_dir] [--only=a,b]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402
from refine_spark.session import get_spark  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def rowset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in idx) for r in rows)


def main(sf_dir: str, only: set[str] | None = None) -> int:
    spark = get_spark(app_name="oracle_check", cores=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if only:
        queries = {k: v for k, v in queries.items() if k in only}
        missing = only - set(queries)
        if missing:
            print(f"unknown query names: {sorted(missing)}")
            return 1
    failures = []
    for name, fn in queries.items():
        t0 = time.monotonic()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL  {name}: spark error {str(e)[:160]} ({time.monotonic() - t0:.2f} s)")
            continue
        took = f"({time.monotonic() - t0:.2f} s)"
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (rows-only, no oracle) {took}")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"FAIL  {name}: duckdb error {str(e)[:160]} {took}")
            continue
        if sorted(scols) != sorted(ocols):
            failures.append((name, f"schema {sorted(scols)} != {sorted(ocols)}"))
            print(f"FAIL  {name}: schema mismatch {sorted(scols)} vs {sorted(ocols)} {took}")
            continue
        if len(srows) != len(orows):
            failures.append((name, f"rows {len(srows)} != {len(orows)}"))
            print(f"FAIL  {name}: rowcount {len(srows)} vs {len(orows)} {took}")
            continue
        if rowset(scols, srows) != rowset(ocols, orows):
            sset, oset = rowset(scols, srows), rowset(ocols, orows)
            diff = [(a, b) for a, b in zip(sset, oset) if a != b][:3]
            failures.append((name, f"values differ, e.g. {diff}"))
            print(f"FAIL  {name}: value mismatch e.g. {diff} {took}")
            continue
        print(f"ok    {name}: {len(srows)} rows match {took}")

    print(f"\n{len(queries) - len(failures)}/{len(queries)} ok; {len(failures)} failures")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    only = None
    for a in sys.argv[1:]:
        if a.startswith("--only="):
            only = set(a.split("=", 1)[1].split(","))
    sys.exit(main(args[0] if args else "/root/testdata/sf0.001", only))
