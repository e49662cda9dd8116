"""Writes data/sf0.1/expected.json: the query_suite oracle on DuckDB.

    python3 perfbench/expected.py

Run from the root of a checkout. For each query of the suite it runs
`__spark_entry__.oracle_sql()[name]` on DuckDB over the tables in
data/sf0.1 and stores the rows as `scripts/check_oracle.py` normalizes
them, with the sha256 of every table they came from. The benchmark checks
each output against these rows: the `substring_pairs` oracle alone takes
~127 s on these tables (4-core VM), more than one run may spend.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.1")
EXPECTED = os.path.join(DATA, "expected.json")
TABLES = ("documents", "embeddings")


def table_hashes() -> dict[str, str]:
    out = {}
    for t in TABLES:
        with open(os.path.join(DATA, f"{t}.parquet"), "rb") as fh:
            out[t] = hashlib.sha256(fh.read()).hexdigest()
    return out


def main() -> int:
    sys.path[:0] = [HERE, ROOT]
    import duckdb

    import __spark_entry__ as entry
    from workloads import QUERIES, check_oracle

    co = check_oracle(ROOT)
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(DATA, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    sql = entry.oracle_sql()
    queries = {}
    for name in QUERIES:
        res = con.execute(sql[name])
        cols = [d[0] for d in res.description]
        queries[name] = {"cols": sorted(cols), "rows": co.rowset(cols, res.fetchall())}
        print(f"{name}: {len(queries[name]['rows'])} rows", flush=True)
    con.close()
    with open(EXPECTED, "w") as fh:
        json.dump({"tables": table_hashes(), "queries": queries}, fh, indent=0)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
