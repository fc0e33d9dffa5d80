#!/usr/bin/env python3
"""Expected per-check counts for the orders_keywords workload.

Usage: python3 perfbench/oracle.py <fixture dir> <work dir>

Runs each query of <work dir>/oracle_sql.json (the `SparkEntry.oracleSql`
entries) in DuckDB over the fixture's parquet tables and writes
<work dir>/expected.txt, one `query<TAB>keyword|schema_path|count...` line
per check. Violation-row queries are summarised per check as the row count
and the sum of their keys, the same summary the benchmark takes in Spark.
"""
import json
import os
import sys

import duckdb

TABLES = ["orders", "lineitem", "events"]
ROW_QUERIES = {"q_validate_orders": "o_orderkey"}


def main(fixture, work):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(fixture, t + '.parquet')}/*.parquet')")
    with open(os.path.join(work, "oracle_sql.json")) as f:
        queries = json.load(f)
    lines = []
    for name, sql in sorted(queries.items()):
        if name in ROW_QUERIES:
            key = ROW_QUERIES[name]
            rows = con.execute(f"SELECT keyword, schema_path, count(*), sum({key}) "
                               f"FROM ({sql}) GROUP BY ALL").fetchall()
        else:
            rows = con.execute(f"SELECT keyword, schema_path, violations FROM ({sql})").fetchall()
        lines += [name + "\t" + "|".join(str(v) for v in r) for r in rows]
    with open(os.path.join(work, "expected.txt"), "w") as f:
        f.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
