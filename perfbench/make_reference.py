#!/usr/bin/env python3
"""Write ``reference/analytics.json``: for each analytics query, the row
count and value digest of its DuckDB oracle over the benchmark's base
tables, per scale. Rerun after changing the base-table generator (bump
``datagen.TABLES_VERSION``) or a query's oracle:

    python3 perfbench/make_reference.py
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import duckdb  # noqa: E402

import datagen  # noqa: E402
from analytics_queries import QUERY_NAMES, oracle_sql, result_digest  # noqa: E402
from run import ensure_tables  # noqa: E402


def reference_for(tables: str) -> dict:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for f in sorted(os.listdir(tables)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{tables}/{f}')")
    return {name: list(result_digest(con.execute(oracle_sql(name)).arrow()))
            for name in QUERY_NAMES}


def main() -> None:
    out = {"tables_version": datagen.TABLES_VERSION, "scales": {}}
    for scale in sorted(datagen.SCALES):
        tables = ensure_tables(scale)
        out["scales"][scale] = {"tables": datagen.tables_digest(tables),
                                "queries": reference_for(tables)}
    os.makedirs(os.path.join(HERE, "reference"), exist_ok=True)
    with open(os.path.join(HERE, "reference", "analytics.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
