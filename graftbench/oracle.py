"""Runs DuckDB oracle SQL over a directory of input tables.

Usage: python3 oracle.py <data_dir> <sql.json> <out_dir>

`sql.json` maps a query name to its DuckDB SQL (the engine's
`SparkEntry.oracleSql` entries); each result lands in
`<out_dir>/<name>.parquet`.
"""
import json
import os
import sys

import duckdb


def main():
    data, sql_file, out = sys.argv[1:4]
    con = duckdb.connect()
    con.execute("SET threads TO 3")
    for f in sorted(os.listdir(data)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{data}/{f}'")
    with open(sql_file) as fh:
        queries = json.load(fh)
    for name, sql in sorted(queries.items()):
        con.execute(f"COPY ({sql}) TO '{out}/{name}.parquet' (FORMAT parquet)")


if __name__ == "__main__":
    main()
