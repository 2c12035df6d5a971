"""Compares the operator queries' Spark outputs with their DuckDB oracle SQL.

Each query's output is a parquet directory under the output dir, beside
`oracle_sql.json` (query name -> SQL over the tables by name). Both sides
are normalised the same way: columns sorted by name, every value as a
string, rows sorted.
"""
import json
import os

import duckdb

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1).astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def compare(tables_dir, out_dir):
    """Returns (queries compared, names that mismatch, report lines)."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    names = sorted(n for n in os.listdir(out_dir)
                   if os.path.isdir(os.path.join(out_dir, n)))
    bad, lines = [], []
    for name in names:
        spark_df = con.execute(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").fetchdf()
        if name not in oracle:
            if len(spark_df) == 0:
                bad.append(name)
                lines.append(f"{name}: no oracle and zero rows")
            continue
        a, b = _norm(spark_df), _norm(con.execute(oracle[name]).fetchdf())
        if list(a.columns) != list(b.columns) or not a.equals(b):
            bad.append(name)
            lines.append(f"{name}: MISMATCH spark rows={len(a)} oracle rows={len(b)}")
    return len(names), bad, lines
