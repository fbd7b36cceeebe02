"""Compare the runner's query outputs with their DuckDB oracles.

The rules are those of the project's correctness gate: the same column
set, the same row count, and equal values after sorting every column,
with floats equal to within 1e-9.
"""
import glob
import json
import os

import duckdb
import numpy as np
import pandas as pd


def _diff(spark_df, duck_df):
    """None when the two frames agree, else a one-line reason."""
    s = spark_df.reindex(sorted(spark_df.columns), axis=1)
    k = duck_df.reindex(sorted(duck_df.columns), axis=1)
    if list(s.columns) != list(k.columns):
        return f"columns differ: spark={list(s.columns)} duck={list(k.columns)}"
    if len(s) != len(k):
        return f"row count differs: spark={len(s)} duck={len(k)}"
    s = s.sort_values(by=list(s.columns)).reset_index(drop=True)
    k = k.sort_values(by=list(k.columns)).reset_index(drop=True)
    for c in s.columns:
        sv, kv = s[c], k[c]
        try:
            kv = kv.astype(sv.dtype)
        except Exception:
            pass
        if sv.dtype.kind == "f":
            same = np.allclose(sv.fillna(-1e308), kv.fillna(-1e308), rtol=0, atol=1e-9)
        else:
            same = sv.fillna("\0").equals(kv.fillna("\0"))
        if not same:
            return f"values differ in column {c}"
    return None


def compare(data_dir, out_dir, queries):
    """(number of queries checked, [(query, reason)] for wrong ones).
    Queries without an oracle or without an output (it failed, which the
    runner counts separately) are not checked."""
    sql = json.loads((out_dir / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for p in glob.glob(f"{data_dir}/*.parquet"):
        name = os.path.basename(p)[:-8]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    checked, wrong = 0, []
    for q in queries:
        out = out_dir / "q" / q
        if q not in sql or not out.is_dir():
            continue
        checked += 1
        try:
            why = _diff(pd.read_parquet(out), con.execute(sql[q]).df())
        except Exception as e:  # an oracle that cannot run is a failed check
            why = f"oracle failed: {e}"
        if why:
            wrong.append((q, why))
    con.close()
    return checked, wrong
