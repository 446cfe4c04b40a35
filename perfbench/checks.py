"""Output checks for the catalog workloads.

Each query's materialized output (written by the harness's warm pass) is
compared with its DuckDB oracle over the same generated parquet tables, the
way tools/check_oracle.py compares them: same sorted column set, same column
kinds, same row count, and the rows equal exactly once both sides are sorted.
The check also returns the output's row count and an order-insensitive digest.
"""
import glob
import hashlib
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def digest(df):
    """sha256 of the frame with sorted columns and sorted rows."""
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return hashlib.sha256(df.to_csv(index=False).encode()).hexdigest()[:16]


def connect(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def compare(con, sql, out_dir):
    """(ok, rows, digest, why) for one query's output directory."""
    files = glob.glob(os.path.join(out_dir, "*.parquet"))
    if not files:
        return False, 0, None, "no output"
    got = con.sql(f"SELECT * FROM '{out_dir}/*.parquet'").df()
    rows, dig = len(got), digest(got)
    try:
        exp = con.sql(sql).df()
    except Exception as e:  # the oracle itself failed: not a pass
        return False, rows, dig, f"oracle error: {str(e)[:200]}"
    exp = exp.reindex(sorted(exp.columns), axis=1)
    got = got.reindex(sorted(got.columns), axis=1)
    if list(exp.columns) != list(got.columns):
        return False, rows, dig, f"columns: oracle={list(exp.columns)} output={list(got.columns)}"
    kinds = [c for c in exp.columns if exp[c].dtype.kind != got[c].dtype.kind]
    if kinds:
        return False, rows, dig, f"column kinds differ: {kinds}"
    if len(exp) != len(got):
        return False, rows, dig, f"rows: oracle={len(exp)} output={len(got)}"
    exp = exp.sort_values(by=list(exp.columns)).reset_index(drop=True)
    got = got.sort_values(by=list(got.columns)).reset_index(drop=True)
    try:
        pd.testing.assert_frame_equal(exp, got, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return False, rows, dig, f"values: {str(e).splitlines()[0][:200]}"
    return True, rows, dig, None


def check_catalog(data_dir, out_root, oracle_sql, names):
    """name -> {"ok", "rows", "digest", "why"} for every name."""
    con = connect(data_dir)
    res = {}
    for n in names:
        sql = oracle_sql.get(n)
        if sql is None:
            res[n] = {"ok": False, "rows": 0, "digest": None, "why": "no oracle"}
            continue
        ok, rows, dig, why = compare(con, sql, os.path.join(out_root, n))
        res[n] = {"ok": ok, "rows": rows, "digest": dig, "why": why}
    return res
