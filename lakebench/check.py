"""Correctness check for the query workloads: each query's output against
its DuckDB oracle on the same generated tables.

The compare is scripts/check_oracle.py's: columns sorted by name, rows
sorted, values compared exactly. Oracle results are cached per seed and
input set, since they depend only on the generated tables.
"""
import glob
import json
import os

import duckdb
import pandas as pd


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True,
                            key=lambda s: s.astype(str))
    return df.reset_index(drop=True)


def diff(spark_df, oracle_df):
    """None when the two outputs agree, else why they differ."""
    a, b = canon(spark_df), canon(oracle_df)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return f"values differ: {str(e)[:300]}"
    return None


def read_output(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return pd.DataFrame()
    return pd.concat([pd.read_parquet(p) for p in files], ignore_index=True)


def oracle_frame(con, cache_dir, name, sql):
    cached = os.path.join(cache_dir, f"{name}.parquet")
    if os.path.exists(cached):
        return pd.read_parquet(cached)
    df = con.sql(sql).df()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = cached + ".tmp"
    df.to_parquet(tmp, index=False)
    os.replace(tmp, cached)
    return df


def check_queries(tables_dir, out_dir, cache_dir):
    """Returns (outputs checked, one line per wrong output). A query
    without an oracle is checked for a readable output only. A missing
    output was a failed query, which the harness counts as a failure, not
    here."""
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for p in sorted(glob.glob(os.path.join(tables_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    checked, details = 0, []
    for name in sorted(os.listdir(out_dir)):
        path = os.path.join(out_dir, name)
        if not os.path.isdir(path):
            continue
        checked += 1
        try:
            got = read_output(path)
        except Exception as e:  # an unreadable output is a wrong result
            details.append(f"{name}: cannot read output: {e}")
            continue
        if name not in oracles:
            continue
        try:
            want = oracle_frame(con, cache_dir, name, oracles[name])
        except Exception as e:
            details.append(f"{name}: oracle error: {e}")
            continue
        why = diff(got, want)
        if why:
            details.append(f"{name}: {why}")
    con.close()
    return checked, details
