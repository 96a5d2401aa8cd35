"""Compare a query result written by the harness with DuckDB running the
query's oracle SQL (`SparkEntry.oracleSql`) on the same parquet tables.

The rule is the engine's correctness gate: columns compared by name, the
same row count, the same type class per column (int, float, bool,
datetime, other), and equal values row by row.
"""
import glob
import hashlib
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(tables_dir, spill_dir):
    con = duckdb.connect()
    os.makedirs(spill_dir, exist_ok=True)
    con.execute(f"SET temp_directory='{spill_dir}'")
    con.execute("SET memory_limit='2GB'")
    con.execute("SET threads=2")
    for t in TABLES:
        p = os.path.join(tables_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _kind(dtype):
    k = getattr(dtype, "kind", None)
    return {"i": "int", "u": "int", "f": "float", "b": "bool",
            "M": "datetime"}.get(k, "other")


def oracle_frame(con, sql, cache_dir):
    """The oracle's answer; the tables are read-only, so each query's
    answer is computed once per checkout and kept under `cache_dir`.
    """
    path = os.path.join(cache_dir, hashlib.sha256(sql.encode()).hexdigest() + ".pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    want = con.execute(sql).df()
    os.makedirs(cache_dir, exist_ok=True)
    want.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return want


def compare(con, result_dir, sql, cache_dir):
    """None when the result equals the oracle, else what differs."""
    if sql is None:
        return "no oracle SQL"
    files = glob.glob(os.path.join(result_dir, "*.parquet"))
    if not files:
        return "no result file"
    try:
        got = con.execute(f"SELECT * FROM '{files[0]}'").df()
        want = oracle_frame(con, sql, cache_dir)
    except Exception as e:  # a failed replay is a failed check
        return f"duckdb: {e}"
    got = got.reindex(sorted(got.columns), axis=1)
    want = want.reindex(sorted(want.columns), axis=1)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    for c in got.columns:
        a, b = got[c], want[c]
        if _kind(a.dtype) != _kind(b.dtype):
            return f"{c}: type {a.dtype} vs {b.dtype}"
        if _kind(a.dtype) == "datetime":
            if (getattr(a.dtype, "tz", None) is None) != (getattr(b.dtype, "tz", None) is None):
                return f"{c}: time zone {a.dtype} vs {b.dtype}"
            eq = (pd.to_datetime(a).astype("int64") // 1000
                  == pd.to_datetime(b).astype("int64") // 1000)
        else:
            eq = (a == b) | (a.isna() & b.isna())
        if not eq.all():
            i = int((~eq).values.argmax())
            return f"{c} row {i}: {a.iloc[i]!r} vs {b.iloc[i]!r} ({int((~eq).sum())} differ)"
    return None
