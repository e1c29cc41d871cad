"""DuckDB side of the benchmark's output check.

Expected results never come from graft: each query's oracle SQL (graft's
`SparkEntry.oracleSql`, dumped once per build) runs in DuckDB over the same
parquet tables, and graft's written result is compared with it the way
`tools/oracle_check.py` compares: columns sorted by name, rows sorted by
value, values compared exactly, NULL equal to NULL.
"""
import glob
import os
import threading

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect_data(data_dir):
    """A DuckDB connection with one view per table of a generated data dir."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for name in TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{name}.parquet')")
    return con


def run_oracle(con, sql, timeout_s=120.0):
    """Evaluate one oracle query; a runaway query is interrupted."""
    timer = threading.Timer(timeout_s, con.interrupt)
    timer.start()
    try:
        return con.execute(sql).fetchdf()
    finally:
        timer.cancel()


def compare(got, exp):
    """None when equal, else a one-line description of the first difference."""
    g = got.reindex(sorted(got.columns), axis=1)
    e = exp.reindex(sorted(exp.columns), axis=1)
    if list(g.columns) != list(e.columns):
        return f"SCHEMA-NAMES: got {list(g.columns)} want {list(e.columns)}"
    if len(g) != len(e):
        return f"ROWS: got {len(g)} want {len(e)}"
    gs = g.sort_values(by=list(g.columns), ignore_index=True)
    es = e.sort_values(by=list(e.columns), ignore_index=True)
    for c in g.columns:
        a, b = gs[c], es[c]
        try:
            eq = (a.fillna("<NULL>") == b.fillna("<NULL>")) if a.dtype == object \
                else ((a == b) | (a.isna() & b.isna()))
        except Exception:
            eq = a.astype(str) == b.astype(str)
        if not eq.all():
            i = int((~eq).idxmax())
            return f"VALUES col={c} row={i}: got {a[i]!r} want {b[i]!r}"
    return None


def read_result(result_dir):
    """graft's written result for one query, or None when absent."""
    files = glob.glob(os.path.join(result_dir, "*.parquet"))
    if not files:
        return None
    return duckdb.connect().execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
