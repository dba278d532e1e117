"""Untimed output checks in DuckDB.

Each check names a job's parquet output, the SQL that must produce the same
rows, and the input directory the SQL reads. The compare normalizes the way
`tools/check_oracle.py` does: columns sorted by name, rows sorted, values
compared as strings.
"""
import glob
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def connect(inputs_dir, temp_dir):
    con = duckdb.connect()
    con.execute("SET memory_limit='2GB'")
    con.execute(f"SET threads={os.cpu_count() or 1}")  # the benchmark JVM has exited
    con.execute(f"SET temp_directory='{temp_dir}'")
    for t in TABLES:
        path = os.path.join(inputs_dir, f"{t}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        elif not os.path.exists(path):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def compare(con, sql, output_dir):
    """Returns None when the output equals the SQL's rows, else a reason."""
    files = sorted(glob.glob(os.path.join(output_dir, "*.parquet")))
    if not files:
        return "no output"
    try:
        got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetch_df()
        want = con.execute(sql).fetch_df()
    except Exception as e:  # noqa: BLE001 - any engine error fails the check
        return f"error: {str(e)[:300]}"
    g, w = norm(got), norm(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} != {list(w.columns)}"
    if len(g) != len(w):
        return f"rows {len(g)} != {len(w)}"
    neq = (g.astype(str) != w.astype(str)).any(axis=1)
    if neq.any():
        i = neq.idxmax()
        return f"row {i}: got {g.loc[i].to_dict()} want {w.loc[i].to_dict()}"
    return None


def run_checks(checks, temp_dir):
    """Returns {job: reason} for every failed check."""
    cons = {}
    failed = {}
    try:
        for c in checks:
            inputs = c["inputs"]
            if inputs not in cons:
                cons[inputs] = connect(inputs, temp_dir)
            reason = compare(cons[inputs], c["sql"], c["output"])
            if reason is not None:
                failed[c["job"]] = reason
    finally:
        for con in cons.values():
            con.close()
    return failed
