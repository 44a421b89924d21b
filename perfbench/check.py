"""Correctness check: each checked output against its DuckDB oracle.

The oracle SQL is the engine's own `SparkEntry.oracleSql` text, which the
harness exports with the record. Comparison follows the engine's oracle
gate: columns sorted by name, rows sorted by every column, exact values,
and an integer/float kind mismatch counts as a difference.
"""
import hashlib
import os

import duckdb
import pandas as pd
import pyarrow.dataset as ds


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.reset_index(drop=True)


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str:
    """'' when equal, else the first difference found."""
    g, w = canon(got), canon(want)
    if list(g.columns) != list(w.columns):
        return f"columns differ: {list(g.columns)} vs oracle {list(w.columns)}"
    if len(g) != len(w):
        return f"row count differs: {len(g)} vs oracle {len(w)}"
    drift = [c for c in g.columns
             if {g[c].dtype.kind, w[c].dtype.kind} in ({"i", "f"}, {"u", "f"})]
    if drift:
        return f"int/float kind differs in {drift}"
    try:
        pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return " | ".join(str(e).split("\n")[:3])
    return ""


def read_drained(path: str) -> pd.DataFrame:
    """The upsert sink's table: parquet partitioned by (w_start_us,
    event_type); the window start is also a data column."""
    df = ds.dataset(path, format="parquet", partitioning="hive").to_table().to_pandas()
    df["event_type"] = df["event_type"].astype(str)
    return df.drop(columns=["w_start_us"])


def oracle_result(con, sql: str, cache_dir: str) -> pd.DataFrame:
    """The oracle's result, cached by SQL text: the inputs are fixed, and
    some oracles (exact nearest neighbours) take seconds to compute."""
    path = os.path.join(cache_dir, hashlib.sha256(sql.encode()).hexdigest() + ".pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    df = con.execute(sql).df()
    os.makedirs(cache_dir, exist_ok=True)
    df.to_pickle(path)
    return df


def check(record: dict, tables_dir: str, stream_dir: str, cache_dir: str) -> dict:
    """Name -> '' (equal) or the reason it is not, for every output the
    record lists; an output without oracle SQL counts as a failed check."""
    con = duckdb.connect()
    if record["workload"] == "stream_upsert":
        con.execute(f"CREATE VIEW events AS SELECT * FROM "
                    f"'{stream_dir}/events.parquet/*.parquet'")
    else:
        for t in os.listdir(tables_dir):
            if t.endswith(".parquet"):
                con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM '{tables_dir}/{t}'")
    oracle = record["oracle_sql"]
    results = {}
    for name, path in sorted(record["checks"].items()):
        key = "stream_window_counts" if name == "drained" else name
        if key not in oracle:
            results[name] = "no oracle SQL"
            continue
        try:
            got = read_drained(path) if name == "drained" else pd.read_parquet(path)
            want = oracle_result(con, oracle[key], os.path.join(cache_dir, record["workload"]))
            results[name] = compare(got, want)
        except Exception as e:  # an unreadable output is a failed check
            results[name] = f"check failed: {e}"
    return results
