"""Deterministic synthetic input tables for the benchmark.

The engine's queries read ten parquet tables (a TPC-H-like star schema,
an `events` log, `documents` and `embeddings`). This module writes them
from a seed with the same schemas, parquet encoding and value
distributions as the seed-42 tables the engine is developed against, so
every query the benchmark runs has inputs of the shape it expects:

* TPC-H-like tables: uniform keys and values, `o_orderdate`/`l_shipdate`
  as microsecond TIMESTAMP days;
* `events`: time-ordered over 30 days with exponential gaps,
  exponential `value`s with mean 50 and `props` = `{"k": <0..99>}`;
* `documents`: 10-100 words from a 30-word vocabulary; every doc with
  `doc_id % 20 == 11` copies a random doc's text and appends " dup";
* `embeddings`: 64-dim unit Gaussian float vectors with labels 0-9.

The stream backlog is a separate `events` set: `STREAM_ROWS` events
over `STREAM_HOURS` hours, split in event-time order into
`STREAM_FILES` files whose modification times increase with event time,
so a file source replays them oldest first and no row arrives behind
the watermark.
"""
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

STREAM_ROWS = 12800
STREAM_HOURS = 16
STREAM_FILES = 64

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _days(rng, n, first, last):
    lo, hi = np.datetime64(first, "D"), np.datetime64(last, "D")
    d = lo + rng.integers(0, (hi - lo).astype(int) + 1, n).astype("timedelta64[D]")
    return d.astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _events(rng, n, start, span_s, n_users):
    gaps = rng.exponential(span_s / n, n)
    offs = np.cumsum(gaps)
    offs = offs * (span_s * (1 - 1e-6) / offs[-1])  # keep the last event inside the span
    ts = np.datetime64(start, "us") + (offs * 1e6).astype("timedelta64[us]")
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def tables(seed: int, sf: float) -> dict:
    """Every table as a DataFrame, from `seed` at scale factor `sf`."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line = int(1500000 * sf), int(6000000 * sf)
    n_docs, n_vecs = max(500, int(50000 * sf)), max(500, int(20000 * sf))
    t = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    keys = np.arange(n_part, dtype=np.int64)
    t["part"] = pd.DataFrame({
        "p_partkey": keys,
        "p_name": [f"{ADJECTIVES[a]} {NOUNS[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (keys % 1000) / 10.0, 1)})
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04")})
    t["events"] = _events(rng, int(1000000 * sf), "2024-01-01", 30 * 86400,
                          int(15000 * sf))
    texts = [" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), k)])
             for k in rng.integers(10, 101, n_docs)]
    for i in range(11, n_docs, 20):
        texts[i] = texts[rng.integers(0, n_docs)] + " dup"
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    vecs = rng.standard_normal((n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32)})
    return t


def stream_events(seed: int) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 1])
    return _events(rng, STREAM_ROWS, "2024-03-01", STREAM_HOURS * 3600, 1500)


def write(out_dir: str, seed: int, sf: float) -> None:
    """Write the tables to `<out_dir>/tables` and the stream backlog to
    `<out_dir>/stream`; a `DONE` marker makes a finished set reusable."""
    if os.path.exists(os.path.join(out_dir, "DONE")):
        return
    tdir, sdir = os.path.join(out_dir, "tables"), os.path.join(out_dir, "stream")
    os.makedirs(tdir, exist_ok=True)
    for name, df in tables(seed, sf).items():
        if name == "embeddings":
            arr = pa.Table.from_pandas(df, schema=pa.schema([
                ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                ("label", pa.int32())]), preserve_index=False)
        else:
            arr = pa.Table.from_pandas(df, preserve_index=False)
        pq.write_table(arr, os.path.join(tdir, f"{name}.parquet"))
    ev = stream_events(seed)
    edir = os.path.join(sdir, "events.parquet")
    os.makedirs(edir, exist_ok=True)
    bounds = np.linspace(0, len(ev), STREAM_FILES + 1).astype(int)
    stamp = 1_700_000_000
    for i in range(STREAM_FILES):
        path = os.path.join(edir, f"part-{i:05d}.parquet")
        pq.write_table(pa.Table.from_pandas(ev.iloc[bounds[i]:bounds[i + 1]],
                                            preserve_index=False), path)
        os.utime(path, (stamp + i, stamp + i))
    open(os.path.join(out_dir, "DONE"), "w").close()
