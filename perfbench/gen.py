"""Seeded, single-process input generators for the benchmark.

Every table is a pure function of its arguments: the same seed and sizes
give byte-identical parquet files. Tables follow the fixture layout the
engine reads (one `<table>.parquet` file per table, same column names and
types, values from the same domains), so the engine sees only generated
inputs and never learns which workload it serves.
"""
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("fast spark line small customer group row the query stream key agg scan "
         "slow table part a merge window order column join vector value hash "
         "batch sort data big filter dup").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]


def write_table(columns, path):
    """Writes one parquet file atomically (temp name, then rename)."""
    tmp = path + ".tmp"
    pq.write_table(pa.table(columns), tmp)
    os.replace(tmp, path)


def embedding_array(x):
    """(n, d) float32 matrix -> ARRAY<FLOAT> column."""
    n, d = x.shape
    offsets = pa.array(np.arange(0, n * d + 1, d, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(x.ravel(), pa.float32()))


def points(seed, n, d):
    """K-Means input like the fixture's embeddings: iid N(0, 0.15) float32
    values and a label in 0..9. Returns (x (n, d), label (n,))."""
    rng = np.random.default_rng([seed, n, d])
    x = rng.normal(0.0, 0.15, (n, d)).astype(np.float32)
    return x, rng.integers(0, 10, n, dtype=np.int32)


def write_embeddings(path, x, label):
    write_table({"vec_id": pa.array(np.arange(len(x), dtype=np.int64)),
                 "embedding": embedding_array(x),
                 "label": pa.array(label, pa.int32())}, path)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    """Midnight timestamps (microseconds) uniform in [start, end]."""
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def fixture(dest, seed, sf):
    """All ten fixture tables at scale factor `sf` under `dest`."""
    rng = np.random.default_rng([seed, int(sf * 1e6)])
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = max(600, int(6_000_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    def out(name, cols):
        write_table(cols, os.path.join(dest, f"{name}.parquet"))

    out("region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                   "r_name": REGIONS})
    out("nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    out("customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    out("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    out("part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    out("orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": pa.array(_days(rng, datetime(1995, 1, 1), datetime(2001, 8, 1), n_ord)),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    out("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 4000, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(_days(rng, datetime(1995, 1, 2), datetime(2001, 11, 4), n_line))})
    start = np.datetime64(datetime(2024, 1, 1), "us")
    month_us = int(timedelta(days=30).total_seconds() * 1e6)
    out("events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(start + np.sort(rng.integers(0, month_us, n_ev)).astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_ev, dtype=np.int64)),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": _money(rng, 0.01, 490.02, n_ev),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), m))
             for m in rng.integers(8, 101, n_docs)]
    out("documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, 5, n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    x, label = points(seed, n_emb, 64)
    write_embeddings(os.path.join(dest, "embeddings.parquet"), x, label)
