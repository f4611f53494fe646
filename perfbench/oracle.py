"""Independent references the benchmark checks the engine's outputs against.

* `lloyd_reference` is a plain loop with the engine's K-Means semantics:
  init = first K points by id, ties to the lower centroid id, vanished
  clusters dropped, means snapped to the 1e-`grid` decimal grid with
  HALF_UP, convergence when every centroid moved < eps.
* `compare_suite` runs each key's oracle SQL in DuckDB over the same
  parquet tables and compares it with the engine's dumped result: columns
  sorted by name, floats bitwise, everything else as text.
"""
import os
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def snap(v, grid):
    return float(Decimal(repr(float(v))).quantize(Decimal(1).scaleb(-grid), ROUND_HALF_UP)) + 0.0


def exact_sqdist(p, c):
    """Squared distance summed in index order, as the engine's kernel does."""
    acc = 0.0
    for a, b in zip(p.tolist(), c.tolist()):
        t = a - b
        acc += t * t
    return acc


def nearest(x, cents, sq_x):
    """Index of the nearest centroid per row, ties to the lower index.
    The expanded form finds the winner; rows whose best two are close enough
    for rounding to matter are decided again by the exact ordered sum.
    """
    d2 = sq_x[:, None] - 2.0 * (x @ cents.T) + (cents * cents).sum(axis=1)[None, :]
    best = np.argmin(d2, axis=1)
    if cents.shape[0] > 1:
        part = np.partition(d2, 1, axis=1)
        scale = sq_x + (cents * cents).sum(axis=1).max() + 1.0
        for i in np.nonzero(part[:, 1] - part[:, 0] <= 1e-9 * scale)[0]:
            exact = [exact_sqdist(x[i], c) for c in cents]
            best[i] = int(np.argmin(exact))
    return best


def lloyd_reference(x32, k, max_iter=10, eps=1e-6, grid=7):
    """Returns (centroids as [[cid, [coords]]] sorted by cid, iterations)."""
    x = x32.astype(np.float64)
    sq_x = (x * x).sum(axis=1)
    cids = list(range(1, k + 1))
    cents = x[:k].copy()
    iters, converged = 0, False
    while iters < max_iter and not converged:
        best = nearest(x, cents, sq_x)
        nxt_ids, nxt = [], []
        for j, cid in enumerate(cids):
            members = x[best == j]
            if len(members) == 0:
                continue
            nxt_ids.append(cid)
            nxt.append([snap(v, grid) for v in members.sum(axis=0) / len(members)])
        iters += 1
        prev = dict(zip(cids, cents))
        nxt = np.array(nxt)
        converged = len(nxt_ids) == len(cids) and all(
            np.sqrt(exact_sqdist(prev[c], v)) < eps for c, v in zip(nxt_ids, nxt))
        cids, cents = nxt_ids, nxt
    return [[c, v.tolist()] for c, v in zip(cids, cents)], iters


def _bitwise_neq(a, b):
    both_nan = np.isnan(a) & np.isnan(b)
    return (~(a == b) & ~both_nan) | ((a == b) & (np.signbit(a) != np.signbit(b)))


def compare_frames(exp, got):
    """None when equal, else a one-line reason."""
    exp = exp[sorted(exp.columns)]
    got = got[sorted(got.columns)]
    if list(exp.columns) != list(got.columns):
        return f"columns {list(exp.columns)} != {list(got.columns)}"
    if exp.shape != got.shape:
        return f"shape {exp.shape} != {got.shape}"
    for c in exp.columns:
        e, g = exp[c], got[c]
        if e.dtype.kind == "f" or g.dtype.kind == "f":
            neq = _bitwise_neq(e.astype(float).values, g.astype(float).values)
        else:
            neq = e.astype(str).values != g.astype(str).values
        if neq.any():
            i = int(np.argmax(neq))
            return f"{c}: {int(neq.sum())} rows differ, first at {i}: {e.iloc[i]!r} != {g.iloc[i]!r}"
    return None


def compare_suite(data_dir, results_dir, oracle_sql, keys):
    """{key: None | reason} for each key that has oracle SQL."""
    keys = [k for k in keys if k in oracle_sql]
    if not keys:
        return {}
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    out = {}
    for key in keys:
        try:
            exp = con.sql(oracle_sql[key]).df()
            got_path = os.path.join(results_dir, key)
            got = con.sql(f"SELECT * FROM read_parquet('{got_path}/*.parquet')").df()
            out[key] = compare_frames(exp, got)
        except Exception as e:  # an oracle or read error is a failed check
            out[key] = f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
    con.close()
    return out
