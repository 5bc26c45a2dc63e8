"""Exact replica of `GraphQueries.pageRankConverged` for the output check.

Same fixed-point grid and update as the Scala code (ranks in units of
1e-6, integer division, 0.85 damping, every customer/supplier trading
pair an edge both ways) and the same stopping rule: iterate until the
largest rank change is at most 1000 ppm of the largest rank, or 60
iterations.
"""
import numpy as np
import pandas as pd

BASE, DAMP, SUPP_OFFSET = 150_000, 85, 1 << 40
EPS_PPM, MAX_ITERS = 1000, 60


def converged(con) -> pd.DataFrame:
    """Ranks over the tables registered on DuckDB connection `con`."""
    pairs = con.execute(
        f"SELECT DISTINCT o_custkey AS c, l_suppkey + {SUPP_OFFSET} AS p "
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey").fetchnumpy()
    src = np.concatenate([pairs["c"], pairs["p"]]).astype(np.int64)
    dst = np.concatenate([pairs["p"], pairs["c"]]).astype(np.int64)
    nodes, s = np.unique(src, return_inverse=True)
    d = np.searchsorted(nodes, dst)
    deg = np.bincount(s, minlength=len(nodes)).astype(np.int64)

    def step(r: np.ndarray) -> np.ndarray:
        # float64 sums stay exact: every partial sum is far below 2**53
        acc = np.bincount(d, weights=r[s] // deg[s], minlength=len(nodes))
        return BASE + (DAMP * acc.astype(np.int64)) // 100

    r = step(np.full(len(nodes), 1_000_000, dtype=np.int64))
    iters = 1
    while iters < MAX_ITERS:
        nxt = step(r)
        delta, top = int(np.abs(nxt - r).max()), int(nxt.max())
        r, iters = nxt, iters + 1
        if delta <= top * EPS_PPM / 1e6:
            break
    return pd.DataFrame({"node_id": nodes, "rank_scaled": r})
