"""Reference results the program's own oracle module has no fast form for."""

from __future__ import annotations

import numpy as np


def triangle_counts(edges: np.ndarray, n: int) -> np.ndarray:
    """Per-vertex triangle counts on the symmetrized simple graph, counted
    by DuckDB over the canonical (a < b) edge set."""
    import duckdb
    import pandas as pd

    und = np.unique(np.sort(edges[edges[:, 0] != edges[:, 1]], axis=1), axis=0)
    con = duckdb.connect()
    try:
        con.register("und", pd.DataFrame(und, columns=["a", "b"]))
        got = con.execute(
            """
            WITH tri AS (
                SELECT e1.a AS x, e1.b AS y, e2.b AS z
                FROM und e1
                JOIN und e2 ON e2.a = e1.b
                JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
            )
            SELECT v, count(*) AS c FROM (
                SELECT x AS v FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri
            ) GROUP BY v
            """
        ).fetchnumpy()
    finally:
        con.close()
    out = np.zeros(n, dtype=np.int64)
    out[got["v"].astype(np.int64)] = got["c"]
    return out


def pagerank_from(edges: np.ndarray, init: np.ndarray, iters: int, damping: float = 0.85) -> np.ndarray:
    """``iters`` pull-PageRank supersteps from the rank vector ``init``:
    r(v) = (1-d) + d * sum r(u)/outdeg(u) over deduplicated edges, dangling
    vertices contributing nothing (linkgraph's pinned convention)."""
    e = np.unique(edges[edges[:, 0] != edges[:, 1]], axis=0)
    n = len(init)
    deg = np.bincount(e[:, 0], minlength=n).astype(np.float64)
    rank = init.astype(np.float64)
    for _ in range(iters):
        sums = np.zeros(n)
        np.add.at(sums, e[:, 1], rank[e[:, 0]] / deg[e[:, 0]])
        rank = (1.0 - damping) + damping * sums
    return rank
