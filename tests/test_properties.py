"""t4 property-based tests.

Fast layer: hypothesis-generated random digraphs (≤60 vertices) check the
pure oracle against networkx invariants (WCC equivalence classes, triangle
totals, PageRank lower bound & relabeling invariance).

Spark layer: a few seeded random digraphs through the full Spark engine vs
the oracle (kept small — each Spark run costs seconds).
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from linkgraph import oracle

try:
    import networkx as nx

    HAS_NX = True
except ImportError:  # pragma: no cover
    HAS_NX = False


@st.composite
def digraphs(draw):
    n = draw(st.integers(min_value=2, max_value=60))
    m = draw(st.integers(min_value=0, max_value=150))
    edges = draw(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=n - 1),
                st.integers(min_value=0, max_value=n - 1),
            ),
            min_size=m,
            max_size=m,
        )
    )
    arr = np.array([(s, d) for s, d in edges if s != d], dtype=np.int64).reshape(-1, 2)
    return n, arr


@settings(max_examples=60, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(digraphs())
def test_oracle_wcc_matches_networkx(g):
    n, edges = g
    if not HAS_NX:
        pytest.skip("networkx missing")
    comp = oracle.wcc(edges, n)
    G = nx.DiGraph()
    G.add_nodes_from(range(n))
    G.add_edges_from(map(tuple, edges))
    for cc in nx.weakly_connected_components(G):
        ids = sorted(cc)
        assert all(comp[v] == ids[0] for v in ids)


@settings(max_examples=40, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(digraphs())
def test_oracle_triangles_match_networkx(g):
    n, edges = g
    if not HAS_NX:
        pytest.skip("networkx missing")
    tri = oracle.triangle_counts(edges, n)
    G = nx.Graph()
    G.add_nodes_from(range(n))
    G.add_edges_from(map(tuple, edges))
    G.remove_edges_from(nx.selfloop_edges(G))
    nxt = nx.triangles(G)
    assert all(tri[v] == nxt[v] for v in range(n))


@settings(max_examples=40, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(digraphs())
def test_oracle_pagerank_invariants(g):
    n, edges = g
    ranks, _ = oracle.pagerank(edges, n, max_iters=30)
    # every rank >= 1 - d (dangling floor), and finite
    assert (ranks >= 0.15 - 1e-12).all()
    assert np.isfinite(ranks).all()
    # relabeling invariance: permute vertex ids, scores follow the permutation
    perm = np.random.default_rng(7).permutation(n)
    p_edges = perm[edges].reshape(-1, 2) if len(edges) else edges
    p_ranks, _ = oracle.pagerank(p_edges, n, max_iters=30)
    assert np.allclose(p_ranks[perm], ranks, atol=1e-12)


@settings(max_examples=40, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(digraphs())
def test_oracle_lp_partition_consistency(g):
    n, edges = g
    labels = oracle.label_propagation(edges, n, iters=5)
    # labels are valid vertex ids; isolated vertices keep their own label
    assert ((labels >= 0) & (labels < n)).all()
    sym = oracle.symmetrize(edges)
    touched = set(sym[:, 0].tolist()) if len(sym) else set()
    for v in range(n):
        if v not in touched:
            assert labels[v] == v


SEEDED_GRAPHS = [(30, 80, 1), (50, 200, 2), (60, 60, 3)]


@pytest.mark.parametrize("n,m,seed", SEEDED_GRAPHS)
def test_spark_engine_matches_oracle_random(spark, n, m, seed):
    from linkgraph.algos import label_propagation, pagerank, triangle_counts, wcc
    from linkgraph.synth import edges_df

    rng = np.random.default_rng(seed)
    raw = rng.integers(0, n, size=(m, 2))
    arr = np.unique(raw[raw[:, 0] != raw[:, 1]], axis=0)
    e = edges_df(spark, arr, partitions=4)
    verts = spark.range(n).selectExpr("id")

    pr = pagerank(spark, e, vertices=verts, max_iters=10, eps=0.0)
    got = pr.state.select("id", "rank").toPandas().sort_values("id")["rank"].to_numpy()
    want, _ = oracle.pagerank(arr, n, max_iters=10, eps=0.0)
    assert np.allclose(got, want, atol=1e-12)

    cw = wcc(spark, e, vertices=verts)
    got = cw.state.select("id", "comp").toPandas().sort_values("id")["comp"].to_numpy()
    assert (got == oracle.wcc(arr, n)).all()

    from linkgraph.algos import wcc_star

    cs = wcc_star(spark, e, vertices=verts)
    got = cs.state.select("id", "comp").toPandas().sort_values("id")["comp"].to_numpy()
    assert (got == oracle.wcc(arr, n)).all()

    lp = label_propagation(spark, e, vertices=verts, iters=5)
    got = lp.state.select("id", "label").toPandas().sort_values("id")["label"].to_numpy()
    assert (got == oracle.label_propagation(arr, n, iters=5)).all()

    tc = triangle_counts(spark, e, vertices=verts)
    got = tc.toPandas().sort_values("id")["tri"].to_numpy()
    assert (got == oracle.triangle_counts(arr, n)).all()


# ---- star-contraction formulation (pure-Python mirror of algos/wcc.py's
# DataFrame ops) — hypothesis-checked against the oracle so the algorithm
# itself stays provably correct independent of the Spark plumbing


def _py_large_star(E):
    nb: dict[int, set] = {}
    for a, b in E:
        nb.setdefault(a, set()).add(b)
        nb.setdefault(b, set()).add(a)
    out = set()
    for u, N in nb.items():
        m = min(N | {u})
        for v in N:
            if v > u and v != m:
                out.add((v, m))
    return out


def _py_small_star(E):
    nb: dict[int, set] = {}
    for a, b in E:
        nb.setdefault(a, set()).add(b)
        nb.setdefault(b, set()).add(a)
    out = set()
    for u, N in nb.items():
        Nm = {v for v in N if v < u}
        if not Nm:
            continue
        m = min(Nm)
        for v in Nm:
            if v != m:
                out.add((v, m))
        if u != m:
            out.add((u, m))
    return out


@settings(max_examples=60, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(digraphs())
def test_star_contraction_formulation_matches_oracle_wcc(g):
    n, edges = g
    E = {(int(a), int(b)) for a, b in edges if a != b}
    prev = None
    for _ in range(100):
        E = _py_small_star(_py_large_star(E))
        if E == prev:
            break
        prev = set(E)
    else:  # pragma: no cover
        raise AssertionError("star contraction did not converge")
    comp = {v: v for v in range(n)}
    for v, r in E:
        comp[v] = r
    want = oracle.wcc(edges, n)
    for v in range(n):
        assert comp[v] == want[v]


def test_spark_scc_cross_color_mark_collision(spark):
    """Regression: in the backward sweep, marks of SEVERAL colors can reach
    one vertex in the same superstep (here root 1's mark and root 5's mark
    both hit vertex 7). A min-combiner over the mark colors dropped the
    matching color and split the {5,6,7} SCC into singletons."""
    from linkgraph.algos import scc

    if not HAS_NX:
        pytest.skip("networkx missing")
    edges = [(5, 6), (6, 7), (7, 5), (1, 2), (2, 1), (7, 1)]
    df = spark.createDataFrame(edges, "src_id long, dst_id long")
    res = scc(spark, df)
    got = {r["id"]: r["comp"] for r in res.state.collect()}
    assert got == {1: 1, 2: 1, 5: 5, 6: 5, 7: 5}


def test_betweenness_duplicate_pivots_are_deduped(spark):
    """pivots=[3,3] must equal pivots=[3] — duplicated pivot state rows
    would compound sigma every BFS level (silently wrong bc)."""
    from linkgraph.algos import betweenness

    edges = [(0, 1), (1, 2), (2, 3), (3, 4), (1, 3)]
    df = spark.createDataFrame(edges, "src_id long, dst_id long")
    one = {r["id"]: r["bc"] for r in betweenness(spark, df, pivots=[3]).state.collect()}
    dup = {r["id"]: r["bc"] for r in betweenness(spark, df, pivots=[3, 3]).state.collect()}
    assert one == dup


@pytest.mark.parametrize("seed", [3, 11])
def test_spark_scc_matches_networkx_random(spark, seed):
    """SCC (coloring/forward-backward with trimming) labels every vertex
    with the min id of its mutual-reachability class — checked against
    networkx strongly_connected_components on seeded random digraphs."""
    import random

    from linkgraph.algos import scc

    if not HAS_NX:
        pytest.skip("networkx missing")
    rng = random.Random(seed)
    n = 40
    edges = sorted({(rng.randrange(n), rng.randrange(n)) for _ in range(90)})
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src_id long, dst_id long")
    verts = spark.createDataFrame([(i,) for i in range(n)], "id long")
    res = scc(spark, df, vertices=verts)
    got = {r["id"]: r["comp"] for r in res.state.collect()}
    G = nx.DiGraph()
    G.add_nodes_from(range(n))
    G.add_edges_from(edges)
    want = {}
    for comp in nx.strongly_connected_components(G):
        m = min(comp)
        for v in comp:
            want[v] = m
    assert got == want


@pytest.mark.parametrize("seed", [5, 13])
def test_spark_betweenness_exact_matches_networkx(spark, seed):
    """With pivots = ALL vertices the batched Brandes run is exact: compare
    unnormalized directed betweenness against networkx on seeded random
    digraphs (float64 dependency sums — 1e-9 tolerance)."""
    import random

    from linkgraph.algos import betweenness

    if not HAS_NX:
        pytest.skip("networkx missing")
    rng = random.Random(seed)
    n = 25
    edges = sorted({(rng.randrange(n), rng.randrange(n)) for _ in range(70)})
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src_id long, dst_id long")
    verts = spark.createDataFrame([(i,) for i in range(n)], "id long")
    res = betweenness(spark, df, pivots=range(n), vertices=verts)
    got = {r["id"]: r["bc"] for r in res.state.collect()}
    G = nx.DiGraph()
    G.add_nodes_from(range(n))
    G.add_edges_from(edges)
    want = nx.betweenness_centrality(G, normalized=False)
    for v in range(n):
        assert abs(got[v] - want[v]) < 1e-9, (v, got[v], want[v])


@pytest.mark.parametrize("seed", [19, 23])
def test_spark_cycle_triangles_match_adjacency_cube(spark, seed):
    """Directed cycle triangles per vertex == diag(A^3) on seeded random
    digraphs (each directed 3-cycle contributes one closed length-3 walk
    per member; both orientations of a bidirectional triangle count as two
    distinct cycles)."""
    import random

    import numpy as np

    from linkgraph.algos.triangles import cycle_triangle_counts

    rng = random.Random(seed)
    n = 30
    edges = sorted({(rng.randrange(n), rng.randrange(n)) for _ in range(110)})
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src_id long, dst_id long")
    verts = spark.createDataFrame([(i,) for i in range(n)], "id long")
    got = {r["id"]: r["ctri"] for r in cycle_triangle_counts(spark, df, vertices=verts).collect()}
    A = np.zeros((n, n), dtype=np.int64)
    for a, b in edges:
        A[a, b] = 1
    want = np.diag(A @ A @ A)
    assert got == {i: int(want[i]) for i in range(n)}
