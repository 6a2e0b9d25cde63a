"""Exact pins for BFS, SSSP, HITS and eigenvector centrality.

BFS and SSSP are checked against networkx on graphs whose external ids are
not dense (so the predecessor column goes through the renumber map); HITS
and eigenvector with ``tol=0`` are checked against the dense numpy iterate
after exactly ``max_iter`` steps, which pins the iteration count as well as
the update rule.
"""

from __future__ import annotations

import networkx as nx
import numpy as np
import pytest

from cugraph_spark.graph import LinkGraph
from cugraph_spark.operators import bfs, eigenvector_centrality, hits, sssp

from conftest import seeded_graph


def _ext(v: int) -> int:
    return 10 * v + 3


def _digraph(seed: int, n: int = 40, m: int = 90):
    """Seeded directed edge list [(s, d, w)] with non-unit weights (exact
    binary fractions), no parallel edges, some vertices without in- or
    out-edges."""
    rng = np.random.default_rng(seed)
    edges = {}
    while len(edges) < m:
        s, d = int(rng.integers(0, n)), int(rng.integers(0, n))
        if s != d:
            edges[(s, d)] = float(rng.integers(1, 40)) * 0.25
    return [(_ext(s), _ext(d), w) for (s, d), w in sorted(edges.items())]


def _graph(spark, edges, directed=True):
    df = spark.createDataFrame(edges, "src LONG, dst LONG, w DOUBLE")
    return LinkGraph.from_edges(df, weight="w", directed=directed)


def test_bfs_depth_limit_matches_networkx(spark):
    und = [(_ext(a), _ext(b), 1.0) for a, b in seeded_graph(60, 75, seed=11)]
    g = _graph(spark, und, directed=False)
    G = nx.Graph([(a, b) for a, b, _ in und])
    src = _ext(0)
    rows = bfs(g, src, depth_limit=2).collect()
    got = {r["vertex"]: r["distance"] for r in rows}
    assert got == nx.single_source_shortest_path_length(G, src, cutoff=2)
    assert max(nx.single_source_shortest_path_length(G, src).values()) > 2
    for r in rows:
        v, d, p = r["vertex"], r["distance"], r["predecessor"]
        if v == src:
            assert p == -1
            continue
        # predecessor: the smallest internal id among the neighbours one
        # level up; internal ids are degree-ranked, so check the level only
        assert G.has_edge(p, v) and got[p] == d - 1, (v, p)
    g.unpersist()


def test_sssp_weighted_matches_dijkstra(spark):
    edges = _digraph(seed=5)
    g = _graph(spark, edges)
    G = nx.DiGraph()
    G.add_weighted_edges_from(edges)
    src = edges[0][0]
    want = nx.single_source_dijkstra_path_length(G, src)
    rows = sssp(g, src).collect()
    dist = {r["vertex"]: r["distance"] for r in rows}
    assert dist == pytest.approx(want, abs=1e-12)
    assert set(dist) == set(want)
    for r in rows:
        v, p = r["vertex"], r["predecessor"]
        if v == src:
            assert p == -1
            continue
        # every predecessor lies on a shortest path to v
        assert G.has_edge(p, v), (v, p)
        assert dist[p] + G[p][v]["weight"] == pytest.approx(dist[v], abs=1e-12)
    g.unpersist()


def _dense(edges):
    """(vertex list, index, W[s, d] = w) over the external ids."""
    verts = sorted({v for e in edges for v in e[:2]})
    idx = {v: i for i, v in enumerate(verts)}
    W = np.zeros((len(verts), len(verts)))
    for s, d, w in edges:
        W[idx[s], idx[d]] = w
    return verts, idx, W


@pytest.mark.parametrize("with_nstart", [False, True])
def test_hits_three_steps_match_numpy(spark, with_nstart):
    edges = _digraph(seed=7)
    g = _graph(spark, edges)
    verts, idx, W = _dense(edges)
    A = (W > 0).astype(float)
    n = len(verts)
    hub = np.full(n, 1.0 / n)
    nstart = None
    if with_nstart:
        start = {verts[i]: float(i % 5 + 1) for i in range(0, n, 3)}
        for v, x in start.items():
            hub[idx[v]] = x
        nstart = spark.createDataFrame(list(start.items()), "vertex LONG, values DOUBLE")
    auth = np.full(n, 1.0 / n)
    for _ in range(3):
        auth = A.T @ hub
        hub = A @ auth
        hub, auth = hub / hub.max(), auth / auth.max()
    hub, auth = hub / hub.sum(), auth / auth.sum()
    rows = hits(g, max_iter=3, tol=0.0, nstart=nstart).collect()
    assert len(rows) == n
    for r in rows:
        i = idx[r["vertex"]]
        assert abs(r["hubs"] - hub[i]) < 1e-12, r
        assert abs(r["authorities"] - auth[i]) < 1e-12, r
    g.unpersist()


def test_eigenvector_three_steps_match_numpy(spark):
    edges = _digraph(seed=9)
    g = _graph(spark, edges)
    verts, idx, W = _dense(edges)
    x = np.full(len(verts), 1.0 / len(verts))
    for _ in range(3):
        x = W.T @ x
        x = x / np.linalg.norm(x)
    rows = eigenvector_centrality(g, max_iter=3, tol=0.0).collect()
    assert len(rows) == len(verts)
    for r in rows:
        assert abs(r["eigenvector_centrality"] - x[idx[r["vertex"]]]) < 1e-12, r
    g.unpersist()
