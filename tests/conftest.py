"""Shared fixtures: one local SparkSession per test run + fixture graphs
mirroring the reference's curated datasets (SURVEY §5, FIXTURES.md §2)."""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cugraph_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    # get_spark sizes the session to the host (SPARK_GRAFT_CPUS, else the
    # affinity CPU count): more local threads than cores only adds per-task
    # overhead to the many small jobs of the suite
    s = get_spark(app_name="cugraph_spark_tests", extra_conf={"spark.driver.memory": "8g"})
    yield s
    s.stop()


# --------------------------------------------------------------- fixture graphs
def karate_edges() -> list[tuple[int, int]]:
    """Zachary's karate club (public dataset; the reference tests on the same
    graph, ``datasets/karate.csv``): 34 vertices, 78 undirected edges →
    156 directed rows. Sourced from networkx's embedded copy."""
    import networkx as nx

    g = nx.karate_club_graph()
    out = []
    for u, v in g.edges():
        out.append((u, v))
        out.append((v, u))
    return sorted(out)


def seeded_graph(n: int, m: int, seed: int, connected: bool = True):
    """Deterministic random graph with n vertices / m undirected edges
    (FIXTURES.md allows seeded stand-ins with the reference shapes)."""
    rng = np.random.default_rng(seed)
    edges = set()
    if connected:
        perm = rng.permutation(n)
        for i in range(1, n):
            a, b = int(perm[i - 1]), int(perm[i])
            edges.add((min(a, b), max(a, b)))
    while len(edges) < m:
        a, b = int(rng.integers(0, n)), int(rng.integers(0, n))
        if a != b:
            edges.add((min(a, b), max(a, b)))
    out = []
    for a, b in sorted(edges):
        out.append((a, b))
        out.append((b, a))
    return out


def two_component_graph(seed: int = 7):
    """Two disjoint seeded communities — the karate_disjoint analog."""
    e1 = seeded_graph(34, 78, seed)
    e2 = [(a + 100, b + 100) for a, b in seeded_graph(34, 78, seed + 1)]
    return e1 + e2


@pytest.fixture(scope="session")
def karate_df(spark):
    rows = [(int(s), int(d)) for s, d in karate_edges()]
    return spark.createDataFrame(rows, "src LONG, dst LONG")


# ------------------------------------------------------------- numpy oracles
def pagerank_oracle(
    edges: list[tuple[int, int]],
    alpha: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 500,
    weights: dict | None = None,
    personalization: dict | None = None,
):
    """Dense power iteration implementing the reference update rule exactly
    (``cpp/src/link_analysis/pagerank_impl.cuh:238-333``): pre-divided
    contributions, dangling-mass redistribution, L1 stop."""
    verts = sorted({v for e in edges for v in e})
    idx = {v: i for i, v in enumerate(verts)}
    n = len(verts)
    W = np.zeros((n, n))
    for s, d in edges:
        w = weights.get((s, d), 1.0) if weights else 1.0
        W[idx[d], idx[s]] += w
    out_wsum = W.sum(axis=0)
    r = np.full(n, 1.0 / n)
    if personalization is not None:
        p = np.array([personalization.get(v, 0.0) for v in verts])
        p = p / p.sum()
    for _ in range(max_iter):
        dangling = r[out_wsum == 0].sum()
        contrib = np.where(out_wsum > 0, r / np.where(out_wsum > 0, out_wsum, 1.0), 0.0)
        gather = W @ contrib
        if personalization is None:
            new = alpha * gather + (alpha * dangling + (1 - alpha)) / n
        else:
            new = alpha * gather + (alpha * dangling + (1 - alpha)) * p
        l1 = np.abs(new - r).sum()
        r = new
        if l1 < tol:
            break
    return {v: float(r[idx[v]]) for v in verts}
