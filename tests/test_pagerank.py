"""PageRank correctness vs the reference update rule (numpy oracle) —
mirrors ``tests/link_analysis/test_pagerank.py:157-212`` (allclose gate)."""

import importlib
import re

import numpy as np
import pytest

from conftest import karate_edges, pagerank_oracle, seeded_graph

from cugraph_spark.graph import LinkGraph
from cugraph_spark.operators.pagerank import pagerank
from cugraph_spark.operators.wcc import weakly_connected_components


def _build(spark, edges, directed=True):
    df = spark.createDataFrame([(int(s), int(d)) for s, d in edges], "src LONG, dst LONG")
    return LinkGraph.from_edges(df, directed=directed, num_partitions=8)


def _check(result_df, oracle, tol=1e-6):
    got = {r["vertex"]: r["pagerank"] for r in result_df.collect()}
    assert set(got) == set(oracle)
    for v in oracle:
        assert abs(got[v] - oracle[v]) <= tol, (v, got[v], oracle[v])
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_karate(spark, karate_df):
    g = LinkGraph.from_edges(karate_df, directed=True, num_partitions=8)
    res = pagerank(g, alpha=0.85, tol=1e-6, max_iter=500)
    assert res.converged
    oracle = pagerank_oracle(karate_edges(), tol=1e-8, max_iter=1000)
    _check(res.ranks, oracle)
    g.unpersist()


def test_pagerank_dangling(spark):
    # a directed graph with sinks: dangling-mass redistribution must kick in
    edges = [(0, 1), (1, 2), (2, 0), (0, 3), (1, 3), (4, 0)]  # 3 is a sink
    g = _build(spark, edges)
    res = pagerank(g, tol=1e-8, max_iter=500)
    oracle = pagerank_oracle(edges, tol=1e-10, max_iter=2000)
    _check(res.ranks, oracle, tol=1e-7)
    g.unpersist()


def test_pagerank_personalization(spark):
    edges = seeded_graph(50, 120, seed=3)
    g = _build(spark, edges)
    pers_map = {0: 0.7, 5: 0.2, 10: 0.1}
    pers = spark.createDataFrame(list(pers_map.items()), "vertex LONG, values DOUBLE")
    res = pagerank(g, personalization=pers, tol=1e-8, max_iter=500)
    oracle = pagerank_oracle(edges, tol=1e-10, max_iter=2000, personalization=pers_map)
    _check(res.ranks, oracle, tol=1e-7)
    g.unpersist()


def test_pagerank_raw_ids_beyond_int(spark):
    """renumber=False keeps raw ids; ids past 2^31 must stay long-keyed
    (ids are narrowed to int only when they all fit)."""
    base = 3_000_000_000
    edges = [(base + s, base + d) for s, d in seeded_graph(20, 40, seed=5)]
    df = spark.createDataFrame(edges, "src LONG, dst LONG")
    g = LinkGraph.from_edges(df, directed=True, renumber=False, num_partitions=8)
    res = pagerank(g, tol=1e-8, max_iter=500)
    _check(res.ranks, pagerank_oracle(edges, tol=1e-10, max_iter=2000), tol=1e-7)
    g.unpersist()


def test_pagerank_raw_ids_nstart_beyond_int(spark, karate_df):
    """A renumber=False graph whose ids fit int is int-keyed; an nstart id
    beyond int is no vertex of it and must be ignored, not overflow."""
    g = LinkGraph.from_edges(karate_df, directed=True, renumber=False, num_partitions=8)
    nstart = spark.createDataFrame(
        [(i, 1.0) for i in range(34)] + [(5_000_000_000, 0.0)],
        "vertex LONG, values DOUBLE",
    )
    res = pagerank(g, tol=1e-10, max_iter=1000, nstart=nstart)
    _check(res.ranks, pagerank_oracle(karate_edges(), tol=1e-10, max_iter=2000), tol=1e-7)
    g.unpersist()


def test_pagerank_nstart_converges_same(spark, karate_df):
    g = LinkGraph.from_edges(karate_df, directed=True, num_partitions=8)
    nstart = spark.createDataFrame(
        [(i, float(i + 1)) for i in range(34)], "vertex LONG, values DOUBLE"
    )
    res = pagerank(g, tol=1e-10, max_iter=1000, nstart=nstart)
    oracle = pagerank_oracle(karate_edges(), tol=1e-10, max_iter=2000)
    _check(res.ranks, oracle, tol=1e-7)
    g.unpersist()


def test_pagerank_nonconvergence_raises(spark, karate_df):
    g = LinkGraph.from_edges(karate_df, directed=True, num_partitions=8)
    with pytest.raises(RuntimeError):
        pagerank(g, tol=1e-12, max_iter=2, fail_on_nonconvergence=True)
    g.unpersist()


def test_pagerank_parallelism_invariance(spark, karate_df):
    """local[2]-style vs local[8]-style partitioning must give identical
    results (SURVEY §5.2 item 4 — the SG-vs-MG analog)."""
    g2 = LinkGraph.from_edges(karate_df, directed=True, num_partitions=2)
    g8 = LinkGraph.from_edges(karate_df, directed=True, num_partitions=8)
    r2 = {r["vertex"]: r["pagerank"] for r in pagerank(g2, tol=1e-8, max_iter=500).ranks.collect()}
    r8 = {r["vertex"]: r["pagerank"] for r in pagerank(g8, tol=1e-8, max_iter=500).ranks.collect()}
    for v in r2:
        assert np.isclose(r2[v], r8[v], atol=1e-12)
    g2.unpersist()
    g8.unpersist()


def test_pagerank_fused_bit_identical(spark):
    """fuse=k chains k supersteps into one materialization with dangling
    mass derived from the sink-flow recurrence; results must match the
    exact single-step path bit-for-bit (pagerank.py docstring contract),
    including on a graph WITH dangling vertices."""
    edges = seeded_graph(60, 150, seed=7) + [(1, 59), (2, 58)]
    # drop all out-edges of a few vertices to force sinks in the directed view
    edges = [(s, d) for s, d in edges if s not in (58, 59)]
    g = _build(spark, edges)
    exact = {
        r["vertex"]: r["pagerank"]
        for r in pagerank(g, tol=0.0, max_iter=9, fuse=1,
                          fail_on_nonconvergence=False).ranks.collect()
    }
    for k in (3, 4):
        fused = {
            r["vertex"]: r["pagerank"]
            for r in pagerank(g, tol=0.0, max_iter=9, fuse=k,
                              fail_on_nonconvergence=False).ranks.collect()
        }
        assert set(fused) == set(exact)
        for v in exact:
            assert fused[v] == exact[v], (k, v, fused[v], exact[v])
    g.unpersist()


# ------------------------------------------------------ superstep mechanics
class _Truncations:
    """Wraps ``truncate_state`` as one operator module calls it.  At each
    return it records the Spark jobs run so far (counted in a job group of
    its own), the digit count of the returned state's sizeInBytes, its
    ``id`` column type and, with ``plans=True``, the executed plan of the
    frame it materialized."""

    def __init__(self, monkeypatch, spark, module: str, plans: bool = False):
        sc = spark.sparkContext
        group = f"truncations-{module}"
        self.jobs, self.digits, self.id_types, self.plans = [], [], [], []
        mod = importlib.import_module(f"cugraph_spark.operators.{module}")
        orig = mod.truncate_state

        def wrapped(df, num_partitions=None, *key_cols):
            if plans:
                framed = df.repartition(num_partitions, *key_cols) if key_cols else df
                self.plans.append(framed._jdf.queryExecution().executedPlan().toString())
            out = orig(df, num_partitions, *key_cols)
            self.jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
            size = out._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            self.digits.append(len(str(size)))
            self.id_types.append(dict(out.dtypes).get("id"))
            return out

        monkeypatch.setattr(mod, "truncate_state", wrapped)
        sc.setJobGroup(group, group)
        self._sc = sc

    def close(self) -> None:
        self._sc.setLocalProperty("spark.jobGroup.id", None)


@pytest.mark.parametrize("renumber", [True, False])
def test_pagerank_superstep_one_exchange_one_job(spark, karate_df, monkeypatch, renumber):
    """A materialized superstep on an int-narrowed graph shuffles the
    E-row contributions once, on ``dst``, joins on no cast id key, and runs
    as exactly one Spark job — with AQE at the session default.  Raw ids
    (renumber=False) that fit int are narrowed like dense ones."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    # default partitioning: the graph takes the session's shuffle partitions,
    # so the groupBy(dst) lands on the same hash(id) layout as the state
    g = LinkGraph.from_edges(karate_df, directed=True, renumber=renumber)
    n = g.num_partitions
    rec = _Truncations(monkeypatch, spark, "pagerank", plans=True)
    try:
        res = pagerank(g, tol=0.0, max_iter=4, fail_on_nonconvergence=False)
    finally:
        rec.close()
    assert res.iterations == 4
    # one truncate_state per superstep, after the ones before the loop
    supersteps = rec.jobs[-(res.iterations + 1):]
    assert [b - a for a, b in zip(supersteps, supersteps[1:])] == [1] * 4
    assert rec.id_types[-res.iterations:] == ["int"] * 4, rec.id_types
    for plan in rec.plans[-res.iterations:]:
        exchanges = [ln.strip() for ln in plan.splitlines() if "Exchange" in ln]
        assert len(exchanges) == 1, exchanges
        assert re.search(rf"Exchange hashpartitioning\(dst#\d+, {n}\)", exchanges[0]), exchanges
        assert "cast(id" not in plan, plan
    g.unpersist()


def test_truncate_state_stats_stay_exact(spark, karate_df, monkeypatch):
    """After 120 supersteps the state's sizeInBytes has as many digits as
    after superstep 1: the materialized size, not an estimate compounded
    through every superstep's join (which doubled the digit count per
    iteration until Catalyst's BigInteger overflowed)."""
    n = 120
    g = LinkGraph.from_edges(karate_df, directed=True, num_partitions=8)
    rec = _Truncations(monkeypatch, spark, "pagerank")
    try:
        res = pagerank(g, tol=0.0, max_iter=n, fail_on_nonconvergence=False)
    finally:
        rec.close()
    assert res.iterations == n
    assert rec.digits[-1] == rec.digits[-n], rec.digits
    g.unpersist()

    # WCC with pointer jumping off moves the minimum label one hop per
    # round.  On the path 0-1-...-(n+1) the minimum internal id is vertex 1
    # (degree-ranked renumbering), n hops from the far end: n label-changing
    # rounds, +1 to see none change
    path = spark.createDataFrame([(i, i + 1) for i in range(n + 1)], "src LONG, dst LONG")
    gp = LinkGraph.from_edges(path, directed=False, num_partitions=8)
    rec = _Truncations(monkeypatch, spark, "wcc")
    try:
        out = weakly_connected_components(gp, max_iter=n + 5, shortcutting=False)
    finally:
        rec.close()
    assert {r["labels"] for r in out.collect()} == {0}
    assert len(rec.digits) == 1 + n + 1  # initial labels + rounds
    assert rec.digits[-1] == rec.digits[1], rec.digits
    gp.unpersist()
