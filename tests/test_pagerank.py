"""PageRank correctness vs the reference update rule (numpy oracle) —
mirrors ``tests/link_analysis/test_pagerank.py:157-212`` (allclose gate)."""

import importlib
import re

import numpy as np
import pytest

from conftest import karate_edges, pagerank_oracle, seeded_graph

import cugraph_spark.graph as graph_mod
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
    """Wraps ``truncate_state`` as one module of ``cugraph_spark`` calls it
    (``module`` is its name under the package).  At each
    return it records the Spark jobs run so far (counted in a job group of
    its own), the digit count of the returned state's sizeInBytes, its
    ``id`` column type and, with ``plans=True``, the executed plan of the
    frame it materialized."""

    def __init__(self, monkeypatch, spark, module: str, plans: bool = False):
        sc = spark.sparkContext
        group = f"truncations-{module}"
        self.jobs, self.digits, self.id_types, self.plans = [], [], [], []
        mod = importlib.import_module(f"cugraph_spark.{module}")
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


@pytest.mark.parametrize(
    "renumber,own_partitions",
    [
        pytest.param(True, False, id="True"),
        pytest.param(False, False, id="False"),
        pytest.param(True, True, id="num_partitions"),
    ],
)
def test_pagerank_superstep_one_exchange_one_job(
    spark, karate_df, monkeypatch, renumber, own_partitions
):
    """A materialized superstep on an int-narrowed graph shuffles the
    E-row contributions once, on ``dst``, joins on no cast id key, and runs
    as exactly one Spark job — with AQE at the session default.  Raw ids
    (renumber=False) that fit int are narrowed like dense ones.  A graph
    built with a partition count other than the session's gets the same
    plan: the loop shuffles into the graph's count, and the session's
    count is back afterwards."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    session_parts = spark.conf.get("spark.sql.shuffle.partitions")
    # the loop pins the shuffle count to the graph's partitions, so the
    # groupBy(dst) lands on the same hash(id) layout as the state
    parts = int(session_parts) + 3 if own_partitions else None
    g = LinkGraph.from_edges(
        karate_df, directed=True, renumber=renumber, num_partitions=parts
    )
    n = g.num_partitions
    rec = _Truncations(monkeypatch, spark, "operators.pagerank", plans=True)
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
    assert spark.conf.get("spark.sql.shuffle.partitions") == session_parts
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    g.unpersist()


def test_checkpointed_superstep_task_budget(spark, karate_df, monkeypatch, tmp_path):
    """A checkpointed PageRank superstep on a small state runs 3 Spark jobs
    between consecutive ``truncate_state`` returns: the checkpoint write,
    its lineage aggregate and the next materialization.  The write and the
    lineage run one task each: the checkpoint is sized by the state's
    bytes, not by its partition count (4 here)."""
    from cugraph_spark.checkpoint import CheckpointManager

    g = LinkGraph.from_edges(karate_df, directed=True, num_partitions=4)
    sc = spark.sparkContext
    group = "truncations-operators.pagerank"
    before = set(sc.statusTracker().getJobIdsForGroup(group))
    rec = _Truncations(monkeypatch, spark, "operators.pagerank")
    try:
        res = pagerank(
            g, tol=0.0, max_iter=4, checkpointer=CheckpointManager(str(tmp_path), "pr"),
            fail_on_nonconvergence=False,
        )
    finally:
        rec.close()
    assert res.iterations == 4
    supersteps = rec.jobs[-(res.iterations + 1):]
    # no checkpoint before the first superstep
    assert [b - a for a, b in zip(supersteps, supersteps[1:])] == [1, 3, 3, 3], supersteps
    # the recorded counts include the group's jobs of earlier tests
    jobs = sorted(set(sc.statusTracker().getJobIdsForGroup(group)) - before)

    def tasks(job_id):
        stages = sc.statusTracker().getJobInfo(job_id).stageIds
        return sum(sc.statusTracker().getStageInfo(s).numCompletedTasks for s in stages)

    for start in supersteps[1:-1]:
        write, lineage, _next = jobs[start - len(before):start - len(before) + 3]
        assert (tasks(write), tasks(lineage)) == (1, 1)
    g.unpersist()


def test_truncate_state_stats_stay_exact(spark, karate_df, monkeypatch):
    """After 120 supersteps the state's sizeInBytes has as many digits as
    after superstep 1: the materialized size, not an estimate compounded
    through every superstep's join (which doubled the digit count per
    iteration until Catalyst's BigInteger overflowed)."""
    n = 120
    g = LinkGraph.from_edges(karate_df, directed=True, num_partitions=8)
    rec = _Truncations(monkeypatch, spark, "operators.pagerank")
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
    rec = _Truncations(monkeypatch, spark, "operators.wcc")
    try:
        out = weakly_connected_components(gp, max_iter=n + 5, shortcutting=False)
    finally:
        rec.close()
    assert {r["labels"] for r in out.collect()} == {0}
    assert len(rec.digits) == 1 + n + 1  # initial labels + rounds
    assert rec.digits[-1] == rec.digits[1], rec.digits
    gp.unpersist()


# case id → the module whose truncate_state the case's loop calls
_LOOPS = {
    "operators.wcc": "operators.wcc",
    "operators.lpa": "operators.lpa",
    "operators.centrality": "operators.centrality",
    "csr": "csr",
    "utilities": "utilities",
    "bfs": "operators.traversal",
    "sssp": "operators.traversal",
    "hits": "operators.centrality",
    "eigenvector": "operators.centrality",
    "spectral-balanced": "operators.spectral",
    "spectral-modularity": "operators.spectral",
    "scc": "operators.scc",
    "mst": "operators.mst",
}


def _run_loop(karate_df, case: str) -> None:
    """One run of the fixed-point loop of ``case`` on karate."""
    from cugraph_spark.csr import pagerank_csr
    from cugraph_spark.operators import (
        centrality,
        minimum_spanning_tree,
        spectral,
        strongly_connected_components,
        traversal,
    )
    from cugraph_spark.operators.lpa import label_propagation
    from cugraph_spark.utilities import get_traversed_cost

    def graph(directed=True):
        return LinkGraph.from_edges(karate_df, directed=directed)

    def weighted():
        w = karate_df.withColumn("w", (karate_df["src"] + karate_df["dst"]).cast("double"))
        return LinkGraph.from_edges(w, weight="w", directed=False, renumber=False)

    def seeded_digraph():
        # the 40-vertex digraph of test_scc_matches_networkx_on_seeded_digraph
        rng = np.random.default_rng(11)
        edges = {(int(a), int(b)) for a, b in rng.integers(0, 40, size=(160, 2)) if a != b}
        df = karate_df.sparkSession.createDataFrame(sorted(edges), "src LONG, dst LONG")
        return LinkGraph.from_edges(df, directed=True)

    def traversed_cost():
        g = weighted()
        tree = traversal.bfs(g, 0).persist()
        tree.count()
        get_traversed_cost(tree, 0, g.edges)

    runs = {
        "operators.wcc": lambda: weakly_connected_components(graph(False)),
        "operators.lpa": lambda: label_propagation(graph(False)),
        "operators.centrality": lambda: centrality.katz_centrality(graph(), max_iter=4, tol=0.0),
        "csr": lambda: pagerank_csr(graph(), max_iter=4, tol=0.0),
        "utilities": traversed_cost,
        "bfs": lambda: traversal.bfs(graph(), 0),
        "sssp": lambda: traversal.sssp(weighted(), 0),
        "hits": lambda: centrality.hits(graph(), max_iter=4, tol=0.0),
        "eigenvector": lambda: centrality.eigenvector_centrality(graph(), max_iter=4, tol=0.0),
        "spectral-balanced": lambda: spectral.spectral_balanced_cut_clustering(
            graph(), 2, evs_max_iter=4
        ),
        "spectral-modularity": lambda: spectral.spectral_modularity_maximization_clustering(
            graph(), 2, evs_max_iter=4
        ),
        "scc": lambda: strongly_connected_components(seeded_digraph()).collect(),
        "mst": lambda: minimum_spanning_tree(weighted()).collect(),
    }
    runs[case]()


@pytest.mark.parametrize("case", list(_LOOPS))
def test_superstep_loop_one_job_per_superstep(spark, karate_df, monkeypatch, case):
    """Every loop on ``graph.superstep_loop`` runs each superstep as exactly
    one Spark job — the materialization, with the convergence scalars
    folded into it — with AQE at the session default.  Counted, inside
    each ``superstep_loop`` call the case makes, between consecutive
    returns of ``truncate_state`` as the loop's own module calls it: the
    initial state, then one per superstep.  A case with one loop calls
    none after it; SCC (coloring and marking per round) and MST (one merge
    per Borůvka round) call it between their loops.  PageRank's loop is
    pinned, with its plans, by the test above."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    loop = _LOOPS[case]
    calls = []  # (first truncation, end of the call's truncations, supersteps)
    real_loop = graph_mod.superstep_loop

    def counting_loop(*args, **kwargs):
        start = len(rec.jobs)
        out = real_loop(*args, **kwargs)
        calls.append((start, len(rec.jobs), out[1].iterations))
        return out

    mod = importlib.import_module(f"cugraph_spark.{loop}")
    monkeypatch.setattr(mod, "superstep_loop", counting_loop)
    rec = _Truncations(monkeypatch, spark, loop)
    try:
        _run_loop(karate_df, case)
    finally:
        rec.close()
    assert calls
    assert sum(steps for _, _, steps in calls) >= 2, calls
    if len(calls) == 1:
        assert calls[0][1] == len(rec.jobs), (rec.jobs, calls)
    for start, end, steps in calls:
        assert steps >= 1, calls
        supersteps = rec.jobs[start:end]
        assert len(supersteps) == steps + 1, (rec.jobs, calls)
        assert [b - a for a, b in zip(supersteps, supersteps[1:])] == [1] * steps, supersteps


def test_pagerank_no_superstep_raises(spark, karate_df, tmp_path):
    """max_iter=0, or a resume from a checkpoint at or past max_iter, runs
    no superstep; without convergence that is the documented RuntimeError."""
    from cugraph_spark.checkpoint import CheckpointManager

    g = LinkGraph.from_edges(karate_df, directed=True, num_partitions=4)
    with pytest.raises(RuntimeError):
        pagerank(g, tol=1e-8, max_iter=0)
    ck = CheckpointManager(str(tmp_path), "pr")
    pagerank(g, tol=1e-8, max_iter=3, checkpointer=ck, fail_on_nonconvergence=False)
    for max_iter in (3, 2):
        with pytest.raises(RuntimeError):
            pagerank(g, tol=1e-8, max_iter=max_iter, checkpointer=ck)
    g.unpersist()
