"""Centrality — degree, HITS, Katz, eigenvector.

Reference parity:
- degree_centrality: ``centrality/degree_centrality.py:21-65`` — degree /
  (V − 1), normalized by default.
- HITS: ``link_analysis/hits.py:25-124``; C++ update/normalize loop
  ``hits_impl.cuh:41-93`` — alternate authority ← Σ hub(in-nbrs),
  hub ← Σ auth(out-nbrs), L1-normalize both, converge on hub delta.
- Katz: ``centrality/katz_centrality.py:23-171`` — x ← α·A x + β,
  L2-normalized at the end.
- eigenvector: ``centrality/eigenvector_centrality.py:26-112`` — power
  iteration with L2 normalization.

The three iterative ones are the same superstep shape as PageRank (SURVEY
§2.1) and run on ``graph.superstep_loop``: the persisted src-partitioned
edge table joins the V-row state, groupBy-sum gathers, and the scalars
fold into the materialization via ``observe`` — one Spark job per
superstep.  HITS and eigenvector normalize lazily: the state stores the
raw gather, and the next step divides by the norm the last one observed.
Their L1 delta compares two normalized vectors, so it needs the new norm
and cannot fold into the job that observes it; instead the state carries
the previous normalized vector and step j+1 observes step j's delta.  On
convergence the loop returns that carried vector, the iterate whose delta
passed, at the cost of one extra gather per converged call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import DST, SRC, VID, WGT, LinkGraph, superstep_loop, truncate_state
from .pagerank import _renumber_values


def degree_centrality(graph: LinkGraph, normalized: bool = True) -> DataFrame:
    """DF[vertex, degree_centrality] — (in+out degree) / (V−1)."""
    V = graph.number_of_vertices()
    deg = graph.degrees()
    c = (F.col("in_degree") + F.col("out_degree")).cast("double")
    if normalized:
        c = c / F.lit(float(max(V - 1, 1)))
    out = deg.select(F.col(VID).alias("vertex"), c.alias("degree_centrality"))
    return graph.unrenumber(out, "vertex")


def hits(
    graph: LinkGraph,
    max_iter: int = 100,
    tol: float = 1e-5,
    nstart: DataFrame | None = None,
    normalized: bool = True,
    unrenumber: bool = True,
) -> DataFrame:
    """DF[vertex, hubs, authorities] — alternating gathers, max-normalize
    each half-step (hits_impl.cuh:41-93), converge on Σ|hub−hub_old|.

    ``nstart`` (``link_analysis/hits.py:49-56``): DF[vertex, values] of
    initial hub guesses in EXTERNAL ids; vertices absent from nstart keep
    the uniform 1/V start.  HITS is a power iteration on AᵀA, so any
    non-degenerate start converges to the same fixpoint — nstart shifts
    the iteration count, not the answer.

    The state holds the raw gathers and the previous normalized vectors;
    a step normalizes the raw gathers by the maxima the last step
    observed, so its delta is the previous iterate's (see module
    docstring)."""
    n_part = graph.num_partitions
    V = graph.number_of_vertices()
    edges = graph.edges.select(SRC, DST)

    state = graph.vertices().select(
        VID, F.lit(1.0 / V).alias("hub_raw"), F.lit(1.0 / V).alias("auth_raw")
    )
    if nstart is not None:
        h0 = _renumber_values(graph, nstart, "_h0")
        state = state.join(h0, VID, "left").select(
            VID, F.coalesce("_h0", "hub_raw").alias("hub_raw"), "auth_raw"
        )

    def scaled(report) -> tuple:
        """(hub, auth) of the state's raw gathers, max-normalized by the
        step that gathered them (hits_impl.cuh:144-156); the start is used
        as it is."""
        m = report.metrics[-1] if report.metrics else {}
        return (
            F.col("hub_raw") / F.lit(float(m.get("h_max", 1.0)) or 1.0),
            F.col("auth_raw") / F.lit(float(m.get("a_max", 1.0)) or 1.0),
        )

    def step(state: DataFrame, report):
        hub, auth = scaled(report)
        # this step's input is the next state's previous iterate; `_old`,
        # the one before it, feeds the delta (the first step has none)
        old = [F.col("hub_prev").alias("_old")] if report.metrics else []
        cur = state.select(VID, hub.alias("hub_prev"), auth.alias("auth_prev"), *old)
        # authorities ← Σ prev hubs over in-edges (hits_impl.cuh:118-127)
        auth_new = (
            edges.join(
                cur.select(F.col(VID).alias(SRC), "hub_prev").hint("shuffle_hash"), SRC
            )
            .groupBy(F.col(DST).alias(VID))
            .agg(F.sum("hub_prev").alias("auth_raw"))
        )
        a = cur.join(auth_new.hint("shuffle_hash"), VID, "left").fillna(0.0, ["auth_raw"])
        # hubs ← Σ UNnormalized authorities over out-edges (the reference
        # scatters `authorities` to edges before normalizing, :128-142)
        hub_new = (
            edges.join(
                a.select(F.col(VID).alias(DST), "auth_raw").hint("shuffle_hash"), DST
            )
            .groupBy(F.col(SRC).alias(VID))
            .agg(F.sum("auth_raw").alias("hub_raw"))
        )
        plan = a.join(hub_new.hint("shuffle_hash"), VID, "left").fillna(0.0, ["hub_raw"])
        aggs = [F.max("hub_raw").alias("h_max"), F.max("auth_raw").alias("a_max")]
        if old:
            aggs.append(F.sum(F.abs(F.col("hub_prev") - F.col("_old"))).alias("delta"))
        return plan, aggs

    state, report = superstep_loop(
        state,
        step,
        lambda m: "delta" in m and m["delta"] < tol,
        lambda df: truncate_state(df, n_part, VID),
        max_iter,
        n_part,
    )
    # converged: the carried iterate is the one whose delta passed
    hub, auth = (
        (F.col("hub_prev"), F.col("auth_prev")) if report.converged else scaled(report)
    )
    state = state.select(VID, hub.alias("hub"), auth.alias("auth"))
    if normalized:
        hs = state.agg(F.sum("hub"), F.sum("auth")).collect()[0]
        h_tot, a_tot = float(hs[0] or 1.0), float(hs[1] or 1.0)
        state = state.select(
            VID,
            (F.col("hub") / F.lit(h_tot)).alias("hub"),
            (F.col("auth") / F.lit(a_tot)).alias("auth"),
        )
    out = state.select(
        F.col(VID).alias("vertex"),
        F.col("hub").alias("hubs"),
        F.col("auth").alias("authorities"),
    )
    if unrenumber:
        out = graph.unrenumber(out, "vertex")
    return out


def katz_centrality(
    graph: LinkGraph,
    alpha: float | None = None,
    beta: float = 1.0,
    max_iter: int = 100,
    tol: float = 1e-6,
    unrenumber: bool = True,
) -> DataFrame:
    """DF[vertex, katz_centrality] — x ← α·(Aᵀx) + β per iteration,
    final L2 normalization (katz_centrality.py:23-171). ``alpha`` defaults
    to 1/(max out-degree + 1), inside the 1/λ_max convergence bound the
    reference documents (:51-66)."""
    n_part = graph.num_partitions
    edges = graph.edges.select(SRC, DST, WGT)
    if alpha is None:
        dmax = (
            graph.degrees().agg(F.max("out_degree")).collect()[0][0] or 1
        )
        alpha = 1.0 / (dmax + 1.0)

    V = graph.number_of_vertices()

    def step(x: DataFrame, _report):
        gathered = (
            edges.join(x.select(F.col(VID).alias(SRC), "x").hint("shuffle_hash"), SRC)
            .groupBy(F.col(DST).alias(VID))
            .agg(F.sum(F.col("x") * F.col(WGT)).alias("g"))
        )
        # carry the old value through the join; the L1 delta folds into
        # the materialization job (a separate delta collect cost an extra
        # job per iteration)
        new_x = (
            x.select(VID, F.col("x").alias("_old"))
            .join(gathered.hint("shuffle_hash"), VID, "left")
            .fillna(0.0, ["g"])
            .select(VID, (F.lit(alpha) * F.col("g") + F.lit(beta)).alias("x"), "_old")
        )
        return new_x, [F.sum(F.abs(F.col("x") - F.col("_old"))).alias("delta")]

    x, _ = superstep_loop(
        graph.vertices().select(VID, F.lit(0.0).alias("x")),
        step,
        lambda m: m["delta"] < tol * V,
        lambda df: truncate_state(df, n_part, VID),
        max_iter,
        n_part,
    )

    l2 = x.agg(F.sqrt(F.sum(F.col("x") * F.col("x")))).collect()[0][0] or 1.0
    out = x.select(
        F.col(VID).alias("vertex"),
        (F.col("x") / F.lit(float(l2))).alias("katz_centrality"),
    )
    if unrenumber:
        out = graph.unrenumber(out, "vertex")
    return out


def eigenvector_centrality(
    graph: LinkGraph,
    max_iter: int = 100,
    tol: float = 1e-6,
    unrenumber: bool = True,
) -> DataFrame:
    """DF[vertex, eigenvector_centrality] — power iteration on Aᵀ with L2
    normalization per step (eigenvector_centrality.py:26-112).  The state
    holds the raw gather and the previous normalized vector, as in
    :func:`hits`."""
    n_part = graph.num_partitions
    V = graph.number_of_vertices()
    edges = graph.edges.select(SRC, DST, WGT)

    def scaled(report):
        """The state's raw gather, L2-normalized by the step that gathered
        it; the start is used as it is."""
        m = report.metrics[-1] if report.metrics else {}
        return F.col("g") / F.lit(float(m.get("l2", 1.0)) or 1.0)

    def step(state: DataFrame, report):
        old = [F.col("x_prev").alias("_old")] if report.metrics else []
        cur = state.select(VID, scaled(report).alias("x_prev"), *old)
        gathered = (
            edges.join(
                cur.select(F.col(VID).alias(SRC), "x_prev").hint("shuffle_hash"), SRC
            )
            .groupBy(F.col(DST).alias(VID))
            .agg(F.sum(F.col("x_prev") * F.col(WGT)).alias("g"))
        )
        plan = cur.join(gathered.hint("shuffle_hash"), VID, "left").fillna(0.0, ["g"])
        aggs = [F.sqrt(F.sum(F.col("g") * F.col("g"))).alias("l2")]
        if old:
            aggs.append(F.sum(F.abs(F.col("x_prev") - F.col("_old"))).alias("delta"))
        return plan, aggs

    state, report = superstep_loop(
        graph.vertices().select(VID, F.lit(1.0 / V).alias("g")),
        step,
        lambda m: "delta" in m and m["delta"] < tol * V,
        lambda df: truncate_state(df, n_part, VID),
        max_iter,
        n_part,
    )
    x = F.col("x_prev") if report.converged else scaled(report)
    out = state.select(F.col(VID).alias("vertex"), x.alias("eigenvector_centrality"))
    if unrenumber:
        out = graph.unrenumber(out, "vertex")
    return out
