"""PageRank — power iteration with damping, dangling-mass redistribution,
personalization, and L1 convergence.

Semantics follow the reference exactly
(``cpp/src/link_analysis/pagerank_impl.cuh``):
- init rank = 1/V (``:381-386``) or normalized ``nstart``,
- per iteration: dangling mass = Σ ranks of out-weight-0 vertices
  (``:238-247``); pre-divide rank by out-weight-sum (``:249-261``);
  constant term ``(α·dangling + (1-α))/V`` (``:265-268``);
  gather ``α·Σ_src rank'·w`` (``:270-296``);
  personalization replaces the constant with
  ``(α·dangling + (1-α))·(p_v/Σp)`` (``:298-318``);
- converge when L1 ``Σ|r - r_old| < tol`` (``:320-333``).
Python API parity: ``python/cugraph/cugraph/link_analysis/pagerank.py:83-308``.

Spark plan per superstep — ONE job, one real shuffle:
- state is ``[id, out_wsum(, p_norm), rank]`` hash-partitioned by id and
  checkpointed; the static columns ride along so no per-iteration join
  against a separate vertex table is needed.  ``id`` is the narrowed key
  type of the edge frame (int when V < 2^31) from the static base on, and
  widens back to long only at the output and at ``checkpointer.save``.
- contributions are pre-divided once (rank/out_wsum) so the gather is a
  plain associative SUM; the narrowed edge table is hash-partitioned by
  ``src`` once per call and never re-shuffled — contribs arrive already
  hash-partitioned on the same key type, the gather lands hash(dst) =
  hash(id) for the state join, so the only exchange is the groupBy(dst)
  of the E-row contribution stream (a cast key on either join side would
  add one exchange each).
- the loop runs under ``static_plan`` (AQE off): AQE would run each
  shuffle stage as its own job.
- the L1 delta and the NEXT iteration's dangling mass are computed via
  ``DataFrame.observe`` on the same plan that materializes the new state —
  scalar folds cost zero extra jobs (the dangling sum uses the new ranks,
  which is exactly what iteration i+1 needs per ``pagerank_impl.cuh:238``).
- per-iteration ``truncate_state`` (persist + eager localCheckpoint, one
  job) keeps the plan flat and plan-time cost constant at any iteration
  count (see ``graph.truncate_state``).
- ``fuse=k`` chains k supersteps into one materialization so the
  core-count-independent per-materialization costs amortize — the lever
  for N→4N scaling efficiency; intermediate dangling masses come from an
  exact analytic recurrence over static sink-flow columns (see
  :func:`pagerank` docstring), so fused results are bit-identical.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..graph import DST, SRC, VID, WGT, LinkGraph, static_plan, truncate_state

# fuse="auto" engages fusion only at/above this edge count: below it the
# beta-frame builds + block overshoot cost more than the amortized
# per-materialization savings (measured: fuse=4 at 600k edges = 3.9x slower;
# at R-MAT scale 23 (~130M edges) fusion is what lifts N->4N scaling).
FUSE_MIN_EDGES = 20_000_000
FUSE_AUTO_K = 4


@dataclass
class PageRankResult:
    ranks: DataFrame  # [vertex, pagerank]
    converged: bool
    iterations: int
    l1_history: list
    iter_secs: list = None  # wall time per superstep (materialization incl.)
    _state: DataFrame | None = None  # final persisted iteration state

    def unpersist(self) -> None:
        """Release the final iteration's cached state (call after the ranks
        DataFrame has been consumed — repeated pagerank calls in one session
        otherwise accumulate a cached V-row state per call)."""
        if self._state is not None:
            self._state.unpersist()


def pagerank(
    graph: LinkGraph,
    alpha: float = 0.85,
    personalization: DataFrame | None = None,
    max_iter: int = 100,
    tol: float = 1e-5,
    nstart: DataFrame | None = None,
    precomputed_vertex_out_weight: DataFrame | None = None,
    fail_on_nonconvergence: bool = True,
    checkpointer=None,
    unrenumber: bool = True,
    fuse: int | str = "auto",
) -> PageRankResult:
    """Compute PageRank; returns vertex-keyed DataFrame [vertex, pagerank].

    ``personalization``/``nstart``: DataFrames [vertex, values] keyed by
    *external* ids (renumbered internally, as in ``pagerank.py:33-40``).
    ``tol<=0`` forces exactly ``max_iter`` iterations (used by the fixed-
    iteration oracle-comparable variant).

    ``fuse`` defaults to ``"auto"``: fusion engages only when the graph is
    large enough that per-materialization fixed costs dominate
    (``E >= FUSE_MIN_EDGES``); below that threshold fusion's own fixed
    costs (beta-frame builds: one join+groupBy+materialize each, plus
    block-of-k iteration overshoot) exceed what it saves, measured 4x
    slower at 600k edges.  Pass an int to force a block size.

    ``fuse=k`` chains k supersteps into ONE materialization (same per-rank
    arithmetic, so results match the unfused path to float ulps): the
    per-materialization fixed costs (job scheduling, lineage truncation,
    checkpoint write, cache fill) amortize over k gathers, which is what
    lifts N→4N scaling efficiency — those costs are core-count-independent.
    The per-iteration dangling mass the constant term needs is derived
    exactly without materializing intermediates, from static "sink-flow"
    columns: ``β_1(v) = (weight from v into sinks)/out_wsum(v)`` and
    ``β_{m+1} = Aβ_m`` give ``Σ_sinks A(r) = Σ_v r(v)·β_1(v)``, so a short
    scalar recurrence over block-start moments ``M_m = Σ r·β_m`` yields
    every intermediate dangling sum (pagerank_impl.cuh:238-247 semantics,
    evaluated analytically).  Convergence: fused blocks check the k-step
    L1 and hand off to exact single-step iterations near ``tol``; with
    ``fuse>1`` checkpoints land every k-th iteration.  Personalization
    forces ``fuse=1`` (exact per-iteration path).
    """
    spark = graph.spark
    n_part = graph.num_partitions
    V = graph.number_of_vertices()
    if V == 0:
        raise ValueError("pagerank: graph has no vertices")

    # AQE off for the whole run, set-up included: it would run each shuffle
    # stage of a superstep as its own job, and a frame checkpointed under
    # it loses its hash partitioning, so every superstep would re-shuffle
    # the edges (see static_plan).
    with static_plan(spark):
        # ---- narrow edge frame for the gather loop ------------------------
        # The per-superstep E-row gather is memory-bandwidth-bound at high core
        # counts (profiled at R-MAT scale 23: 4 sequential join+groupBy stages
        # dominate each fused block), so bytes scanned per edge are the scaling
        # lever: vertex ids are narrowed to int whenever they fit (halves the
        # id columns), and an unweighted graph's constant 1.0 weight column is
        # dropped entirely (the gather then sums contrib directly).  24 B/edge
        # -> 8 B/edge on the unweighted path.  Renumbered ids are dense, so
        # they fit whenever V < 2^31; raw ids of a graph built with
        # renumber=False fit when their range does (one aggregate over the
        # cached edges).  Every vertex frame below is keyed on the same type
        # (key_t), so no join in the loop or in the fusion setup needs a cast
        # key.
        narrow_ids = V < (1 << 31) and (
            graph.renumber_map is not None or _raw_ids_fit_int(graph.edges)
        )
        key_t = "int" if narrow_ids else "long"
        w_mult = graph.properties.weighted
        edges_owned = narrow_ids or not w_mult
        if edges_owned:
            _id = (lambda c: F.col(c).cast(key_t)) if narrow_ids else F.col
            ecols = [_id(SRC).alias(SRC), _id(DST).alias(DST)]
            if w_mult:
                ecols.append(F.col(WGT))
            # truncate_state, not a bare persist: a lazy persist leaves the
            # frame's sizeInBytes as a chained ESTIMATE that every superstep
            # referencing `edges` compounds until Catalyst's BigInteger
            # overflows (~iteration 60; see truncate_state's postmortem).  The
            # eager localCheckpoint pins runtime-exact stats once, up front.
            edges = truncate_state(graph.edges.select(*ecols), n_part, SRC)
        else:
            edges = graph.edges  # [src, dst, weight] partitioned by src

        def wsum(x):
            """Σ x·w over edges; the weight is the constant 1.0 if unweighted."""
            return F.sum(x * F.col(WGT)) if w_mult else F.sum(x)

        def keyed(df: DataFrame) -> DataFrame:
            # try_cast: a raw nstart id beyond int matches no vertex
            return df.withColumn(VID, F.col(VID).try_cast(key_t))

        # ---- static vertex base: [id, out_wsum(, p_norm)], hash(id) -------
        if precomputed_vertex_out_weight is not None:
            ows = _renumber_values(graph, precomputed_vertex_out_weight, "out_wsum")
            ows = (
                graph.vertices()
                .join(ows, VID, "left")
                .fillna(0.0, ["out_wsum"])
            )
        else:
            ows = graph.out_weight_sums()

        pers = personalization is not None
        if pers:
            p = _renumber_values(graph, personalization, "p")
            psum = p.agg(F.sum("p")).collect()[0][0]
            ows = (
                ows.join(p, VID, "left")
                .fillna(0.0, ["p"])
                .withColumn("p_norm", F.col("p") / F.lit(float(psum)))
                .drop("p")
            )
        static_cols = ["out_wsum"] + (["p_norm"] if pers else [])

        vbase = keyed(ows).repartition(n_part, VID).persist()
        # one upfront scalar: whether any dangling vertices exist at all
        has_dangling = vbase.filter(F.col("out_wsum") == 0.0).limit(1).count() > 0

        # ---- fusion setup: static sink-flow columns (see docstring) -------
        if fuse == "auto":
            fuse = FUSE_AUTO_K if graph.number_of_edges() >= FUSE_MIN_EDGES else 1
        fuse_k = max(1, int(fuse))
        if pers:
            fuse_k = 1
        beta_cols: list = []
        B: list = []  # B[m-1] = Σ_v β_m(v)
        n_sinks = 0
        beta_frames: list = []
        beta_df = None  # static frame [id, β1..β_{k-1}]; joined into the state
        # base so the block-start moments M_m = Σ rank·β_m fold into the SAME
        # observe() that computes l1/dangling — no separate per-block join+agg
        # job (a core-count-independent fixed cost that capped N→4N scaling).
        # Cost: k-1 extra double columns ride through each checkpoint.
        if fuse_k > 1 and has_dangling:
            n_sinks = vbase.filter(F.col("out_wsum") == 0.0).count()
            prev_beta = None
            joined = vbase.select(VID)
            for m in range(1, fuse_k):
                name = f"_beta{m}"
                if m == 1:
                    sinks = vbase.filter(F.col("out_wsum") == 0.0).select(
                        F.col(VID).alias(DST)
                    )
                    flow = (
                        edges.join(sinks, DST, "left_semi")
                        .groupBy(F.col(SRC).alias(VID))
                        .agg(wsum(F.lit(1.0)).alias("_f"))
                    )
                else:
                    bdst = prev_beta.select(
                        F.col(VID).alias(DST), F.col(f"_beta{m-1}").alias("_pb")
                    )
                    flow = (
                        edges.join(bdst, DST)
                        .groupBy(F.col(SRC).alias(VID))
                        .agg(wsum(F.col("_pb")).alias("_f"))
                    )
                beta_m = truncate_state(
                    vbase.select(VID, "out_wsum")
                    .join(flow, VID, "left")
                    .fillna(0.0, ["_f"])
                    .select(
                        VID,
                        F.when(
                            F.col("out_wsum") > 0.0, F.col("_f") / F.col("out_wsum")
                        )
                        .otherwise(F.lit(0.0))
                        .alias(name),
                    ),
                    n_part,
                    VID,
                )
                beta_frames.append(beta_m)
                beta_cols.append(name)
                if m <= fuse_k - 2:
                    B.append(float(beta_m.agg(F.sum(name)).collect()[0][0] or 0.0))
                prev_beta = beta_m
                joined = joined.join(beta_m, VID)
            beta_df = truncate_state(joined, n_part, VID)
            beta_frames.append(beta_df)
            # fold the sink-flow columns into the static vertex base (both
            # frames are hash(id)-partitioned, so this is a local zip join);
            # the pre-join base joins the release list below
            beta_frames.append(vbase)
            vbase = vbase.join(beta_df, VID).persist()
            static_cols = static_cols + beta_cols

        # ---- initial state [id, *static, rank] ----------------------------
        if nstart is not None:
            r0 = keyed(_renumber_values(graph, nstart, "rank"))
            rsum = r0.agg(F.sum("rank")).collect()[0][0]
            state = (
                vbase.join(r0, VID, "left")
                .fillna(0.0, ["rank"])
                .withColumn("rank", F.col("rank") / F.lit(float(rsum)))
            )
        else:
            state = vbase.withColumn("rank", F.lit(1.0 / V))

        start_iter = 0
        if checkpointer is not None:
            resumed = checkpointer.resume(spark)
            if resumed is not None:
                start_iter, rdf = resumed
                state = vbase.join(
                    keyed(rdf.select(VID, "rank")).repartition(n_part, VID), VID
                )
        state = truncate_state(state, n_part, VID)

        # dangling mass of the CURRENT ranks (scalar fold; skipped when no sinks
        # exist — pagerank_impl.cuh:238-247); inside the loop this is maintained
        # for free by the observe() on the previous materialization
        if has_dangling:
            dangling = (
                state.filter(F.col("out_wsum") == 0.0).agg(F.sum("rank")).collect()[0][0]
                or 0.0
            )
        else:
            dangling = 0.0

        converged = False
        iterations = start_iter
        l1_history: list = []
        iter_secs: list = []

        single_mode = fuse_k == 1
        T_next: list | None = None  # block-start moments carried from observe
        while iterations < max_iter:
            k = 1 if single_mode else min(fuse_k, max_iter - iterations)
            _t0 = time.time()

            # ---- block-start scalars: the constant term of every step in the
            # block, derived via the sink-flow recurrence (see docstring);
            # moments come from the PREVIOUS block's observe — only the very
            # first fused block pays a scalar fold job
            if k > 1 and has_dangling:
                if T_next is None:
                    T_next = [
                        float(x or 0.0)
                        for x in state.agg(
                            *[F.sum(F.col("rank") * F.col(c)) for c in beta_cols]
                        ).collect()[0]
                    ]
                T = T_next[: k - 1]
            else:
                T = []
            c_js = []
            d_j = dangling
            for j in range(k):
                c_j = (alpha * d_j + (1.0 - alpha)) / V
                c_js.append(c_j)
                if j < k - 1:
                    if has_dangling:
                        # d_{j+1} = α·Σ_v r_j·β_1 + c_j·n_sinks, with
                        # T_{j+1}^m = α·T_j^{m+1} + c_j·B_m
                        d_j = alpha * T[0] + c_j * n_sinks
                        T = [
                            alpha * T[m + 1] + c_j * B[m] for m in range(len(T) - 1)
                        ]
                    else:
                        d_j = 0.0

            # ---- fused plan: k chained gathers, ONE materialization ----------
            # pre-divide (pagerank_impl:249-261): contribution = rank/out_wsum;
            # SHUFFLE_HASH everywhere — at web scale no V-row frame may funnel
            # through the driver, and both state-side joins are already
            # hash(id)-partitioned on the edges' key type, so the E-row
            # groupBy is the only real exchange per step
            cur = state
            new_state = None
            for j in range(k):
                contribs = cur.filter(F.col("out_wsum") > 0.0).select(
                    F.col(VID).alias(SRC),
                    (F.col("rank") / F.col("out_wsum")).alias("contrib"),
                )
                gathered = (
                    edges.join(contribs.hint("shuffle_hash"), SRC)
                    .groupBy(F.col(DST).alias(VID))
                    .agg(wsum(F.col("contrib")).alias("gather"))
                )
                if not pers:
                    new_rank = F.lit(alpha) * F.col("gather") + F.lit(c_js[j])
                else:
                    mass = alpha * dangling + (1.0 - alpha)
                    new_rank = F.lit(alpha) * F.col("gather") + F.lit(mass) * F.col(
                        "p_norm"
                    )
                if j < k - 1:
                    cur = (
                        state.select(VID, "out_wsum")
                        .join(gathered.hint("shuffle_hash"), VID, "left")
                        .fillna(0.0, ["gather"])
                        .select(VID, "out_wsum", new_rank.alias("rank"))
                    )
                else:
                    obs = Observation(f"pagerank_iter_{iterations}_{k}")
                    new_state = (
                        state.select(VID, *static_cols, F.col("rank").alias("_old"))
                        .join(gathered.hint("shuffle_hash"), VID, "left")
                        .fillna(0.0, ["gather"])
                        .select(VID, *static_cols, new_rank.alias("rank"), F.col("_old"))
                        .observe(
                            obs,
                            F.sum(F.abs(F.col("rank") - F.col("_old"))).alias("l1"),
                            F.sum(
                                F.when(F.col("out_wsum") == 0.0, F.col("rank")).otherwise(
                                    0.0
                                )
                            ).alias("dangling"),
                            # next block's moments M_m = Σ rank·β_m — free on
                            # this materialization instead of a dedicated job
                            *[
                                F.sum(F.col("rank") * F.col(c)).alias(f"_m{m}")
                                for m, c in enumerate(beta_cols)
                            ],
                        )
                        .drop("_old")
                    )
            # hash(id): the planner drops this repartition when the plan
            # already ends hash(id)-partitioned (the gather join does)
            new_state = truncate_state(new_state, n_part, VID)
            metrics = obs.get
            l1 = float(metrics["l1"] or 0.0)  # k-step delta when k > 1
            dangling = float(metrics["dangling"] or 0.0) if has_dangling else 0.0
            if beta_cols:
                T_next = [
                    float(metrics[f"_m{m}"] or 0.0) for m in range(len(beta_cols))
                ]

            state.unpersist()
            state = new_state
            iterations += k
            l1_history.append(l1)
            dt = time.time() - _t0
            iter_secs.extend([dt / k] * k)

            if checkpointer is not None:
                checkpointer.save(
                    state.select(F.col(VID).cast("long").alias(VID), "rank"),
                    iterations,
                    {"l1": l1, "dangling": dangling},
                )

            if tol > 0:
                if k == 1 and l1 < tol:
                    converged = True
                    break
                if k > 1 and l1 < tol * k * 10:
                    # near convergence: hand off to exact single-step checks so
                    # the stopping criterion is the reference's per-iteration L1
                    single_mode = True

    if tol <= 0:
        converged = True
    if not converged and fail_on_nonconvergence:
        raise RuntimeError(
            f"PageRank failed to converge in {max_iter} iterations (L1={l1_history[-1]})"
        )

    out = state.select(
        F.col(VID).cast("long").alias("vertex"), F.col("rank").alias("pagerank")
    )
    if unrenumber:
        out = graph.unrenumber(out, "vertex")
    if edges_owned:
        edges.unpersist()
    vbase.unpersist()
    for bf in beta_frames:
        bf.unpersist()
    return PageRankResult(
        out, converged, iterations, l1_history, iter_secs=iter_secs, _state=state
    )


def _raw_ids_fit_int(edges: DataFrame) -> bool:
    """Whether every vertex id of an edge frame lies in the int range."""
    lo, hi = edges.agg(F.min(F.least(SRC, DST)), F.max(F.greatest(SRC, DST))).first()
    return lo is None or (-(1 << 31) <= lo and hi < (1 << 31))


def _renumber_values(graph: LinkGraph, df: DataFrame, value_name: str) -> DataFrame:
    """Map a [vertex, values] DataFrame of external ids to internal ids
    (reference ``pagerank.py:33-40`` → ``number_map.py:334``)."""
    cols = df.columns
    vcol, valcol = cols[0], cols[1]
    sel = df.select(F.col(vcol).alias("_ext"), F.col(valcol).cast("double").alias(value_name))
    if graph.renumber_map is None:
        return sel.withColumnRenamed("_ext", VID)
    m = graph.renumber_map.select(F.col("ext_id").alias("_ext"), VID)
    # broadcast only when the map is small — a V-row map at billions of
    # vertices must shuffle-join, never funnel through the driver
    return sel.join(F.broadcast(m) if graph._map_small() else m, "_ext").select(
        VID, value_name
    )
