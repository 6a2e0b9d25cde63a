"""Louvain community detection — distributed local moving + graph
coarsening.

Reference parity: ``python/cugraph/cugraph/community/louvain.py:24-101``
(``louvain(G, max_iter, resolution) → (DF[vertex, partition],
modularity)``); C++ kernel ``cpp/src/community/louvain_impl.cuh`` (the
keyed aggregation prim ``per_v_transform_reduce_dst_key_aggregated_
outgoing_e.cuh:173`` is exactly our ``edges ⋈ comm(dst) → groupBy(src,
community).sum`` step, per SURVEY §2.1).

Structure per level:
1. LOCAL MOVE rounds (synchronous): for every vertex i, compute
   ``k_{i,c}`` (weight from i into each neighbor community) with one
   join+groupBy, broadcast the community totals ``Σtot_c``, and move i to
   the community maximizing the standard modularity gain
   ``k_{i,c} − γ·k_i·(Σtot_c − δ_{c=c_i}·k_i)/(2m)``, ties → smallest
   community id (deterministic). Iterate until no vertex moves.
2. COARSEN: contract communities to supervertices, summing parallel edge
   weights (self-loops keep intra-community weight), and recurse until the
   level no longer reduces the vertex count.
3. Compose the per-level mappings back to original vertices and compute
   the final modularity ``Q = Σ_c [in_c/(2m) − γ·(Σtot_c/(2m))²]``.

All state is V-row or C-row DataFrames; the only E-row operation per round
is the single neighbor-community aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import DST, SRC, VID, WGT, LinkGraph, truncate_state


def _canonical_undirected(graph: LinkGraph) -> DataFrame:
    """[a, b, w] canonical (a<=b) undirected weighted edges, parallel edges
    summed; built from the (possibly directed) internal edge table."""
    e = graph.edges.select(
        F.least(SRC, DST).alias("a"), F.greatest(SRC, DST).alias("b"), F.col(WGT).alias("w")
    )
    # a directed graph's (u,v)+(v,u) collapse to one undirected edge of the
    # min weight at graph build when undirected; for directed inputs treat
    # each directed edge's weight as contributing to the undirected weight
    return e.groupBy("a", "b").agg(F.sum("w").alias("w"))


def _local_move(
    both: DataFrame,  # [i, j, w] both directions, no self loops
    deg: DataFrame,  # [i, k]
    comm: DataFrame,  # [i, c]
    two_m: float,
    resolution: float,
    n_part: int,
    max_rounds: int,
) -> DataFrame:
    stable_rounds = 0
    for round_no in range(max_rounds):
        # k_{i,c}: weight from i into each neighbouring community
        kic = (
            both.join(comm.select(F.col("i").alias("j"), "c"), "j")
            .groupBy("i", "c")
            .agg(F.sum("w").alias("kic"))
        )
        sigma = comm.join(deg, "i").groupBy("c").agg(F.sum("k").alias("sig"))
        cur = comm.select("i", F.col("c").alias("cur_c"))
        # candidates: neighbour communities + staying put (kic=0 if no
        # neighbours in the current community)
        cand = (
            kic.join(cur, "i", "full")
            .select(
                "i",
                F.coalesce("c", "cur_c").alias("c"),
                F.coalesce("kic", F.lit(0.0)).alias("kic"),
            )
            .union(cur.select("i", F.col("cur_c").alias("c"), F.lit(0.0)))
            .groupBy("i", "c")
            .agg(F.max("kic").alias("kic"))
        )
        # NO broadcast hint on sigma: in the first rounds every vertex is
        # its own community, so sigma is V rows — at web scale that must
        # shuffle-join; Catalyst auto-broadcasts later rounds when the
        # community count has collapsed under the broadcast threshold
        scored = (
            cand.join(sigma, "c")
            .join(deg, "i")
            .join(cur, "i")
            .withColumn(
                "gain",
                F.col("kic")
                - F.lit(resolution)
                * F.col("k")
                * (F.col("sig") - F.when(F.col("c") == F.col("cur_c"), F.col("k")).otherwise(0.0))
                / F.lit(two_m),
            )
        )
        picked = scored.groupBy("i").agg(
            F.max_by("c", F.struct(F.col("gain"), (-F.col("c")).alias("nc"))).alias("new_c")
        )
        # parity alternation: only vertices with i%2 == round%2 may move
        # this round — breaks the synchronous pair-swap oscillation that
        # makes naive parallel local moving stall in fragmented partitions
        parity = round_no % 2
        picked = picked.withColumn(
            "new_c",
            F.when(F.col("i") % 2 == parity, F.col("new_c")).otherwise(F.lit(None)),
        )
        new_comm = truncate_state(
            picked.join(comm.withColumnRenamed("c", "oc"), "i")
            .select("i", F.coalesce("new_c", "oc").alias("c"), "oc"),
            n_part,
            "i",
        )
        moved = new_comm.filter(F.col("c") != F.col("oc")).limit(1).count()
        new_comm = new_comm.drop("oc")
        comm.unpersist()
        comm = new_comm
        if moved == 0:
            stable_rounds += 1
            if stable_rounds >= 2:  # both parities stable → fixpoint
                break
        else:
            stable_rounds = 0
    return comm


def _modularity(orig: DataFrame, m_orig: DataFrame, resolution: float) -> float:
    """Q = Σ_c [in_c/(2m) − γ·(Σtot_c/(2m))²] over the canonical undirected
    edge frame ``orig`` [a, b, w] and assignment ``m_orig`` [v, c].

    Single-pass (round-5, VERDICT r4 ask #4 — this runs once per Louvain/
    Leiden/ECG level): every quantity folds out of ONE community-labeled
    edge frame.  Each non-loop edge appears in both directions with the
    endpoint communities (ci, cj); a self loop appears once as a
    (ca, ca, 2w) row.  Then per community  sig_c = Σ w  grouped by ci
    (each direction credits its source endpoint, loops credit 2w — exactly
    k_v summed over the community), and  in_c = Σ w  where ci == cj.  One
    groupBy + one scalar agg replaces the previous four sequential
    collect()s (deg-sum, in_both, in_loops, Σsig²).

    Precondition: ``m_orig`` assigns every vertex of ``orig``.  The inner
    joins drop an edge with an unassigned endpoint from every sum, 2m
    included, so a partial assignment scores a smaller graph without any
    error.  The Louvain and Leiden levels always pass a full assignment."""
    cv = m_orig.withColumnRenamed("v", "i").withColumnRenamed("c", "ci")
    cv2 = m_orig.withColumnRenamed("v", "j").withColumnRenamed("c", "cj")
    loops = orig.filter(F.col("a") == F.col("b"))
    nonloops = orig.filter(F.col("a") != F.col("b"))
    both = nonloops.select(F.col("a").alias("i"), F.col("b").alias("j"), "w").union(
        nonloops.select(F.col("b").alias("i"), F.col("a").alias("j"), "w")
    )
    labeled = both.join(cv, "i").join(cv2, "j").select("ci", "cj", "w").union(
        loops.join(cv.withColumnRenamed("i", "a"), "a").select(
            F.col("ci"), F.col("ci").alias("cj"), (F.lit(2.0) * F.col("w")).alias("w")
        )
    )
    per_c = labeled.groupBy("ci").agg(
        F.sum("w").alias("sig"),
        F.sum(F.when(F.col("ci") == F.col("cj"), F.col("w")).otherwise(0.0)).alias(
            "inw"
        ),
    )
    row = per_c.agg(
        F.sum("sig"), F.sum("inw"), F.sum(F.col("sig") * F.col("sig"))
    ).collect()[0]
    two_m = row[0] or 1.0
    in_tot = row[1] or 0.0
    sig2 = row[2] or 0.0
    return in_tot / two_m - resolution * float(sig2) / (two_m * two_m)


def _levels(
    edges: DataFrame,  # [a, b, w] canonical undirected, persisted; consumed
    n_part: int,
    resolution: float,
    max_iter: int,
    max_levels: int,
) -> DataFrame | None:
    """The Louvain level loop (local move + coarsen until no reduction) over
    a canonical undirected weighted edge frame (self-loops carry intra-
    community weight).  Returns the composed mapping [orig, cur]
    (original vertex -> final community), or None for an edgeless input.
    The input frame is unpersisted before returning."""
    mapping = None  # original vertex -> current-level vertex

    for _level in range(max_levels):
        loops = edges.filter(F.col("a") == F.col("b"))
        nonloops = edges.filter(F.col("a") != F.col("b"))
        both = nonloops.select(
            F.col("a").alias("i"), F.col("b").alias("j"), "w"
        ).union(nonloops.select(F.col("b").alias("i"), F.col("a").alias("j"), "w"))
        deg = (
            both.groupBy("i").agg(F.sum("w").alias("k"))
            .join(
                loops.select(F.col("a").alias("i"), (F.lit(2.0) * F.col("w")).alias("lw")),
                "i",
                "full",
            )
            .select(
                "i",
                (F.coalesce("k", F.lit(0.0)) + F.coalesce("lw", F.lit(0.0))).alias("k"),
            )
        )
        two_m = deg.agg(F.sum("k")).collect()[0][0] or 0.0
        if two_m == 0:
            break
        deg = truncate_state(deg, n_part, "i")
        comm = truncate_state(deg.select("i", F.col("i").alias("c")), n_part, "i")
        n_before = deg.count()

        comm = _local_move(both, deg, comm, two_m, resolution, n_part, max_iter)

        n_comms = comm.select("c").distinct().count()
        # compose mapping original -> community of this level
        old_mapping = mapping
        if mapping is None:
            mapping = comm.select(F.col("i").alias("orig"), F.col("c").alias("cur"))
        else:
            mapping = mapping.join(
                comm.select(F.col("i").alias("cur"), F.col("c").alias("_nc")), "cur"
            ).select("orig", F.col("_nc").alias("cur"))
        mapping = truncate_state(mapping, n_part, "orig")
        if old_mapping is not None:
            old_mapping.unpersist()

        if n_comms >= n_before:
            deg.unpersist()
            comm.unpersist()
            break

        # coarsen: communities become vertices; self-loops carry the
        # intra-community weight
        cm = comm.select(F.col("i").alias("a"), F.col("c").alias("ca"))
        cm2 = comm.select(F.col("i").alias("b"), F.col("c").alias("cb"))
        new_edges = (
            edges.join(cm, "a")
            .join(cm2, "b")
            .select(
                F.least("ca", "cb").alias("a"),
                F.greatest("ca", "cb").alias("b"),
                "w",
            )
            .groupBy("a", "b")
            .agg(F.sum("w").alias("w"))
        )
        old_edges = edges
        edges = truncate_state(new_edges, n_part, "a")
        old_edges.unpersist()
        deg.unpersist()
        comm.unpersist()

    edges.unpersist()
    return mapping


def louvain(
    graph: LinkGraph,
    max_iter: int = 20,
    max_levels: int = 10,
    resolution: float = 1.0,
    unrenumber: bool = True,
):
    """Returns ``(DF[vertex, partition], modularity)``. Partition labels are
    canonicalized to each community's minimum member id."""
    n_part = graph.num_partitions

    edges = truncate_state(_canonical_undirected(graph), n_part, "a")
    mapping = _levels(edges, n_part, resolution, max_iter, max_levels)
    if mapping is None:  # empty/edgeless graph: every vertex its own community
        mapping = graph.vertices().select(
            F.col(VID).alias("orig"), F.col(VID).alias("cur")
        )

    # ---- final modularity over the ORIGINAL graph ------------------------
    orig = truncate_state(_canonical_undirected(graph), n_part, "a")
    m_orig = mapping.select(F.col("orig").alias("v"), F.col("cur").alias("c"))
    modularity = _modularity(orig, m_orig, resolution)

    out = m_orig.select(F.col("v").alias("vertex"), F.col("c").alias("partition"))
    canon = out.groupBy("partition").agg(F.min("vertex").alias("_canon"))
    out = out.join(canon, "partition").select(
        "vertex", F.col("_canon").alias("partition")
    )
    if unrenumber:
        out = graph.unrenumber(out, "vertex")
        if graph.renumber_map is not None:
            canon2 = out.groupBy("partition").agg(F.min("vertex").alias("_c2"))
            out = out.join(canon2, "partition").select(
                "vertex", F.col("_c2").alias("partition")
            )
    orig.unpersist()
    if hasattr(mapping, "is_cached") and mapping.is_cached:
        mapping.unpersist()
    return out, float(modularity)
