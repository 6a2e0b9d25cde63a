"""Strongly connected components — distributed coloring algorithm.

Reference parity: ``components/connectivity.py:209-340``
(``strongly_connected_components`` → DF[vertex, labels]); the reference's
kernel is a legacy single-GPU adjacency-matrix path
(``cpp/src/components/legacy/scc_matrix.cuh``), which does not translate
to a scale-out setting — we use the standard coloring/FW-BW scheme
(Orzan-style) instead, which is join/groupBy-shaped:

repeat until no vertices remain:
  1. TRIM: peel vertices with zero in- or out-degree in the remaining
     subgraph (each is a singleton SCC).
  2. COLOR: propagate ``color(v) = min(v, min over in-neighbors)`` to
     fixpoint, so color(v) is the minimum id that reaches v.  This is
     WCC's hash-min step (``wcc._min_label_step``) on the directed edges;
     its pointer jump stays valid because reachability is transitive.
  3. MARK: from every color root r (where color(r) == r), walk REVERSE
     edges restricted to same-colored vertices; the marked set is exactly
     the SCC of r, and r is its minimum member.  Label it r, remove it,
     repeat.

COLOR and MARK run on ``graph.superstep_loop`` (one Spark job per
superstep; MARK is a frontier loop shaped like ``traversal.bfs``).  TRIM
and the outer rounds keep loops of their own: their state is two frames
(vertices and edges).  Outer rounds are few in practice (each round
removes the SCC of every color root).
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..exceptions import FailedToConvergeError
from ..graph import DST, SRC, VID, LinkGraph, superstep_loop, truncate_state
from .wcc import _labels_out, _min_label_step


def strongly_connected_components(
    graph: LinkGraph,
    max_outer: int = 50,
    max_inner: int = 200,
    unrenumber: bool = True,
    fail_on_nonconvergence: bool = False,
) -> DataFrame:
    """DF[vertex, labels] — label = the component's minimum internal id,
    mapped back to external ids when the graph is renumbered (each class
    then takes its minimum external member, as in WCC)."""
    n_part = graph.num_partitions

    edges = truncate_state(
        graph.edges.select(SRC, DST).distinct(), n_part, SRC
    )
    verts = truncate_state(graph.vertices().select(VID), n_part, VID)
    assigned = None  # accumulated [id, label]

    for _ in range(max_outer):
        if verts.limit(1).count() == 0:
            break

        # ---- 1. trim singleton SCCs (no in- or no out-edge remaining)
        while True:
            srcs = edges.select(F.col(SRC).alias(VID)).distinct()
            dsts = edges.select(F.col(DST).alias(VID)).distinct()
            keep = srcs.join(dsts, VID)  # has both in- and out-edges
            trimmed = verts.join(keep, VID, "left_anti")
            trimmed = truncate_state(trimmed, n_part, VID)
            if trimmed.limit(1).count() == 0:
                trimmed.unpersist()
                break
            singletons = trimmed.select(VID, F.col(VID).alias("label"))
            assigned = (
                singletons
                if assigned is None
                else assigned.union(singletons)
            )
            assigned = truncate_state(assigned, n_part, VID)
            verts, edges = _remove(verts, edges, trimmed, n_part)
            trimmed.unpersist()

        if verts.limit(1).count() == 0:
            break

        # ---- 2. forward min-color propagation to fixpoint
        colors, _ = superstep_loop(
            verts.withColumn("label", F.col(VID)),
            _min_label_step(edges),
            lambda m: m["changed"] == 0,
            lambda df: truncate_state(df, n_part, VID),
            max_inner,
            n_part,
        )

        # ---- 3. backward mark within color from each root
        marked, _ = superstep_loop(
            colors.filter(F.col(VID) == F.col("label")).select(
                VID, F.col("label").alias("c"), F.lit(True).alias("frontier")
            ),
            _mark_step(edges, colors),
            lambda m: m["new"] == 0,
            lambda df: truncate_state(df, n_part, VID),
            max_inner,
            n_part,
        )

        scc = marked.select(VID, F.col("c").alias("label"))
        assigned = scc if assigned is None else assigned.union(scc)
        assigned = truncate_state(assigned, n_part, VID)
        verts, edges = _remove(verts, edges, marked, n_part)
        colors.unpersist()
        marked.unpersist()
    else:
        # max_outer exhausted: any still-unassigned vertex must not be
        # silently dropped — label each with itself (correct whenever the
        # residual has only singleton SCCs; WRONG if a multi-vertex SCC
        # remains, so the caller gets an explicit signal, mirroring
        # pagerank's nonconvergence contract)
        n_left = verts.count()
        if n_left > 0:
            msg = (
                f"strongly_connected_components: max_outer={max_outer} "
                f"exhausted with {n_left} unassigned vertices; labeling them "
                "as singleton SCCs, which is wrong if the residual contains "
                "a multi-vertex SCC. Raise max_outer."
            )
            if fail_on_nonconvergence:
                raise FailedToConvergeError(msg)
            warnings.warn(msg, RuntimeWarning, stacklevel=2)
        leftover = verts.select(VID, F.col(VID).alias("label"))
        assigned = leftover if assigned is None else assigned.union(leftover)

    if assigned is None:
        # zero-vertex graph: empty [vertex, labels] frame, not an error
        assigned = graph.spark.createDataFrame([], f"{VID} LONG, label LONG")
    return _labels_out(graph, assigned, "labels", unrenumber)


def _remove(verts: DataFrame, edges: DataFrame, gone: DataFrame, n_part: int) -> tuple:
    """``(verts, edges)`` without the vertices of ``gone`` and every edge
    that touches one; the old frames are unpersisted."""
    ids = gone.select(VID)
    new_verts = truncate_state(verts.join(ids, VID, "left_anti"), n_part, VID)
    new_edges = truncate_state(
        edges.join(ids.withColumnRenamed(VID, SRC), SRC, "left_anti")
        .join(ids.withColumnRenamed(VID, DST), DST, "left_anti"),
        n_part,
        SRC,
    )
    verts.unpersist()
    edges.unpersist()
    return new_verts, new_edges


def _mark_step(edges: DataFrame, colors: DataFrame):
    """The backward-mark superstep: a ``superstep_loop`` step on the marked
    vertices [id, c, frontier] that adds every unmarked in-neighbor of the
    frontier whose color is c.  Its scalar ``new`` counts the added
    vertices, the next frontier."""
    color = colors.select(F.col(VID).alias(SRC), F.col("label").alias("_vc"))

    def step(marked: DataFrame, _report):
        frontier = marked.filter("frontier").select(F.col(VID).alias(DST), "c")
        cand = (
            edges.join(frontier.hint("shuffle_hash"), DST)
            .join(color.hint("shuffle_hash"), SRC)
            .filter(F.col("c") == F.col("_vc"))  # stay inside the color
            .groupBy(F.col(SRC).alias(VID))
            .agg(F.min("c").alias("_c"))
        )
        plan = marked.join(cand.hint("shuffle_hash"), VID, "full").select(
            VID,
            F.coalesce("c", "_c").alias("c"),
            F.col("c").isNull().alias("frontier"),
        )
        return plan, [F.sum(F.col("frontier").cast("int")).alias("new")]

    return step
