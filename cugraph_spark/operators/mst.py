"""Minimum spanning tree/forest — distributed Borůvka.

Reference parity: ``python/cugraph/cugraph/tree/minimum_spanning_tree.py:
65-148`` (``minimum_spanning_tree(G)`` → edge-list subgraph DataFrame).

Borůvka rounds: every component picks its minimum-weight outgoing edge
(deterministic tie-break on (weight, a, b)), all picked edges join the
forest, touched components merge via a hash-min fixpoint on the (tiny)
component graph: WCC's step (``wcc._min_label_step``) on
``graph.superstep_loop``, one Spark job per superstep. O(log V) rounds,
each one join+groupBy over the edge set — the classic shuffle-friendly
MST.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import DST, SRC, VID, WGT, LinkGraph, superstep_loop, truncate_state
from .wcc import _min_label_step


def minimum_spanning_tree(
    graph: LinkGraph, max_rounds: int = 64, unrenumber: bool = True, _sign: float = 1.0
) -> DataFrame:
    """Edge list [src, dst, weight] of the minimum spanning forest over the
    undirected view of the graph.

    ``_sign=-1.0`` flips the objective (used by ``maximum_spanning_tree``):
    the Borůvka loop runs on negated weights, and the output weights are
    negated back, so MAX-forest = MIN-forest of the negated graph —
    the same reduction the reference uses
    (``tree/minimum_spanning_tree.py:45-62``, ``_maximum_spanning_tree_subgraph``
    negates ``edgelist.weights`` in place before the MST call).
    """
    n_part = graph.num_partitions

    und = (
        graph.edges.select(
            F.least(SRC, DST).alias("a"),
            F.greatest(SRC, DST).alias("b"),
            F.col(WGT).alias("w"),
        )
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        # min-dedup FIRST, then negate: mirrors the reference, which negates
        # the weights of an already-built (min-dedup'd) graph in place.
        .agg((F.min("w") * F.lit(_sign)).alias("w"))
    )
    und = truncate_state(und, n_part, "a")

    comp = truncate_state(
        graph.vertices().select(F.col(VID).alias("v"), F.col(VID).alias("c")), n_part, "v"
    )
    forest: DataFrame | None = None

    for _ in range(max_rounds):
        ca = comp.select(F.col("v").alias("a"), F.col("c").alias("ca"))
        cb = comp.select(F.col("v").alias("b"), F.col("c").alias("cb"))
        cross = (
            und.join(ca, "a").join(cb, "b").filter(F.col("ca") != F.col("cb"))
        )
        # per-component minimum incident crossing edge
        inc = cross.select(F.col("ca").alias("c"), "w", "a", "b").union(
            cross.select(F.col("cb").alias("c"), "w", "a", "b")
        )
        picked = (
            inc.groupBy("c")
            .agg(F.min(F.struct("w", "a", "b")).alias("m"))
            .select(F.col("m.w").alias("w"), F.col("m.a").alias("a"), F.col("m.b").alias("b"))
            .distinct()
        )
        picked = truncate_state(picked, n_part, "a")
        if picked.limit(1).count() == 0:
            picked.unpersist()
            break
        forest = picked if forest is None else forest.union(picked)
        forest = truncate_state(forest, n_part, "a")

        # merge components: WCC's hash-min step on the component graph
        ca2 = comp.select(F.col("v").alias("a"), F.col("c").alias("pca"))
        cb2 = comp.select(F.col("v").alias("b"), F.col("c").alias("pcb"))
        cedges = (
            picked.join(ca2, "a").join(cb2, "b").select(
                F.col("pca").alias(SRC), F.col("pcb").alias(DST)
            )
        )
        cedges = truncate_state(
            cedges.union(cedges.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST))),
            n_part,
            SRC,
        )
        # no iteration cap: hash-min on a finite graph always converges
        clabels, _ = superstep_loop(
            cedges.select(F.col(SRC).alias(VID)).distinct().withColumn("label", F.col(VID)),
            _min_label_step(cedges),
            lambda m: m["changed"] == 0,
            lambda df: truncate_state(df, n_part, VID),
            2**31 - 1,
            n_part,
        )
        old_comp = comp
        comp = truncate_state(
            comp.join(clabels.withColumnRenamed(VID, "c"), "c", "left").select(
                "v", F.coalesce("label", "c").alias("c")
            ),
            n_part,
            "v",
        )
        old_comp.unpersist()
        cedges.unpersist()
        clabels.unpersist()

    if forest is None:
        out = graph.spark.createDataFrame([], "src LONG, dst LONG, weight DOUBLE")
    else:
        out = forest.select(
            F.col("a").alias(SRC), F.col("b").alias(DST), F.col("w").alias(WGT)
        )
    if _sign != 1.0:
        out = out.select(SRC, DST, (F.col(WGT) * F.lit(_sign)).alias(WGT))
    if unrenumber:
        out = graph.unrenumber(out, SRC)
        out = graph.unrenumber(out, DST)
    return out


def maximum_spanning_tree(
    graph: LinkGraph, max_rounds: int = 64, unrenumber: bool = True
) -> DataFrame:
    """Edge list [src, dst, weight] of the MAXIMUM spanning forest.

    Reference parity: ``tree/minimum_spanning_tree.py:108-148``
    (``maximum_spanning_tree``) — same Borůvka machinery on negated weights;
    returned weights are the original (positive) ones.
    """
    return minimum_spanning_tree(
        graph, max_rounds=max_rounds, unrenumber=unrenumber, _sign=-1.0
    )
