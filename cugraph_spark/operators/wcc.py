"""Weakly connected components — hash-min label convergence.

The north rule prescribes hash-min; reference API parity is
``python/cugraph/cugraph/components/connectivity.py:102-206``
(output ``DF[vertex, labels]``). The reference's C++ multi-level label-push
(``weakly_connected_components_impl.cuh:199-247``) requires symmetric input
(``:285-287``); like it, we symmetrize internally for directed graphs so
weak connectivity is computed over the underlying undirected graph.

Convergence: label(v) ← min(label(v), min over neighbors' labels), iterated
to fixpoint. Labels are canonicalized to the minimum *external-comparable
internal id* in each component; the result is exact up to the relabeling the
reference tests also allow (``tests/components/test_connectivity.py:322-342``).

Spark plan per round: one join (labels→edges by src, big side pre-partitioned
and persisted, never re-shuffled) + one groupBy(dst).min + a least() merge;
the changed-label count folds into the same materialization, and the loop
is ``graph.superstep_loop``.  The round is a module function,
``_min_label_step``, that SCC's coloring (on directed edges) and MST's
component merge run as well. A 'shortcut' pointer-jumping round
(label ← label-of-label) is applied each sweep, collapsing long chains so
rounds = O(log diameter) instead of O(diameter) — this stays within the
hash-min family (min is still the combiner) but is essential at web scale
where chain-shaped link paths are common.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import DST, SRC, VID, LinkGraph, superstep_loop, truncate_state


def weakly_connected_components(
    graph: LinkGraph,
    max_iter: int = 200,
    checkpointer=None,
    unrenumber: bool = True,
    shortcutting: bool = True,
) -> DataFrame:
    """Return DF[vertex, labels] — labels = min internal id per component,
    mapped back to external ids when the graph is renumbered."""
    n_part = graph.num_partitions
    # symmetrize view for connectivity only (impl.cuh:285-287)
    edges, owned_edges = _undirected_pairs(graph)

    labels, _ = superstep_loop(
        graph.vertices().withColumn("label", F.col(VID)),
        _min_label_step(edges, shortcutting),
        lambda m: m["changed"] == 0,
        lambda df: truncate_state(df, n_part, VID),
        max_iter,
        n_part,
        checkpointer=checkpointer,
    )
    if owned_edges:
        edges.unpersist()
    return _labels_out(graph, labels, "labels", unrenumber)


def _min_label_step(edges: DataFrame, shortcutting: bool = True):
    """The hash-min superstep over ``edges`` [src, dst] (src-partitioned):
    a ``superstep_loop`` step on an [id, label] state that takes each
    vertex's minimum over its own and its in-neighbors' labels, then,
    with ``shortcutting``, jumps label ← label(label).  Its scalar is
    ``changed``; the loop converges when it reads 0."""

    def step(labels: DataFrame, _report):
        nbr_min = (
            edges.join(
                labels.select(F.col(VID).alias(SRC), "label").hint("shuffle_hash"), SRC
            )
            .groupBy(F.col(DST).alias(VID))
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.select(VID, F.col("label").alias("_old"))
            .join(nbr_min.hint("shuffle_hash"), VID, "left")
            .select(
                VID,
                F.least(F.col("_old"), F.coalesce(F.col("nbr_label"), F.col("_old"))).alias("label"),
                F.col("_old"),
            )
        )
        if shortcutting:
            # pointer jumping: label ← label(label). label ids are vertex ids,
            # so one self-join against the fresh labels collapses chains;
            # shuffle_hash keeps it in the round's one job (a broadcast of
            # the fresh labels ran the gather as a job of its own)
            lab_of_lab = new_labels.select(
                F.col(VID).alias("label"), F.col("label").alias("label2")
            )
            new_labels = (
                new_labels.join(lab_of_lab.hint("shuffle_hash"), "label", "left")
                .select(
                    VID,
                    F.coalesce(F.col("label2"), F.col("label")).alias("label"),
                    F.col("_old"),
                )
            )
        return new_labels, [_changed_labels()]

    return step


def _undirected_pairs(graph: LinkGraph) -> tuple:
    """``(edges, owned)``: [src, dst] of the underlying undirected graph,
    src-partitioned, and whether it is a new cached frame the caller
    unpersists."""
    edges = graph.edges.select(SRC, DST)
    if not graph.properties.directed:
        return edges, False
    rev = graph.edges.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST))
    edges = edges.union(rev).distinct().repartition(graph.num_partitions, SRC).persist()
    edges.count()
    return edges, True


def _changed_labels():
    """A label loop's convergence scalar: the labels a superstep changed."""
    return F.sum(F.when(F.col("label") != F.col("_old"), 1).otherwise(0)).alias("changed")


def _labels_out(graph: LinkGraph, labels: DataFrame, col: str, unrenumber: bool) -> DataFrame:
    """DF[vertex, <col>] of a label state; unrenumbered, each label class is
    renamed to its minimum EXTERNAL member, so the output is stable
    regardless of the internal renumbering."""
    out = labels.select(F.col(VID).alias("vertex"), F.col("label").alias(col))
    if unrenumber:
        out = graph.unrenumber(out, "vertex")
        if graph.renumber_map is not None:
            canon = out.groupBy(col).agg(F.min("vertex").alias("_canon"))
            out = out.join(canon, col).select("vertex", F.col("_canon").alias(col))
    return out
