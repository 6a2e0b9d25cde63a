"""Label propagation (synchronous, deterministic).

The reference snapshot ships no LPA kernel (SURVEY §2.3 — grep of
``python/``/``cpp/src/`` is empty); the north rule requires it, so the
semantics are OUR pinned spec (tested against pinned goldens, structural
agreement with classic sync LPA):

- init: label(v) = v (internal id)
- per superstep, for every vertex with ≥1 in-neighbor (over the symmetrized
  edge view): new label = the most frequent label among the neighbors' labels
  PLUS the vertex's own current label (self-inclusive — damps the classic
  synchronous-LPA oscillation on bipartite substructures, e.g. a mutually
  linked page pair, deterministically); ties broken by the SMALLEST label
- isolated vertices keep their label
- stop at fixpoint (no label changed) or ``max_iter``

Spark plan per superstep: edges⋈labels by src (big side persisted, only the
V-row label state shuffles) → groupBy(dst,label).count → per-dst argmax via
max_by on a (count, -label) ordering — a single aggregation, no window.
The vertex's OWN previous label rides along as a tagged column on its self
vote (``_self``), so the argmax aggregation also recovers the old label
(``max`` over the one non-null tag) and the change count fuses into the
same materialization via ``observe`` — NO per-round V-row merge join at
all: three exchanges per superstep (state→src, vote counts, argmax), one
job.  The loop is ``graph.superstep_loop``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import DST, SRC, VID, LinkGraph, superstep_loop, truncate_state
from .wcc import _changed_labels, _labels_out, _undirected_pairs


def label_propagation(
    graph: LinkGraph,
    max_iter: int = 20,
    checkpointer=None,
    unrenumber: bool = True,
    symmetrize: bool = True,
) -> DataFrame:
    """Return DF[vertex, label]."""
    n_part = graph.num_partitions
    edges, owned = (
        _undirected_pairs(graph) if symmetrize else (graph.edges.select(SRC, DST), False)
    )

    def step(labels: DataFrame, _report):
        # neighbor votes carry a NULL tag; the self vote carries its own
        # (old) label as the tag — every vertex has exactly one tagged
        # row, so the final argmax group also knows the previous label
        # without any join back to the state.
        nbr_votes = edges.join(
            labels.select(F.col(VID).alias(SRC), "label").hint("shuffle_hash"), SRC
        ).select(
            F.col(DST).alias(VID),
            "label",
            F.lit(None).cast("long").alias("_self"),
        )
        self_votes = labels.select(
            VID, "label", F.col("label").cast("long").alias("_self")
        )
        counts = (
            nbr_votes.union(self_votes)
            .groupBy(VID, "label")
            .agg(F.count("*").alias("c"), F.max("_self").alias("_s"))
        )
        # argmax by (count desc, label asc): max_by over struct(c, -label)
        new_labels = counts.groupBy(VID).agg(
            F.max_by(
                "label", F.struct(F.col("c"), (-F.col("label")).alias("nl"))
            ).alias("label"),
            F.max("_s").alias("_old"),
        )
        return new_labels, [_changed_labels()]

    labels, _ = superstep_loop(
        graph.vertices().withColumn("label", F.col(VID)),
        step,
        lambda m: m["changed"] == 0,
        lambda df: truncate_state(df, n_part, VID),
        max_iter,
        n_part,
        checkpointer=checkpointer,
    )
    if owned:
        edges.unpersist()
    return _labels_out(graph, labels, "label", unrenumber)
