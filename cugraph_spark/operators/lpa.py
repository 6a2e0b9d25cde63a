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
job; localCheckpoint per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..graph import DST, SRC, VID, LinkGraph, static_plan, truncate_state


def label_propagation(
    graph: LinkGraph,
    max_iter: int = 20,
    checkpointer=None,
    unrenumber: bool = True,
    symmetrize: bool = True,
) -> DataFrame:
    """Return DF[vertex, label]."""
    n_part = graph.num_partitions
    spark = graph.spark

    if symmetrize and graph.properties.directed:
        fwd = graph.edges.select(SRC, DST)
        rev = graph.edges.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST))
        edges = fwd.union(rev).distinct().repartition(n_part, SRC).persist()
        edges.count()
        owned = True
    else:
        edges = graph.edges.select(SRC, DST)
        owned = False

    # AQE off: it would run each shuffle stage of a round as its own job,
    # and state checkpointed under it loses its hash partitioning (see
    # static_plan).
    with static_plan(spark):
        labels = graph.vertices().withColumn("label", F.col(VID))
        labels = truncate_state(labels, n_part, VID)

        start_iter = 0
        if checkpointer is not None:
            resumed = checkpointer.resume(spark)
            if resumed is not None:
                start_iter, labels = resumed
                labels = truncate_state(labels, n_part, VID)

        for it in range(start_iter, max_iter):
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
            obs = Observation(f"lpa_iter_{it}")
            # argmax by (count desc, label asc): max_by over struct(c, -label)
            new_labels = truncate_state(
                counts.groupBy(VID)
                .agg(
                    F.max_by(
                        "label", F.struct(F.col("c"), (-F.col("label")).alias("nl"))
                    ).alias("label"),
                    F.max("_s").alias("_old"),
                )
                .observe(
                    obs,
                    F.sum(
                        F.when(F.col("label") != F.col("_old"), 1).otherwise(0)
                    ).alias("changed"),
                )
                .drop("_old"),
                n_part,
                VID,
            )
            changed = int(obs.get["changed"] or 0)
            labels.unpersist()
            labels = new_labels
            if checkpointer is not None:
                checkpointer.save(labels, it + 1, {"changed": changed})
            if changed == 0:
                break

    if owned:
        edges.unpersist()
    out = labels.select(F.col(VID).alias("vertex"), F.col("label"))
    if unrenumber:
        out = graph.unrenumber(out, "vertex")
        if graph.renumber_map is not None:
            # canonicalize: rename each label class to its min external member
            canon = out.groupBy("label").agg(F.min("vertex").alias("_canon"))
            out = out.join(canon, "label").select(
                "vertex", F.col("_canon").alias("label")
            )
    return out
