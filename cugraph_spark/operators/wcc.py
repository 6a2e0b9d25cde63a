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
per-round localCheckpoint cuts lineage. A 'shortcut' pointer-jumping round
(label ← label-of-label) is applied each sweep, collapsing long chains so
rounds = O(log diameter) instead of O(diameter) — this stays within the
hash-min family (min is still the combiner) but is essential at web scale
where chain-shaped link paths are common.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..graph import DST, SRC, VID, LinkGraph, static_plan, truncate_state


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
    spark = graph.spark

    if graph.properties.directed:
        # symmetrize view for connectivity only (impl.cuh:285-287)
        fwd = graph.edges.select(SRC, DST)
        rev = graph.edges.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST))
        edges = fwd.union(rev).distinct().repartition(n_part, SRC).persist()
        edges.count()
        owned_edges = True
    else:
        edges = graph.edges.select(SRC, DST)
        owned_edges = False

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
                # so one self-join against the fresh labels collapses chains.
                lab_of_lab = new_labels.select(
                    F.col(VID).alias("label"), F.col("label").alias("label2")
                )
                new_labels = (
                    new_labels.join(lab_of_lab, "label", "left")
                    .select(
                        VID,
                        F.coalesce(F.col("label2"), F.col("label")).alias("label"),
                        F.col("_old"),
                    )
                )
            # changed-count rides the materialization job via observe — no
            # separate comparison job per round
            obs = Observation(f"wcc_iter_{it}")
            new_labels = new_labels.observe(
                obs,
                F.sum(F.when(F.col("label") != F.col("_old"), 1).otherwise(0)).alias("changed"),
            ).drop("_old")
            new_labels = truncate_state(new_labels, n_part, VID)
            changed = int(obs.get["changed"] or 0)
            labels.unpersist()
            labels = new_labels
            if checkpointer is not None:
                checkpointer.save(labels, it + 1, {"changed": changed})
            if changed == 0:
                break

    if owned_edges:
        edges.unpersist()
    out = labels.select(F.col(VID).alias("vertex"), F.col("label").alias("labels"))
    if unrenumber:
        out = graph.unrenumber(out, "vertex")
        # canonicalize label to each component's minimum EXTERNAL id so the
        # output is stable regardless of the internal renumbering
        if graph.renumber_map is not None:
            comp_min = out.groupBy("labels").agg(F.min("vertex").alias("_canon"))
            out = (
                out.join(comp_min, "labels")
                .select("vertex", F.col("_canon").alias("labels"))
            )
    return out
