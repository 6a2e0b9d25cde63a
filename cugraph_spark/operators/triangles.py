"""Triangle counting — degree-ordered intersection.

Reference pipeline (``cpp/src/community/triangle_count_impl.cuh``):
exclude self-loops (``:202-238``), keep the 2-core (``:238-273``), orient
edges low→high degree with id tie-break (``extract_low_to_high_degree_edges_t``
``:86-103``), per-edge neighbor intersection where each common neighbor
credits src, dst and itself (``intersection_op_t:104-113``). API parity:
``community/triangle_count.py:45-122`` — undirected only, returns
``DF[vertex, counts]`` with 0 for triangle-free vertices; exact integer
semantics.

Spark plan: dedup to canonical undirected pairs → degree → orientation
filter (bounds every adjacency list by out-orientation degree ≤ O(√E), the
reference's own skew answer) → sorted adjacency via collect_list →
``array_intersect`` on the two endpoint lists → explode common neighbors →
credit 3 endpoints → groupBy(vertex).count. The orientation makes the
collect_list bounded even for web-scale hub vertices.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import DST, SRC, VID, LinkGraph, truncate_state


def triangle_count(
    graph: LinkGraph,
    start_list=None,
    unrenumber: bool = True,
) -> DataFrame:
    """Return DF[vertex, counts]; requires an undirected graph
    (``triangle_count.py:85-87`` raises on directed).

    ``start_list`` (``triangle_count.py:45-122``): an int or list of
    EXTERNAL vertex ids — counts are still computed over the whole graph
    (a triangle through v involves vertices outside any start set), but
    only the listed vertices' rows are returned."""
    if graph.properties.directed:
        raise ValueError(
            "input graph must be undirected (reference triangle_count.py:85-87)"
        )
    if start_list is not None:
        if isinstance(start_list, int):
            start_list = [start_list]
        if not isinstance(start_list, (list, tuple)):
            raise TypeError(
                "'start_list' must be an int, list or tuple "
                "(reference triangle_count.py:88-99)"
            )
    n_part = graph.num_partitions

    # canonical undirected pairs, self-loops excluded (impl.cuh:202-238)
    und = (
        graph.edges.select(SRC, DST)
        .filter(F.col(SRC) != F.col(DST))
        .filter(F.col(SRC) < F.col(DST))
        .distinct()
    )

    und, deg = _peel(und, 2, n_part)

    # degree on the simple undirected graph (unless the peel's last round
    # already proved its degree frame current and donated it above)
    if deg is None:
        deg = (
            und.select(F.col(SRC).alias("v"))
            .union(und.select(F.col(DST).alias("v")))
            .groupBy("v")
            .agg(F.count("*").alias("deg"))
            .persist()
        )

    # orient low→high degree, id tie-break (impl.cuh:86-103).  `und` holds
    # each undirected edge exactly once (canonical src<dst), so orientation
    # is a conditional endpoint SWAP on the E-row frame — not a filter over
    # the 2E-row symmetrized union: the degree joins touch half the rows.
    d1 = deg.select(F.col("v").alias(SRC), F.col("deg").alias("deg_s"))
    d2 = deg.select(F.col("v").alias(DST), F.col("deg").alias("deg_d"))
    low_first = (F.col("deg_s") < F.col("deg_d")) | (
        (F.col("deg_s") == F.col("deg_d")) & (F.col(SRC) < F.col(DST))
    )
    # truncate_state (eager localCheckpoint + filled cache), not a lazy
    # persist: `oriented` is scanned three times by the intersection stage
    # (the edge stream plus both adjacency sides), and a lazy persist
    # unpersisted before the caller's action never materializes — leaving
    # the degree joins to re-execute per scan unless AQE happens to reuse
    # the exchanges.
    oriented = truncate_state(
        und.join(d1, SRC)
        .join(d2, DST)
        .select(
            F.when(low_first, F.col(SRC)).otherwise(F.col(DST)).alias("o_src"),
            F.when(low_first, F.col(DST)).otherwise(F.col(SRC)).alias("o_dst"),
        )
        .select(F.col("o_src").alias(SRC), F.col("o_dst").alias(DST)),
        n_part,
        SRC,
    )
    deg.unpersist()

    adj = oriented.groupBy(F.col(SRC).alias("v")).agg(
        F.sort_array(F.collect_list(DST)).alias("nbrs")
    )

    a_s = adj.select(F.col("v").alias(SRC), F.col("nbrs").alias("nbrs_s"))
    a_d = adj.select(F.col("v").alias(DST), F.col("nbrs").alias("nbrs_d"))
    commons = (
        oriented.join(a_s, SRC)
        .join(a_d, DST)
        .select(
            SRC, DST, F.array_intersect("nbrs_s", "nbrs_d").alias("common")
        )
        .filter(F.size("common") > 0)
    )

    # each common neighbor w of oriented edge (u,v) closes triangle {u,v,w};
    # credit all three endpoints (intersection_op_t:104-113)
    credits = (
        commons.select(F.col(SRC).alias("vertex"), F.size("common").alias("n"))
        .union(commons.select(F.col(DST).alias("vertex"), F.size("common").alias("n")))
        .union(
            commons.select(F.explode("common").alias("vertex")).withColumn(
                "n", F.lit(1)
            )
        )
    )
    counts = credits.groupBy("vertex").agg(F.sum("n").alias("counts"))

    out = (
        graph.vertices()
        .withColumnRenamed(VID, "vertex")
        .join(counts, "vertex", "left")
        .fillna(0, ["counts"])
        .select("vertex", F.col("counts").cast("long").alias("counts"))
    )
    if start_list is not None:
        # restrict OUTPUT rows to the start set (internal ids via the
        # renumber map, as the reference's lookup_internal_vertex_id does)
        sl = graph.spark.createDataFrame(
            [(int(v),) for v in start_list], "ext_id LONG"
        )
        if graph.renumber_map is not None:
            sl = sl.join(graph.renumber_map, "ext_id").select(
                F.col(VID).alias("vertex")
            )
        else:
            sl = sl.select(F.col("ext_id").alias("vertex"))
        out = out.join(F.broadcast(sl), "vertex", "left_semi")
    oriented.unpersist()
    und.unpersist()
    if unrenumber:
        out = graph.unrenumber(out, "vertex")
    return out


def total_triangles(graph: LinkGraph) -> int:
    """Σ per-vertex counts / 3 — global triangle count."""
    df = triangle_count(graph, unrenumber=False)
    s = df.agg(F.sum("counts")).collect()[0][0] or 0
    return int(s // 3)


def _peel(und: DataFrame, min_deg: int, n_part: int) -> tuple:
    """``(und, deg)``: the canonical undirected pairs ``und`` [src, dst],
    materialized src-partitioned, after peeling vertices of degree below
    ``min_deg``, and the [v, deg] frame (persisted) of the result when the
    peel's last round proved it current, else None."""
    und = truncate_state(und, n_part, SRC)
    # core prune (impl.cuh:238-273): peel degree<min_deg vertices before the
    # expensive orientation/intersection — at web scale this drops the long
    # tail of degree-1 leaves.  Partial pruning is still CORRECT (a pruned
    # vertex has too few neighbors: a triangle needs 2, a k-truss edge k−1),
    # so the peel is capped: each round costs one E-row aggregation and
    # pays for itself only while large leaf-fringes remain.
    before_cnt = und.count()  # carried across rounds — one count action/round
    deg = None
    for _ in range(5):
        dg = (
            und.select(F.col(SRC).alias("v"))
            .union(und.select(F.col(DST).alias("v")))
            .groupBy("v")
            .agg(F.count("*").alias("d"))
            .persist()
        )
        low = dg.filter(F.col("d") < min_deg).select("v")
        # every vertex in dg has d >= 1, so "low empty" <=> this round's
        # anti-join would remove nothing (the old after==before case) —
        # probing it on the cached dg is a V-row filter, and on a
        # leaf-free graph it short-circuits the whole round AND donates
        # dg as the orientation degree frame (skips a second E-row agg)
        if low.count() == 0:
            deg = dg.withColumnRenamed("d", "deg")
            break
        # re-pin column order: a USING join moves its key first, so after
        # the DST anti-join the frame is (dst, src) — and the positional
        # UNION in the orientation step would silently swap endpoints
        pruned = truncate_state(
            und.join(low.withColumnRenamed("v", SRC), SRC, "left_anti")
            .join(low.withColumnRenamed("v", DST), DST, "left_anti")
            .select(SRC, DST),
            n_part,
            SRC,
        )
        after_cnt = pruned.count()
        dg.unpersist()
        und.unpersist()
        und = pruned
        # diminishing returns: stop once a round removes <5% of edges
        if after_cnt > 0.95 * before_cnt:
            break
        before_cnt = after_cnt
    return und, deg
