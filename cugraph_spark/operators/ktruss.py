"""K-truss — maximal subgraph where every edge is in ≥ k−2 triangles.

Reference parity: ``python/cugraph/cugraph/community/ktruss_subgraph.py:
42-177`` (``k_truss`` / ``ktruss_subgraph`` → edge-list subgraph).

Algorithm: iterated support filter (SURVEY §2.3 "iterated triangle-support
filter"): compute per-edge triangle support with the same degree-oriented
wedge join as triangle counting, drop edges with support < k−2, repeat to
fixpoint, after triangle counting's degree peel (``triangles._peel``) to
the (k−1)-core. Each round is bounded by the oriented adjacency (≤ O(√E)
per list); the edge set only shrinks, and per-round state is truncated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import DST, SRC, LinkGraph, truncate_state
from .triangles import _peel


def _edge_support(und: DataFrame) -> DataFrame:
    """[src, dst, support] for canonical (src<dst) undirected edges."""
    deg = (
        und.select(F.col(SRC).alias("v"))
        .union(und.select(F.col(DST).alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )
    both = und.union(und.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST)))
    d1 = deg.select(F.col("v").alias(SRC), F.col("deg").alias("deg_s"))
    d2 = deg.select(F.col("v").alias(DST), F.col("deg").alias("deg_d"))
    oriented = (
        both.join(d1, SRC)
        .join(d2, DST)
        .filter(
            (F.col("deg_s") < F.col("deg_d"))
            | ((F.col("deg_s") == F.col("deg_d")) & (F.col(SRC) < F.col(DST)))
        )
        .select(SRC, DST)
    )
    adj = oriented.groupBy(F.col(SRC).alias("v")).agg(
        F.sort_array(F.collect_list(DST)).alias("nbrs")
    )
    a_s = adj.select(F.col("v").alias(SRC), F.col("nbrs").alias("nbrs_s"))
    a_d = adj.select(F.col("v").alias(DST), F.col("nbrs").alias("nbrs_d"))
    tri = (
        oriented.join(a_s, SRC)
        .join(a_d, DST)
        .select(SRC, DST, F.explode(F.array_intersect("nbrs_s", "nbrs_d")).alias("w"))
    )
    # each triangle (u,v,w) contributes support to all 3 of its edges
    sides = (
        tri.select(F.least(SRC, DST).alias("a"), F.greatest(SRC, DST).alias("b"))
        .union(tri.select(F.least(SRC, "w").alias("a"), F.greatest(SRC, "w").alias("b")))
        .union(tri.select(F.least(DST, "w").alias("a"), F.greatest(DST, "w").alias("b")))
    )
    support = sides.groupBy("a", "b").agg(F.count("*").alias("support"))
    # join on NAMES, not dataset-column references: `und[SRC] ==
    # support["a"]` is a self-join (support derives from und) and the
    # column references resolve ambiguously
    sup = support.withColumnRenamed("a", SRC).withColumnRenamed("b", DST)
    return (
        und.join(sup, [SRC, DST], "left")
        .select(SRC, DST, F.coalesce("support", F.lit(0)).alias("support"))
    )


def k_truss(graph: LinkGraph, k: int, unrenumber: bool = True) -> DataFrame:
    """Edge list [src, dst] of the k-truss subgraph; undirected input
    required (like the reference, which symmetrizes internally)."""
    if k < 3:
        raise ValueError("k must be >= 3")
    n_part = graph.num_partitions
    und = (
        graph.edges.select(SRC, DST)
        .filter(F.col(SRC) != F.col(DST))
        .select(
            F.least(SRC, DST).alias(SRC), F.greatest(SRC, DST).alias(DST)
        )
        .distinct()
    )
    # (k−1)-core pre-peel: an edge of the k-truss needs k−2 common
    # neighbors, so both endpoints need degree ≥ k−1 — triangle counting's
    # capped degree peel drops such edges cheaply before the expensive
    # support rounds (partial peeling is correctness-neutral: the support
    # loop below is the fixpoint)
    und, deg = _peel(und, k - 1, n_part)
    if deg is not None:
        deg.unpersist()

    n_und = und.count()
    while True:
        sup = _edge_support(und)
        kept = sup.filter(F.col("support") >= k - 2).select(SRC, DST)
        kept = truncate_state(kept, n_part, SRC)
        n_kept = kept.count()
        und.unpersist()
        und = kept
        if n_kept == n_und:
            break
        n_und = n_kept

    out = und
    if unrenumber:
        out = graph.unrenumber(out, SRC)
        out = graph.unrenumber(out, DST)
    return out
