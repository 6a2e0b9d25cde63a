"""Link prediction — Jaccard / Overlap / Sorensen coefficients.

Reference parity: ``python/cugraph/cugraph/link_prediction/jaccard.py:23-209``
(also ``overlap.py``, ``sorensen.py``); C++ core
``cpp/src/link_prediction/similarity_impl.cuh`` intersects destination
neighbor lists per vertex pair. Output schema ``DF[first, second, <coeff>]``.
Default pair set = the two-hop pairs, as in the reference
(``jaccard.py`` uses ``get_two_hop_neighbors()`` when ``vertex_pair`` is
None).

Spark plan: neighbor sets over the undirected view; pair candidates get
|N(a)∩N(b)| by joining the edge table with itself on the shared endpoint
and counting wedges per (a, b) — a pure join+groupBy plan that never
materializes adjacency arrays (no collect_list skew risk at web scale);
degrees are a broadcast-sized [v, deg] table joined twice.  Two web-scale
guards: a user-supplied ``vertex_pair`` prunes both wedge legs with
semi-joins BEFORE the self-join (cost ∝ degree sum of queried vertices,
not corpus wedges), and hub wedge centers are salted across
``(w, bucket)`` join keys so no single task receives a hub's d² rows
(``WEDGE_HOT_DEGREE``).
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import DST, SRC, VID, LinkGraph, truncate_state

# --- skew guard for the all-pairs wedge join --------------------------------
# A wedge center w of degree d contributes d² rows through the single shuffle
# key w — a web-scale hub at d = 10⁶ would route 10¹² rows into ONE task.
# Centers with degree > WEDGE_HOT_DEGREE are salted: their e2 rows are
# bucketed by hash(second) into k = ceil(deg / WEDGE_HOT_DEGREE) buckets
# (capped at WEDGE_SALT_CAP) and their e1 rows replicated across the k
# buckets, so the join key becomes (w, bucket) and per-task join work is
# bounded by ~d·WEDGE_HOT_DEGREE rows.  Replication overhead is d·k ≈
# d²/WEDGE_HOT_DEGREE shuffled rows — a 1/WEDGE_HOT_DEGREE fraction of the
# join output itself, i.e. negligible.  The quadratic OUTPUT is inherent to
# all-pairs wedge semantics (the reference's default pair set IS the two-hop
# pairs, ``jaccard.py:23-209``); salting fixes the per-task skew, not the
# output size — callers with a hub-heavy graph should pass ``vertex_pair``,
# which now prunes the wedge legs BEFORE the join (see ``_pair_stats``).
def _hot_degree(default: int = 8192) -> int:
    """``SPARK_GRAFT_WEDGE_HOT_DEGREE`` if it is a positive integer, else
    ``default`` with a warning: a bad value must not break the import."""
    raw = os.environ.get("SPARK_GRAFT_WEDGE_HOT_DEGREE", str(default)).strip()
    if raw.isdecimal() and int(raw) > 0:
        return int(raw)
    msg = f"SPARK_GRAFT_WEDGE_HOT_DEGREE={raw!r} is not a positive integer; using {default}"
    warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return default


WEDGE_HOT_DEGREE = _hot_degree()
WEDGE_SALT_CAP = 1024


def _wedge_join(e1: DataFrame, e2: DataFrame, center_deg: DataFrame, agg) -> DataFrame:
    """``groupBy(first, second).agg(agg)`` over the wedge join ``e1 ⋈_w e2``
    with per-center salting for hot shuffle keys.

    ``e1`` carries [first, w, ...], ``e2`` [second, w, ...]; ``center_deg``
    is [v, deg] for the wedge centers (broadcast-filtered to the hot tail,
    which is tiny by definition: at most 2|E|/WEDGE_HOT_DEGREE rows)."""
    hot = center_deg.filter(F.col("deg") > WEDGE_HOT_DEGREE).select(
        F.col("v").alias("w"),
        F.least(
            F.ceil(F.col("deg") / F.lit(WEDGE_HOT_DEGREE)), F.lit(WEDGE_SALT_CAP)
        )
        .cast("int")
        .alias("_k"),
    )
    e1s = (
        e1.join(F.broadcast(hot), "w", "left")
        .withColumn("_k", F.coalesce("_k", F.lit(1)))
        .withColumn("_b", F.explode(F.sequence(F.lit(0), F.col("_k") - 1)))
        .drop("_k")
    )
    e2s = (
        e2.join(F.broadcast(hot), "w", "left")
        .withColumn("_b", F.pmod(F.hash("second"), F.coalesce("_k", F.lit(1))).cast("int"))
        .drop("_k")
    )
    return (
        e1s.join(e2s, ["w", "_b"])
        .filter(F.col("first") < F.col("second"))
        .groupBy("first", "second")
        .agg(agg)
    )


def _normalized_pairs(graph: LinkGraph, vertex_pair: DataFrame) -> DataFrame:
    """Renumbered, (first < second)-canonicalized, deduped pair frame,
    materialized (it feeds two semi-joins plus the final left join)."""
    pairs = _renumber_pairs(graph, vertex_pair)
    return truncate_state(
        pairs.select(
            F.least("first", "second").alias("first"),
            F.greatest("first", "second").alias("second"),
        ).distinct()
    )


def _safe_div(num, den):
    """num/den with 0/0 → 0.0 (zero-neighborhood pairs score 0, not null)."""
    return F.when(den > 0, num / den).otherwise(F.lit(0.0))


def _undirected_edges(graph: LinkGraph) -> DataFrame:
    """Symmetric, deduped, loop-free neighbor relation [src, dst]."""
    e = graph.edges.select(SRC, DST)
    if graph.properties.directed:
        e = e.union(e.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST)))
    return e.filter(F.col(SRC) != F.col(DST)).distinct()


def _renumber_pairs(graph: LinkGraph, vertex_pair: DataFrame) -> DataFrame:
    """Map a user-supplied [first, second] pair frame from EXTERNAL vertex
    ids to internal ids (reference API takes external ids, ``jaccard.py``
    renumbers via ``add_internal_vertex_id`` before the C++ call).  Pairs
    with endpoints absent from the graph are dropped, as in the reference."""
    if graph.renumber_map is None:
        return vertex_pair.select(
            F.col("first").cast("long"), F.col("second").cast("long")
        )
    m = graph.renumber_map  # [ext_id, id]
    small = graph._map_small()
    m1 = m.select(F.col("ext_id").alias("first"), F.col(VID).alias("_f"))
    m2 = m.select(F.col("ext_id").alias("second"), F.col(VID).alias("_s"))
    out = (
        vertex_pair.join(F.broadcast(m1) if small else m1, "first")
        .join(F.broadcast(m2) if small else m2, "second")
        .select(F.col("_f").alias("first"), F.col("_s").alias("second"))
    )
    return out


def _pair_stats(graph: LinkGraph, vertex_pair: DataFrame | None) -> DataFrame:
    """[first, second, isect, deg_first, deg_second] for each candidate pair.

    Wedge counting: an edge (a,w) and an edge (b,w) meeting at w contribute 1
    to |N(a)∩N(b)| — so ``E ⋈ E`` on the shared endpoint + groupBy(a,b).count
    computes all intersections in one shuffle.
    """
    # eager (truncate_state), not a lazy persist: this frame is scanned
    # three times downstream and the function unpersists before the
    # caller's action runs — a lazy persist would never materialize
    und = truncate_state(_undirected_edges(graph))
    deg = und.groupBy(F.col(SRC).alias("v")).agg(F.count("*").alias("deg"))

    e1 = und.select(F.col(SRC).alias("first"), F.col(DST).alias("w"))
    e2 = und.select(F.col(SRC).alias("second"), F.col(DST).alias("w"))
    pairs = None
    if vertex_pair is not None:
        # pair pushdown: restrict each wedge leg to the queried endpoints
        # BEFORE the join on w — the wedge cost becomes proportional to the
        # degree sum of the QUERIED vertices, not to Σ_w deg(w)² over the
        # whole corpus (the reference restricts in the kernel the same way:
        # similarity_impl.cuh iterates only the requested pairs)
        pairs = _normalized_pairs(graph, vertex_pair)
        e1 = e1.join(pairs.select("first").distinct(), "first", "left_semi")
        e2 = e2.join(pairs.select("second").distinct(), "second", "left_semi")
    wedges = _wedge_join(e1, e2, deg, F.count("*").alias("isect"))
    if pairs is not None:
        wedges = pairs.join(wedges, ["first", "second"], "left").fillna(0, ["isect"])

    # left joins + fillna(0): a pair whose endpoint has no neighbors must
    # survive with degree 0 (coefficient 0), not silently vanish
    out = (
        wedges.join(
            deg.withColumnRenamed("v", "first").withColumnRenamed("deg", "deg_first"),
            "first",
            "left",
        )
        .join(
            deg.withColumnRenamed("v", "second").withColumnRenamed("deg", "deg_second"),
            "second",
            "left",
        )
        .fillna(0, ["deg_first", "deg_second"])
    )
    und.unpersist()
    if pairs is not None:
        pairs.unpersist()
    return out


def _finish(graph: LinkGraph, df: DataFrame, unrenumber: bool) -> DataFrame:
    if unrenumber:
        df = graph.unrenumber(df, "first")
        df = graph.unrenumber(df, "second")
    return df


def _weighted_pair_stats(
    graph: LinkGraph, weights: DataFrame, vertex_pair: DataFrame | None
) -> DataFrame:
    """[first, second, isect_w, vol_first, vol_second] with per-VERTEX weights.

    Reference semantics (``link_prediction/wjaccard.py:20-79``, legacy C++
    jaccard kernel with weighted=true): the neighborhood is a weighted set —
    |N(a)∩N(b)| becomes Σ_{v∈∩} w(v) and |N(a)| becomes the "volume"
    Σ_{v∈N(a)} w(v).  ``weights`` is DF[vertex, weight] in external ids.
    """
    wcols = weights.columns
    wsel = weights.select(
        F.col(wcols[0]).alias("vertex"), F.col(wcols[1]).cast("double").alias("_w")
    )
    if graph.renumber_map is not None:
        m = graph.renumber_map.select(
            F.col("ext_id").alias("vertex"), F.col(VID).alias("_v")
        )
        small = graph._map_small()
        wsel = (
            wsel.join(F.broadcast(m) if small else m, "vertex")
            .select(F.col("_v").alias("v"), "_w")
        )
    else:
        wsel = wsel.select(F.col("vertex").cast("long").alias("v"), "_w")

    # eager (truncate_state), not a lazy persist: this frame is scanned
    # three times downstream and the function unpersists before the
    # caller's action runs — a lazy persist would never materialize
    und = truncate_state(_undirected_edges(graph))
    # neighbor weights: every (src, dst) edge carries w(dst); missing → 0
    nbrw = (
        und.join(wsel.withColumnRenamed("v", DST), DST, "left")
        .fillna(0.0, ["_w"])
    )
    vol = nbrw.groupBy(F.col(SRC).alias("v")).agg(F.sum("_w").alias("vol"))
    cdeg = und.groupBy(F.col(DST).alias("v")).agg(F.count("*").alias("deg"))

    e1 = nbrw.select(F.col(SRC).alias("first"), F.col(DST).alias("w"), "_w")
    e2 = nbrw.select(F.col(SRC).alias("second"), F.col(DST).alias("w"))
    pairs = None
    if vertex_pair is not None:
        # same pair pushdown as the unweighted path (see _pair_stats)
        pairs = _normalized_pairs(graph, vertex_pair)
        e1 = e1.join(pairs.select("first").distinct(), "first", "left_semi")
        e2 = e2.join(pairs.select("second").distinct(), "second", "left_semi")
    wedges = _wedge_join(e1, e2, cdeg, F.sum("_w").alias("isect_w"))
    if pairs is not None:
        wedges = pairs.join(wedges, ["first", "second"], "left").fillna(
            0.0, ["isect_w"]
        )
    out = (
        wedges.join(
            vol.withColumnRenamed("v", "first").withColumnRenamed("vol", "vol_first"),
            "first",
            "left",
        )
        .join(
            vol.withColumnRenamed("v", "second").withColumnRenamed("vol", "vol_second"),
            "second",
            "left",
        )
        .fillna(0.0, ["vol_first", "vol_second"])
    )
    und.unpersist()
    if pairs is not None:
        pairs.unpersist()
    return out


def jaccard_w(
    graph: LinkGraph,
    weights: DataFrame,
    vertex_pair: DataFrame | None = None,
    unrenumber: bool = True,
) -> DataFrame:
    """Weighted Jaccard (``wjaccard.py:20``): Σ_∩ w / Σ_∪ w."""
    st = _weighted_pair_stats(graph, weights, vertex_pair)
    out = st.select(
        "first",
        "second",
        _safe_div(
            F.col("isect_w"),
            F.col("vol_first") + F.col("vol_second") - F.col("isect_w"),
        ).alias("jaccard_coeff"),
    )
    return _finish(graph, out, unrenumber)


def overlap_w(
    graph: LinkGraph,
    weights: DataFrame,
    vertex_pair: DataFrame | None = None,
    unrenumber: bool = True,
) -> DataFrame:
    """Weighted Overlap (``woverlap.py``): Σ_∩ w / min(vol_a, vol_b)."""
    st = _weighted_pair_stats(graph, weights, vertex_pair)
    out = st.select(
        "first",
        "second",
        _safe_div(F.col("isect_w"), F.least("vol_first", "vol_second")).alias(
            "overlap_coeff"
        ),
    )
    return _finish(graph, out, unrenumber)


def sorensen_w(
    graph: LinkGraph,
    weights: DataFrame,
    vertex_pair: DataFrame | None = None,
    unrenumber: bool = True,
) -> DataFrame:
    """Weighted Sorensen (``wsorensen.py``): 2·Σ_∩ w / (vol_a + vol_b)."""
    st = _weighted_pair_stats(graph, weights, vertex_pair)
    out = st.select(
        "first",
        "second",
        _safe_div(
            F.lit(2.0) * F.col("isect_w"), F.col("vol_first") + F.col("vol_second")
        ).alias("sorensen_coeff"),
    )
    return _finish(graph, out, unrenumber)


def jaccard(
    graph: LinkGraph, vertex_pair: DataFrame | None = None, unrenumber: bool = True
) -> DataFrame:
    """DF[first, second, jaccard_coeff] — |∩| / |∪| of neighbor sets."""
    st = _pair_stats(graph, vertex_pair)
    out = st.select(
        "first",
        "second",
        _safe_div(
            F.col("isect"),
            F.col("deg_first") + F.col("deg_second") - F.col("isect"),
        ).alias("jaccard_coeff"),
    )
    return _finish(graph, out, unrenumber)


def overlap(
    graph: LinkGraph, vertex_pair: DataFrame | None = None, unrenumber: bool = True
) -> DataFrame:
    """DF[first, second, overlap_coeff] — |∩| / min(|N(a)|, |N(b)|)."""
    st = _pair_stats(graph, vertex_pair)
    out = st.select(
        "first",
        "second",
        _safe_div(F.col("isect"), F.least("deg_first", "deg_second")).alias(
            "overlap_coeff"
        ),
    )
    return _finish(graph, out, unrenumber)


def sorensen(
    graph: LinkGraph, vertex_pair: DataFrame | None = None, unrenumber: bool = True
) -> DataFrame:
    """DF[first, second, sorensen_coeff] — 2|∩| / (|N(a)| + |N(b)|)."""
    st = _pair_stats(graph, vertex_pair)
    out = st.select(
        "first",
        "second",
        _safe_div(
            F.lit(2.0) * F.col("isect"), F.col("deg_first") + F.col("deg_second")
        ).alias("sorensen_coeff"),
    )
    return _finish(graph, out, unrenumber)
