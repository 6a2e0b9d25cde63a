"""Traversal — BFS and SSSP as frontier-join loops.

Reference parity:
- BFS: ``python/cugraph/cugraph/traversal/bfs.py:119-255`` — returns
  ``DF[vertex, distance, predecessor]``; C++ is direction-optimizing
  (``bfs_impl.cuh:96-125``) which is a physical optimization we skip
  (SURVEY §4 "skip — optimization, not semantics").
- SSSP: ``python/cugraph/cugraph/traversal/sssp.py:128-263`` — returns
  ``DF[vertex, distance, predecessor]``; C++ uses near/far delta buckets
  (``sssp_impl.cuh:139-180``); we use a Bellman-Ford-style relax loop —
  same fixpoint, simpler plan, and each round is one shuffle join + one
  groupBy-min, which is what survives at cluster scale.

Scale notes: both loops run on ``graph.superstep_loop``.  The state holds
only the reached vertices, hash-partitioned on ``id`` like the edge table on
``src``, with a frontier flag (BFS: reached last round; SSSP: improved last
round).  A superstep joins the flagged rows against the persisted edge
table (the big side never moves), takes the min per ``dst`` and full-joins
it back into the state: one Spark job, whose ``observe`` counts the new or
improved vertices for the stop test.  Predecessor tie-break is
``min(predecessor)`` so results are deterministic at any parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import DST, SRC, VID, WGT, LinkGraph, superstep_loop, truncate_state


def _internal_source(graph: LinkGraph, source) -> int:
    """Map an external source vertex to its internal id."""
    if graph.renumber_map is None:
        return int(source)
    row = graph.renumber_map.filter(F.col("ext_id") == source).select(VID).collect()
    if not row:
        raise ValueError(f"bfs/sssp: source vertex {source!r} not in graph")
    return int(row[0][0])


def _traversal_result(graph: LinkGraph, state: DataFrame, unrenumber: bool) -> DataFrame:
    """DF[vertex, distance, predecessor] from a [id, distance, pred, ...]
    state; the predecessor is a vertex id too and maps back the same way
    (-1 stays -1)."""
    out = state.select(
        F.col(VID).alias("vertex"), "distance", F.col("pred").alias("predecessor")
    )
    if unrenumber and graph.renumber_map is not None:
        out = graph.unrenumber(graph.unrenumber(out, "vertex"), "predecessor").select(
            "vertex",
            "distance",
            F.coalesce(F.col("predecessor"), F.lit(-1)).alias("predecessor"),
        )
    return out


def bfs(
    graph: LinkGraph,
    start,
    depth_limit: int | None = None,
    unrenumber: bool = True,
) -> DataFrame:
    """Breadth-first search → DF[vertex, distance, predecessor].

    Unreached vertices are omitted (callers can left-join against
    ``graph.vertices()`` and fill with the reference's sentinel if needed).
    Predecessor of the start vertex is -1, matching the reference convention.
    """
    n_part = graph.num_partitions
    s = _internal_source(graph, start)
    edges = graph.edges.select(SRC, DST)

    def step(state: DataFrame, report):
        # expand the vertices reached last round; pred = min(src)
        frontier = state.filter("frontier").select(F.col(VID).alias(SRC))
        cand = (
            edges.join(frontier.hint("shuffle_hash"), SRC)
            .groupBy(F.col(DST).alias(VID))
            .agg(F.min(SRC).alias("_p"))
        )
        plan = (
            state.join(cand.hint("shuffle_hash"), VID, "full")
            .select(
                VID,
                F.coalesce("distance", F.lit(report.iterations + 1)).alias("distance"),
                F.coalesce("pred", "_p").alias("pred"),
                F.col("distance").isNull().alias("frontier"),
            )
        )
        return plan, [F.sum(F.col("frontier").cast("int")).alias("new")]

    # state: the reached vertices [id, distance, pred, frontier]
    state, _ = superstep_loop(
        graph.spark.createDataFrame(
            [(s, 0, -1, True)], f"{VID} LONG, distance INT, pred LONG, frontier BOOLEAN"
        ),
        step,
        lambda m: m["new"] == 0,
        lambda df: truncate_state(df, n_part, VID),
        depth_limit if depth_limit is not None else 2**31 - 1,
        n_part,
    )
    return _traversal_result(graph, state, unrenumber)


def sssp(
    graph: LinkGraph,
    source,
    max_iter: int = 500,
    unrenumber: bool = True,
) -> DataFrame:
    """Single-source shortest paths (non-negative weights) →
    DF[vertex, distance, predecessor]. Bellman-Ford frontier relaxation:
    only vertices whose distance improved last round re-relax their
    out-edges, so each round is frontier ⋈ edges → groupBy(dst).min."""
    n_part = graph.num_partitions
    s = _internal_source(graph, source)
    edges = graph.edges.select(SRC, DST, WGT)

    def step(state: DataFrame, _report):
        frontier = state.filter("active").select(
            F.col(VID).alias(SRC), F.col("distance").alias("_d")
        )
        # deterministic argmin: smallest distance, then smallest pred
        relax = (
            edges.join(frontier.hint("shuffle_hash"), SRC)
            .groupBy(F.col(DST).alias(VID))
            .agg(
                F.min(
                    F.struct(
                        (F.col("_d") + F.col(WGT)).alias("nd"), F.col(SRC).alias("np")
                    )
                ).alias("_b")
            )
        )
        better = F.coalesce(
            F.col("distance").isNull() | (F.col("_b.nd") < F.col("distance")),
            F.lit(False),
        )
        plan = (
            state.join(relax.hint("shuffle_hash"), VID, "full")
            .select(
                VID,
                F.when(better, F.col("_b.nd")).otherwise(F.col("distance")).alias("distance"),
                F.when(better, F.col("_b.np")).otherwise(F.col("pred")).alias("pred"),
                better.alias("active"),
            )
        )
        return plan, [F.sum(F.col("active").cast("int")).alias("improved")]

    # state: the reached vertices [id, distance, pred, active]
    state, _ = superstep_loop(
        graph.spark.createDataFrame(
            [(s, 0.0, -1, True)], f"{VID} LONG, distance DOUBLE, pred LONG, active BOOLEAN"
        ),
        step,
        lambda m: m["improved"] == 0,
        lambda df: truncate_state(df, n_part, VID),
        max_iter,
        n_part,
    )
    return _traversal_result(graph, state, unrenumber)


def bfs_edges(
    graph: LinkGraph,
    source,
    reverse: bool = False,
    depth_limit: int | None = None,
    sort_neighbors=None,
) -> DataFrame:
    """NetworkX-compat BFS wrapper → DF[vertex, distance, predecessor].

    Reference parity: ``traversal/bfs.py:256-330`` (``bfs_edges``) — a thin
    delegate to ``bfs``; ``reverse=True`` and ``sort_neighbors`` raise
    NotImplementedError exactly as the reference does.
    """
    if reverse is True:
        raise NotImplementedError(
            "reverse processing of graph is currently not supported"
        )
    if sort_neighbors is not None:
        raise NotImplementedError("sort_neighbors is currently not supported")
    return bfs(graph, source, depth_limit=depth_limit)


def concurrent_bfs(graphs, sources, depth_limit=None, offload=False):
    """Unimplemented in the reference (``traversal/ms_bfs.py:108-160`` raises
    before any work); mirrored here so callers porting code get the same
    signal rather than a silent AttributeError."""
    raise NotImplementedError(
        "concurrent_bfs is not implemented (the reference raises too); "
        "run bfs() per (graph, source) — each call is already distributed"
    )


def multi_source_bfs(graph, sources, components=None, depth_limit=None, offload=False):
    """Unimplemented in the reference (``traversal/ms_bfs.py:183-243`` raises
    before any work); mirrored for signature parity."""
    raise NotImplementedError(
        "multi_source_bfs is not implemented (the reference raises too); "
        "run bfs() per source — each call is already distributed"
    )


# --------------------------------------------------------------- path helpers
# Reference: ``traversal/sssp.py:264-291`` (filter_unreachable),
# ``sssp.py:313-389`` (shortest_path_length),
# ``utilities/utils.py:69-211`` (get_traversed_path / _list).


def filter_unreachable(df: DataFrame) -> DataFrame:
    """Drop unreachable rows from a BFS/SSSP result (``sssp.py:264-291``).

    Our traversals omit unreached vertices, but callers that left-join the
    result against the full vertex set acquire sentinel rows — this removes
    rows whose distance is null, infinite, or the integer max sentinel.
    """
    if "distance" not in df.columns:
        raise KeyError("No distance column found in input data frame")
    dt = dict(df.dtypes)["distance"]
    c = F.col("distance")
    if dt in ("int", "bigint", "smallint", "tinyint"):
        max_val = {"tinyint": 127, "smallint": 32767, "int": 2**31 - 1, "bigint": 2**63 - 1}[dt]
        return df.filter(c.isNotNull() & (c != F.lit(max_val)))
    return df.filter(c.isNotNull() & ~F.isnan(c) & (c != F.lit(float("inf"))))


def shortest_path_length(graph: LinkGraph, source, target=None):
    """Distance from ``source`` to ``target`` (scalar) or to every
    reachable vertex (DF[vertex, distance]) — ``sssp.py:313-389``."""
    res = sssp(graph, source)
    if target is None:
        return res.select("vertex", "distance")
    row = res.filter(F.col("vertex") == target).select("distance").collect()
    if not row:
        raise ValueError(f"Graph has no path from {source!r} to {target!r}")
    return float(row[0][0])


def _validate_traversal_result(df: DataFrame) -> None:
    for col in ("vertex", "distance", "predecessor"):
        if col not in df.columns:
            raise ValueError(
                "DataFrame does not appear to be a BFS or SSSP result - "
                f"'{col}' column missing"
            )


def get_traversed_path(df: DataFrame, vertex_id) -> DataFrame:
    """Rows of the BFS/SSSP result along the path root→``vertex_id``
    (``utilities/utils.py:69-140``).  Driver-side predecessor walk — path
    length is at most the graph diameter, so the loop is small; each step
    is a point filter on the (small) traversal result."""
    _validate_traversal_result(df)
    rows = {r["vertex"]: r for r in df.collect()}
    if vertex_id not in rows:
        raise ValueError(f"The vertex {vertex_id!r} is not in the result set")
    path = []
    cur = vertex_id
    while True:
        path.append(rows[cur])
        pred = rows[cur]["predecessor"]
        if pred == -1 or pred is None or pred not in rows:
            break
        cur = pred
    return df.sparkSession.createDataFrame(path, df.schema)


def get_traversed_path_list(df: DataFrame, vertex_id) -> list:
    """Ordered vertex ids from ``vertex_id`` back to the root
    (``utilities/utils.py:143-211``)."""
    _validate_traversal_result(df)
    rows = {r["vertex"]: r["predecessor"] for r in df.collect()}
    if vertex_id not in rows:
        raise ValueError(f"The vertex {vertex_id!r} is not in the result set")
    answer = [vertex_id]
    pred = rows[vertex_id]
    while pred != -1 and pred is not None and pred in rows:
        answer.append(pred)
        pred = rows[pred]
    return answer
