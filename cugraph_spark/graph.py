"""LinkGraph — the engine's graph object.

A from-scratch PySpark analog of the reference's Graph wrapper
(``python/cugraph/cugraph/structure/graph_classes.py:40-1023`` and the build
pipeline in ``structure/graph_implementation/simpleGraph.py:122-302``): it
holds a canonical internal edge DataFrame ``[src: long, dst: long,
weight: double]``, a renumber map ``[ext ids..., id: long]`` (reference:
``structure/number_map.py:24-139``), and graph properties.

Scale notes (100 TB design):
- the canonical edge DataFrame is hash-repartitioned by ``src`` once at build
  time and persisted; iterative algorithms join vertex state against it on
  ``src`` with a matching partitioner so the big table never re-shuffles
  (only the small vertex-state side moves).
- renumbering assigns dense ids by (degree desc, ext_id asc) — the
  reference's degree-descending renumber
  (``cpp/src/structure/renumber_edgelist_impl.cuh:529-533``) — so hot
  vertices occupy a known id prefix and skew mitigation is an id-range
  filter. Id assignment uses range-partitioned sort + per-partition offsets
  (never a single-partition global window, never
  ``monotonically_increasing_id``), so it is deterministic at any
  parallelism.
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

SRC = "src"
DST = "dst"
WGT = "weight"
VID = "id"
EXT = "ext_id"


def truncate_state(
    df: DataFrame, num_partitions: int | None = None, *key_cols: str
) -> DataFrame:
    """Materialize per-iteration vertex state in ONE job, with runtime-EXACT
    statistics: optional repartition on the caller's join keys →
    ``persist`` → ``localCheckpoint(eager=True)`` (cuts lineage) →
    ``unpersist`` of the columnar copy.  The state is held once, in the
    checkpoint's blocks, which the context cleaner frees once the frame is
    unreachable; callers' ``unpersist()`` of the previous state is harmless.

    Why this order keeps the statistics exact (round-3 postmortem):
    ``localCheckpoint`` copies the origin plan's sizeInBytes into the
    LogicalRDD it returns.  Over a plain plan that is an ESTIMATE, and an
    iterative plan that multiplies the previous state's estimate through
    its join-stat products compounds it per superstep — measured on the
    karate fixture: the narrow-edge PageRank shape DOUBLES the BigInteger
    digit count every iteration (11 → 24 → 50 → … digits; Catalyst wedges
    in BigInteger.multiply by ~iteration 60, and ``localCheckpoint`` throws
    "BigInteger would overflow supported range" soon after).  Persisting
    FIRST makes the origin plan an InMemoryRelation that the checkpoint's
    own job fills, so the LogicalRDD takes the relation's MATERIALIZED byte
    size — a small exact constant at any iteration count (3 digits after
    120 karate supersteps; ``tests/test_pagerank.py`` pins it).  The older
    order (checkpoint, then persist + count) reached the same exact size
    with a second job per call and two copies of every state.

    KNOWN-BAD alternative (round 2): rebuilding the frame over
    ``queryExecution().toRdd()`` via the internal ``createDataFrame`` to
    zero the statistics — that row RDD exposes REUSED mutable UnsafeRows,
    and downstream hash joins silently return wrong results (observed: a
    degree-orientation join keeping 14 of 55 edges).

    No V-row state can auto-broadcast regardless of stats because the hot
    joins hint ``shuffle_hash`` explicitly.  Callers that need co-partitioned
    joins pass ``num_partitions`` + ``key_cols``; under ``static_plan`` the
    checkpoint keeps that hash partitioning, and the planner drops the
    repartition when the plan already ends in it (a gather on the same key).
    """
    if num_partitions and key_cols:
        df = df.repartition(num_partitions, *key_cols)
    df.persist()
    out = df.localCheckpoint(eager=True)
    df.unpersist()
    return out


@contextmanager
def static_plan(spark: SparkSession):
    """Disable AQE for a statically-partitioned iterative section.

    The superstep plans (PageRank/WCC/LPA gathers) fix their partitioning
    explicitly — every exchange is a hash repartition the engine chose, and
    the hot joins carry ``shuffle_hash`` hints — so AQE has nothing left to
    optimize.  What it still *does* costs at every size: it runs each
    shuffle stage as its own job and re-plans between them (9 jobs per
    PageRank superstep instead of 2 at R-MAT scale 12 on local[4], 0.79 →
    0.615 CPU s/superstep); a frame ``truncate_state`` checkpoints under it
    reports unknown partitioning, so the next join re-shuffles it; and at
    high core counts post-shuffle partition coalescing folds the E-row
    gather below the slot count (64 MB target per task), idling cores on
    exactly the leg that has many of them (R-MAT scale 23 on local[32]:
    6.67 → 3.78 s/superstep with AQE off).  Loops therefore enter it before
    they checkpoint their first state.

    Restore-on-exit keeps the session's AQE default for everything outside
    the loop.
    """
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


@dataclass
class GraphProperties:
    """Reference: ``simpleGraph.py:84-94`` (directed/weighted/renumbered…)."""

    directed: bool = True
    weighted: bool = False
    renumbered: bool = True
    multi_edge: bool = False
    self_loops: bool = True
    # typed-class flags (reference graph_classes.py:824-1023: Tree /
    # NPartiteGraph / BiPartiteGraph set these in their constructors)
    tree: bool = False
    bipartite: bool = False
    multipartite: bool = False


def _nodes_frame(spark: SparkSession, nodes) -> DataFrame:
    """DF[vertex] from a python list, pandas Series, or one-column
    DataFrame (the reference accepts list | cudf.Series)."""
    if isinstance(nodes, DataFrame):
        c = nodes.columns[0]
        return nodes.select(F.col(c).alias("vertex")).distinct()
    vals = list(getattr(nodes, "tolist", lambda: nodes)())
    return spark.createDataFrame([(v,) for v in vals]).toDF("vertex").distinct()


def assign_dense_ids(
    df: DataFrame,
    order_cols: list,
    id_col: str = VID,
    num_partitions: int | None = None,
) -> DataFrame:
    """Assign contiguous 0..N-1 ids following a total order, scalably.

    Range-partition on the order columns, row_number within each partition,
    then add the exclusive prefix-sum of partition sizes (a tiny driver-side
    map, broadcast back). Deterministic for any partition count because the
    id equals the global rank under the total order; never uses
    ``monotonically_increasing_id`` (SURVEY §4).
    """
    spark = df.sparkSession
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    ranged = df.repartitionByRange(n, *order_cols).sortWithinPartitions(*order_cols)
    with_pid = ranged.withColumn("_pid", F.spark_partition_id())
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    numbered = with_pid.withColumn("_rn", F.row_number().over(w) - F.lit(1))
    # PIN the numbered frame before branching: repartitionByRange SAMPLES the
    # data to pick range bounds, and a re-evaluation may pick different
    # bounds — if the count collection below and the downstream join saw
    # different partitionings, the offsets would be applied to the wrong
    # partitions and distinct inputs would collide onto duplicate ids
    # (observed as a nondeterministic ~0.002% edge-merge at scale 21)
    numbered = numbered.localCheckpoint(eager=True)
    counts = {
        r["_pid"]: r["cnt"]
        for r in numbered.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    offsets_df = spark.createDataFrame(
        [(pid, off) for pid, off in offsets.items()], "_pid INT, _off LONG"
    )
    return (
        numbered.join(F.broadcast(offsets_df), "_pid")
        .withColumn(id_col, (F.col("_rn") + F.col("_off")).cast("long"))
        .drop("_pid", "_rn", "_off")
    )


def symmetrize_edges(edges: DataFrame, weighted: bool, multi: bool = False) -> DataFrame:
    """Union reverse edges; dedup with min(weight) unless ``multi``.

    Reference semantics: ``structure/symmetrize.py:80-90`` — reverse union
    then ``groupby(src,dst).min()`` over attributes, SKIPPED when the graph
    is a Multi(Di)Graph (``multi=True`` returns the raw union, parallel
    edges preserved).
    """
    rev = edges.select(
        F.col(DST).alias(SRC), F.col(SRC).alias(DST), *( [WGT] if weighted else [] )
    )
    both = edges.select(SRC, DST, *([WGT] if weighted else [])).union(rev)
    if multi:
        if not weighted:
            both = both.withColumn(WGT, F.lit(1.0))
        return both
    if weighted:
        return both.groupBy(SRC, DST).agg(F.min(WGT).alias(WGT))
    return both.distinct().withColumn(WGT, F.lit(1.0))


class LinkGraph:
    """Edge-DataFrame graph with reference-parity construction semantics."""

    def __init__(
        self,
        spark: SparkSession,
        edges: DataFrame,
        renumber_map: DataFrame | None,
        properties: GraphProperties,
        num_partitions: int,
    ):
        self.spark = spark
        self.edges = edges  # [src long, dst long, weight double], partitioned by src
        self.renumber_map = renumber_map  # [ext_id ..., id long] or None
        self.properties = properties
        self.num_partitions = num_partitions
        self._num_vertices: int | None = None
        self._num_edges: int | None = None
        self._degrees_cache: DataFrame | None = None
        self._all_nodes: DataFrame | None = None  # add_nodes_from registry

    # ------------------------------------------------------------------ build
    @classmethod
    def from_edges(
        cls,
        df: DataFrame,
        src: str = SRC,
        dst: str = DST,
        weight: str | None = None,
        directed: bool = True,
        renumber: bool = True,
        drop_self_loops: bool = False,
        dedup: bool = True,
        multigraph: bool = False,
        num_partitions: int | None = None,
    ) -> "LinkGraph":
        """Build pipeline mirroring ``simpleGraph.py:122-302``:
        validate → renumber → symmetrize (undirected) → dedup → persist
        canonical internal edges co-partitioned by src.

        ``src``/``dst`` may be LISTS of column names — multi-column external
        vertex keys of any type (reference ``number_map.py:111-139``,
        ``graph_classes.py:107-205`` "multiple columns, any data type").
        Composite keys are packed into a struct with positional field names
        so src/dst structs union and join; the renumber map's ``ext_id``
        column is then that struct, and ``unrenumber`` yields it back
        (use ``expand_ext_id`` to split it into columns).
        """
        spark = df.sparkSession
        n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
        weighted = weight is not None

        multi = isinstance(src, (list, tuple)) or isinstance(dst, (list, tuple))
        if multi:
            s_cols = list(src) if isinstance(src, (list, tuple)) else [src]
            d_cols = list(dst) if isinstance(dst, (list, tuple)) else [dst]
            if len(s_cols) != len(d_cols):
                raise ValueError(
                    "multi-column src/dst key lists must have equal length"
                )
            if not renumber:
                raise ValueError("multi-column vertex keys require renumber=True")
            cols = [
                F.struct(
                    *[F.col(c).alias(f"k{i}") for i, c in enumerate(s_cols)]
                ).alias("_esrc"),
                F.struct(
                    *[F.col(c).alias(f"k{i}") for i, c in enumerate(d_cols)]
                ).alias("_edst"),
            ]
        else:
            cols = [F.col(src).alias("_esrc"), F.col(dst).alias("_edst")]
        if weighted:
            cols.append(F.col(weight).cast("double").alias(WGT))
        raw = df.select(*cols)
        if drop_self_loops:
            raw = raw.filter(F.col("_esrc") != F.col("_edst"))

        renumber_map = None
        if renumber:
            # distinct union of endpoints (number_map.py:111-139), ids by
            # (degree desc, ext asc) (renumber_edgelist_impl.cuh:529-533)
            srcs = raw.select(F.col("_esrc").alias(EXT))
            dsts = raw.select(F.col("_edst").alias(EXT))
            deg = (
                srcs.union(dsts)
                .groupBy(EXT)
                .agg(F.count("*").alias("_deg"))
            )
            renumber_map = assign_dense_ids(
                deg, [F.col("_deg").desc(), F.col(EXT).asc()], VID, n
            ).select(EXT, VID).persist()
            renumber_map.count()  # materialize for determinism + reuse

            m_src = renumber_map.select(
                F.col(EXT).alias("_esrc"), F.col(VID).alias(SRC)
            )
            m_dst = renumber_map.select(
                F.col(EXT).alias("_edst"), F.col(VID).alias(DST)
            )
            edges = (
                raw.join(m_src, "_esrc").join(m_dst, "_edst").drop("_esrc", "_edst")
            )
        else:
            edges = raw.select(
                F.col("_esrc").cast("long").alias(SRC),
                F.col("_edst").cast("long").alias(DST),
                *([WGT] if weighted else []),
            )

        if not weighted:
            # implicit weight 1.0 for unweighted graphs (pagerank.py:45-52)
            edges = edges.withColumn(WGT, F.lit(1.0))

        if not directed:
            # multigraph keeps parallel edges through the reverse union
            # (symmetrize.py:84-86, multi=True path)
            edges = symmetrize_edges(edges, weighted=True, multi=multigraph)
        elif dedup and not multigraph:
            # directed path still drops duplicate edges (symmetrize.py:60-88)
            edges = edges.groupBy(SRC, DST).agg(F.min(WGT).alias(WGT))

        edges = edges.repartition(n, SRC).persist()
        edges.count()

        props = GraphProperties(
            directed=directed,
            weighted=weighted,
            renumbered=renumber,
            multi_edge=multigraph,
            self_loops=not drop_self_loops,
        )
        return cls(spark, edges, renumber_map, props, n)

    # ---------------------------------------------------------------- basics
    def vertices(self) -> DataFrame:
        """All internal vertex ids, one row each."""
        if self.renumber_map is not None:
            return self.renumber_map.select(VID)
        return (
            self.edges.select(F.col(SRC).alias(VID))
            .union(self.edges.select(F.col(DST).alias(VID)))
            .distinct()
        )

    def number_of_vertices(self) -> int:
        if self._num_vertices is None:
            self._num_vertices = self.vertices().count()
        return self._num_vertices

    def number_of_edges(self) -> int:
        if self._num_edges is None:
            self._num_edges = self.edges.count()
        return self._num_edges

    # --------------------------------------------------------------- degrees
    def degrees(self) -> DataFrame:
        """[id, in_degree, out_degree] incl. isolated vertices as 0
        (reference ``simpleGraph.py:1052-1080``)."""
        if self._degrees_cache is None:
            outd = self.edges.groupBy(F.col(SRC).alias(VID)).agg(
                F.count("*").alias("out_degree")
            )
            ind = self.edges.groupBy(F.col(DST).alias(VID)).agg(
                F.count("*").alias("in_degree")
            )
            self._degrees_cache = (
                self.vertices()
                .join(outd, VID, "left")
                .join(ind, VID, "left")
                .fillna(0, ["in_degree", "out_degree"])
                .persist()
            )
        return self._degrees_cache

    def _degree_frame(self, vertex_subset, col: str) -> DataFrame:
        """Reference ``simpleGraph.py:852-1050`` (``_degree``): DF[vertex,
        degree] over EXTERNAL ids, optionally filtered to vertex_subset."""
        d = self.degrees()
        if col == "both":
            out = d.select(
                VID, (F.col("in_degree") + F.col("out_degree")).alias("degree")
            )
        else:
            out = d.select(VID, F.col(col).alias("degree"))
        out = self.unrenumber(out.withColumnRenamed(VID, "vertex"), "vertex")
        if vertex_subset is not None:
            if isinstance(vertex_subset, DataFrame):
                keep = vertex_subset.select(
                    F.col(vertex_subset.columns[0]).alias("vertex")
                )
            else:
                keep = self.spark.createDataFrame(
                    [(v,) for v in vertex_subset], ["vertex"]
                )
            out = out.join(F.broadcast(keep.distinct()), "vertex")
        return out

    def degree(self, vertex_subset=None) -> DataFrame:
        """Total degree (in + out) per vertex — reference
        ``simpleGraph.py:935-975``."""
        return self._degree_frame(vertex_subset, "both")

    def in_degree(self, vertex_subset=None) -> DataFrame:
        """Reference ``simpleGraph.py:852-892``."""
        return self._degree_frame(vertex_subset, "in_degree")

    def out_degree(self, vertex_subset=None) -> DataFrame:
        """Reference ``simpleGraph.py:894-933``."""
        return self._degree_frame(vertex_subset, "out_degree")

    def out_weight_sums(self) -> DataFrame:
        """[id, out_wsum] — Σ outgoing edge weight per vertex, 0 for dangling
        (reference ``pagerank_impl.cuh:188-205``: out-degree if unweighted)."""
        ws = self.edges.groupBy(F.col(SRC).alias(VID)).agg(
            F.sum(WGT).alias("out_wsum")
        )
        return (
            self.vertices().join(ws, VID, "left").fillna(0.0, ["out_wsum"])
        )

    # ------------------------------------------------------- point lookups
    # (reference ``simpleGraph.py:1226-1313``)
    def is_multigraph(self) -> bool:
        """Reference ``graph_classes.py:643-649, 804-810`` — True when
        parallel edges are preserved (built via ``multigraph=True``)."""
        return self.properties.multi_edge

    def is_directed(self) -> bool:
        return self.properties.directed

    def is_bipartite(self) -> bool:
        """Reference ``graph_classes.py:621-628`` — reports the flag set by
        the typed-class constructor / ``add_nodes_from``; does not parse
        the graph."""
        return self.properties.bipartite

    def is_multipartite(self) -> bool:
        """Reference ``graph_classes.py:630-637`` — flag-based, like
        ``is_bipartite``."""
        return self.properties.multipartite or self.properties.bipartite

    def add_nodes_from(self, nodes) -> None:
        """Register the full node set, including isolated vertices absent
        from the edge list (reference ``graph_classes.py:748-757``); they
        are reported by ``nodes()`` but take no part in renumbered
        algorithm state."""
        self._all_nodes = _nodes_frame(self.spark, nodes)

    def nodes(self) -> DataFrame:
        """DF[vertex] — external ids: edge endpoints ∪ ``add_nodes_from``
        registrations (reference ``simpleGraph.py`` ``nodes()``)."""
        base = self.vertices()
        base = (
            self.unrenumber(base.withColumnRenamed(VID, "vertex"), "vertex")
            if self.renumber_map is not None
            else base.withColumnRenamed(VID, "vertex")
        )
        if self._all_nodes is not None:
            base = base.unionByName(self._all_nodes).distinct()
        return base

    def density(self) -> float:
        """|E| / (V·(V−1)) for directed, 2·|E| / (V·(V−1)) undirected.
        Raises on multigraphs (reference ``graph_classes.py:811-823``:
        parallel edges make the max-possible-edges denominator undefined)."""
        if self.is_multigraph():
            raise TypeError("The density function is not support on a Multigraph.")
        v = self.number_of_vertices()
        if v < 2:
            return 0.0
        e = self.number_of_edges()
        # undirected graphs store both (u,v) and (v,u) internally, so |E|
        # here is already 2x the logical edge count — same formula either way
        return e / (v * (v - 1))

    def number_of_nodes(self) -> int:
        """Alias of ``number_of_vertices`` (reference
        ``simpleGraph.py:819-825``)."""
        return self.number_of_vertices()

    def is_renumbered(self) -> bool:
        """Reference ``graph_classes.py:659-663``."""
        return self.properties.renumbered

    def is_weighted(self) -> bool:
        """Reference ``graph_classes.py:665-669``."""
        return self.properties.weighted

    def is_remote(self) -> bool:
        """Reference ``graph_classes.py:677-681`` — always False (no
        remote-graph service in either engine's in-process mode)."""
        return False

    def is_multi_gpu(self) -> bool:
        """Reference ``graph_classes.py:683-688`` distinguishes the dask
        (distributed) implementation; a Spark DataFrame graph is ALWAYS
        cluster-distributed, so this is True — there is no single-device
        code path to fall back to."""
        return True

    def has_self_loop(self) -> bool:
        """Reference ``simpleGraph.py:1252-1262``."""
        return (
            self.edges.filter(F.col(SRC) == F.col(DST)).limit(1).count() > 0
        )

    def has_isolated_vertices(self) -> bool:
        """True when ``add_nodes_from`` registered vertices that never
        appear as an edge endpoint (reference ``graph_classes.py:671-675``;
        an edge-list-built graph cannot otherwise contain one)."""
        if self._all_nodes is None:
            return False
        return self.nodes().count() > self.number_of_vertices()

    def vertex_column_size(self) -> int:
        """Number of columns in the external vertex key (reference
        ``simpleGraph.py:1314-1318``): >1 only for multi-column-key
        renumbered graphs, where ``ext_id`` is a struct."""
        if self.renumber_map is None:
            return 1
        t = self.renumber_map.schema[EXT].dataType
        return len(t.names) if hasattr(t, "names") else 1

    # ------------------------------------------------- id-space translation
    def lookup_internal_vertex_id(self, df, column_name=None) -> DataFrame:
        """External vertex ids → DF[id] of internal ids (reference
        ``graph_classes.py:544-566``; order not guaranteed, as there).
        ``df`` is a Spark DataFrame (``column_name`` picks the column) or a
        driver-side iterable/Series of external ids."""
        if self.renumber_map is None:
            c = column_name or (df.columns[0] if isinstance(df, DataFrame) else None)
            src = (
                df.select(F.col(c).cast("long").alias(VID))
                if isinstance(df, DataFrame)
                else self.spark.createDataFrame([(int(v),) for v in df], [VID])
            )
            return src
        if isinstance(df, DataFrame):
            keys = df.select(F.col(column_name or df.columns[0]).alias(EXT))
        else:
            keys = self.spark.createDataFrame([(v,) for v in df], [EXT])
        m = self.renumber_map
        return keys.join(F.broadcast(m) if self._map_small() else m, EXT).select(VID)

    def add_internal_vertex_id(
        self,
        df: DataFrame,
        internal_column_name: str,
        external_column_name,
        drop: bool = True,
        preserve_order: bool = False,
    ) -> DataFrame:
        """Join the internal vertex id onto a frame keyed by external ids
        (reference ``graph_classes.py:568-614``). ``external_column_name``
        may be a list for multi-column keys (packed into the same struct
        shape the renumber map stores)."""
        ext_cols = (
            list(external_column_name)
            if isinstance(external_column_name, (list, tuple))
            else [external_column_name]
        )
        if preserve_order:
            df = df.withColumn("_ord", F.monotonically_increasing_id())
        if self.renumber_map is None:
            out = df.withColumn(
                internal_column_name, F.col(ext_cols[0]).cast("long")
            )
        else:
            if len(ext_cols) == 1:
                key = F.col(ext_cols[0]).alias("_k")
            else:
                key = F.struct(
                    *[F.col(c).alias(f"k{i}") for i, c in enumerate(ext_cols)]
                ).alias("_k")
            m = self.renumber_map.select(
                F.col(EXT).alias("_k"), F.col(VID).alias(internal_column_name)
            )
            out = df.withColumn("_k", key).join(
                F.broadcast(m) if self._map_small() else m, "_k", "left"
            ).drop("_k")
        if drop:
            out = out.drop(*ext_cols)
        if preserve_order:
            out = out.orderBy("_ord").drop("_ord")
        return out

    # ------------------------------------------------------ lifecycle / misc
    def clear(self) -> None:
        """Drop the edge list and every derived cache (reference
        ``graph_classes.py:615-620``); the graph is unusable afterwards."""
        self.unpersist()
        self.edges = None
        self.renumber_map = None
        self._degrees_cache = None
        self._num_vertices = None
        self._num_edges = None
        self._all_nodes = None

    def delete_edge_list(self) -> None:
        """Free the persisted edge cache (reference ``simpleGraph.py``
        ``delete_edge_list``). Unlike ``clear`` the graph stays usable —
        Spark recomputes the frame from lineage on next use."""
        self.edges.unpersist()

    def delete_adj_list(self) -> None:
        """Reference parity no-op: adjacency views are never cached here
        (``view_adj_list`` builds them on demand), so there is nothing to
        free."""

    def enable_batch(self) -> None:
        """Reference ``simpleGraph.py:650-677`` replicates the edge list to
        every dask worker for batched centrality. Spark DataFrames are
        already cluster-resident and every operator is batch-capable, so
        this is a no-op kept for call-site compatibility."""

    def get_two_hop_neighbors(self, start_vertices=None) -> DataFrame:
        """Reference ``simpleGraph.py:722-766`` — delegates to the structure
        operator; ``start_vertices`` restricts the FIRST endpoint (external
        ids), as in the reference's pylibcugraph call."""
        from .operators.structure import two_hop_neighbors

        out = two_hop_neighbors(self)
        if start_vertices is not None:
            if isinstance(start_vertices, DataFrame):
                keep = start_vertices.select(
                    F.col(start_vertices.columns[0]).alias("first")
                )
            else:
                keep = self.spark.createDataFrame(
                    [(v,) for v in start_vertices], ["first"]
                )
            out = out.join(F.broadcast(keep.distinct()), "first")
        return out

    def select_random_vertices(
        self, random_state=None, num_vertices=None
    ) -> DataFrame:
        """Reference ``simpleGraph.py:767-803`` — delegates to the
        structure operator (``random_state`` → sampling seed)."""
        from .operators.structure import select_random_vertices

        if num_vertices is None:
            num_vertices = self.number_of_vertices()
        return select_random_vertices(
            self,
            num_vertices=num_vertices,
            **({"seed": int(random_state)} if random_state is not None else {}),
        )

    def has_node(self, n) -> bool:
        if self.renumber_map is not None:
            return self.renumber_map.filter(F.col(EXT) == n).limit(1).count() > 0
        return (
            self.edges.filter((F.col(SRC) == n) | (F.col(DST) == n)).limit(1).count()
            > 0
        )

    def has_edge(self, u, v) -> bool:
        e = self.view_edge_list()
        return e.filter((F.col(SRC) == u) & (F.col(DST) == v)).limit(1).count() > 0

    def neighbors(self, n) -> DataFrame:
        """DF[vertex] — out-neighbors of external vertex n."""
        e = self.view_edge_list()
        return e.filter(F.col(SRC) == n).select(F.col(DST).alias("vertex"))

    def view_edge_list(self) -> DataFrame:
        """Edges with external ids (reference ``simpleGraph.py:384-521``)."""
        e = self.edges
        if self.renumber_map is not None:
            e = self.unrenumber(e, SRC)
            e = self.unrenumber(e, DST)
        return e

    def view_adj_list(self) -> DataFrame:
        """Adjacency view [id, nbrs: array<long>] — sorted out-neighbors per
        vertex, internal ids (reference ``simpleGraph.py:549-642`` returns
        CSR offsets/indices; the per-vertex sorted-array DataFrame is the
        distributed equivalent — a global offsets array cannot exist at
        scale, and per-partition CSR is built transiently inside Arrow
        kernels when needed, SURVEY §1.1)."""
        return self.edges.groupBy(F.col(SRC).alias(VID)).agg(
            F.sort_array(F.collect_list(DST)).alias("nbrs")
        )

    def view_transposed_adj_list(self) -> DataFrame:
        """[id, nbrs] — sorted IN-neighbors per vertex
        (reference ``view_transposed_adj_list``)."""
        return self.edges.groupBy(F.col(DST).alias(VID)).agg(
            F.sort_array(F.collect_list(SRC)).alias("nbrs")
        )

    # ------------------------------------------------------- conversions
    def to_undirected(self) -> "LinkGraph":
        """Re-build with symmetrization (``graph_classes.py:690-747``);
        multigraphs stay multigraphs (MultiDiGraph.to_undirected →
        MultiGraph)."""
        e = self.view_edge_list()
        return LinkGraph.from_edges(
            e,
            weight=WGT if self.properties.weighted else None,
            directed=False,
            multigraph=self.properties.multi_edge,
        )

    def to_directed(self) -> "LinkGraph":
        e = self.view_edge_list()
        return LinkGraph.from_edges(
            e,
            weight=WGT if self.properties.weighted else None,
            directed=True,
            multigraph=self.properties.multi_edge,
        )

    def to_pandas_edgelist(self):
        """Driver-side pandas frame of the (external-id) edge list —
        reference ``convert_matrix.to_pandas_edgelist``. Small graphs only."""
        return self.view_edge_list().toPandas()

    @classmethod
    def from_numpy_array(
        cls, spark: SparkSession, arr, directed: bool = True, renumber: bool = True
    ) -> "LinkGraph":
        """Dense adjacency matrix → graph (reference
        ``structure/convert_matrix.py:from_numpy_array``): every nonzero
        ``A[i, j]`` becomes edge (i, j, A[i, j]). Small-matrix convenience —
        the matrix is driver-side by definition."""
        import numpy as np

        a = np.asarray(arr)
        if a.ndim != 2 or a.shape[0] != a.shape[1]:
            raise ValueError("adjacency matrix must be square")
        src, dst = np.nonzero(a)
        rows = [
            (int(s), int(d), float(a[s, d])) for s, d in zip(src, dst)
        ]
        df = spark.createDataFrame(rows, "src LONG, dst LONG, weight DOUBLE")
        return cls.from_edges(
            df, weight="weight", directed=directed, renumber=renumber
        )

    def to_numpy_array(self):
        """Graph → dense adjacency over internal ids (reference
        ``convert_matrix.to_numpy_array``). Small graphs only (collects)."""
        import numpy as np

        n = self.number_of_vertices()
        a = np.zeros((n, n))
        for r in self.edges.collect():
            a[r[SRC], r[DST]] = r[WGT]
        return a

    def to_numpy_matrix(self):
        """Alias of ``to_numpy_array`` (reference keeps both spellings)."""
        return self.to_numpy_array()

    def to_pandas_adjacency(self):
        """Dense adjacency as a pandas DataFrame labeled with external ids
        (reference ``simpleGraph.py`` ``to_pandas_adjacency``). Small
        graphs only (collects)."""
        import pandas as pd

        a = self.to_numpy_array()
        if self.renumber_map is not None:
            m = {r[VID]: r[EXT] for r in self.renumber_map.collect()}
            labels = [m[i] for i in range(a.shape[0])]
        else:
            labels = list(range(a.shape[0]))
        return pd.DataFrame(a, index=labels, columns=labels)

    @classmethod
    def from_numpy_matrix(
        cls, spark: SparkSession, arr, directed: bool = True, renumber: bool = True
    ) -> "LinkGraph":
        """Alias of ``from_numpy_array``."""
        return cls.from_numpy_array(
            spark, arr, directed=directed, renumber=renumber
        )

    @classmethod
    def from_scipy_sparse(
        cls, spark: SparkSession, mat, directed: bool = True, renumber: bool = True
    ) -> "LinkGraph":
        """SciPy sparse matrix → graph (``convert_matrix.py`` COO path).
        Gated: scipy is optional in this environment."""
        try:
            coo = mat.tocoo()
        except AttributeError as exc:  # pragma: no cover
            raise TypeError("expected a scipy sparse matrix") from exc
        rows = [
            (int(s), int(d), float(w))
            for s, d, w in zip(coo.row, coo.col, coo.data)
        ]
        df = spark.createDataFrame(rows, "src LONG, dst LONG, weight DOUBLE")
        return cls.from_edges(
            df, weight="weight", directed=directed, renumber=renumber
        )

    @classmethod
    def from_pandas_edgelist(
        cls, spark: SparkSession, pdf, src: str = SRC, dst: str = DST,
        weight: str | None = None, directed: bool = True, renumber: bool = True,
    ) -> "LinkGraph":
        """Reference ``graph_classes.py:361-443``."""
        return cls.from_edges(
            spark.createDataFrame(pdf), src=src, dst=dst, weight=weight,
            directed=directed, renumber=renumber,
        )

    @classmethod
    def from_pandas_adjacency(
        cls, spark: SparkSession, pdf, directed: bool = True
    ) -> "LinkGraph":
        """Pandas adjacency-matrix DataFrame → graph (reference
        ``graph_classes.py:444-459``): index/columns are the vertex ids."""
        import numpy as np

        a = pdf.to_numpy()
        labels = list(pdf.index)
        src, dst = np.nonzero(a)
        rows = [
            (labels[s], labels[d], float(a[s, d])) for s, d in zip(src, dst)
        ]
        df = spark.createDataFrame(rows, ["src", "dst", "weight"])
        return cls.from_edges(df, weight="weight", directed=directed, renumber=True)

    # ------------------------------------------------------------ un/renumber
    def unrenumber(self, df: DataFrame, col: str = "vertex") -> DataFrame:
        """Map an internal-id column back to external ids
        (reference ``number_map.py:603-723``)."""
        if self.renumber_map is None:
            return df
        m = self.renumber_map.select(
            F.col(VID).alias(col), F.col(EXT).alias("_ext")
        )
        out = df.join(F.broadcast(m) if self._map_small() else m, col, "left")
        return out.drop(col).withColumnRenamed("_ext", col)

    def expand_ext_id(
        self, df: DataFrame, col: str, names: list | None = None
    ) -> DataFrame:
        """Split a struct-valued external-id column (produced by
        multi-column-key unrenumbering) into one column per key part."""
        field_names = df.schema[col].dataType.names
        out_names = names or [f"{col}_{i}" for i in range(len(field_names))]
        exprs = [c for c in df.columns if c != col] + [
            F.col(f"{col}.{f}").alias(o) for f, o in zip(field_names, out_names)
        ]
        return df.select(*exprs)

    def _map_small(self) -> bool:
        return self.number_of_vertices() < 5_000_000

    def unpersist(self) -> None:
        self.edges.unpersist()
        if self.renumber_map is not None:
            self.renumber_map.unpersist()
        if self._degrees_cache is not None:
            self._degrees_cache.unpersist()
