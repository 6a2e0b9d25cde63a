"""Reference-parity top-level API facade.

Every name exported by the reference's ``cugraph/__init__.py``
(``python/cugraph/cugraph/__init__.py:14-121``) resolves here with the same
spelling — including the camelCase spectral names and the NetworkX-compat
``*_coefficient`` wrappers — so code written against the reference runs by
swapping the import. All heavy lifting stays in the operator modules; this
file is routing, name aliasing, and small input-shape adapters only.

Distributed frames: where the reference takes a cudf/dask_cudf DataFrame,
these functions take a PySpark DataFrame (the distributed-frame analog);
where it takes pandas, they take pandas. ``tests/test_api_parity.py``
asserts the export list against the reference file verbatim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .graph import DST, SRC, WGT, GraphProperties, LinkGraph
from .graph_classes import BiPartiteGraph, NPartiteGraph, Tree
from .property_graph import PropertyGraph, hypergraph
from .session import get_spark

# ---- direct re-exports (reference name == our name) ------------------------
from .operators.pagerank import pagerank as _pagerank_result
from .operators.centrality import (
    degree_centrality,
    eigenvector_centrality,
    hits,
    katz_centrality,
)
from .operators.betweenness import (
    betweenness_centrality,
    edge_betweenness_centrality,
)
from .operators.cores import core_number, k_core
from .operators.wcc import weakly_connected_components
from .operators.scc import strongly_connected_components
from .operators.lpa import label_propagation
from .operators.louvain import louvain
from .operators.leiden import leiden
from .operators.ecg import ecg
from .operators.ktruss import k_truss
from .operators.triangles import triangle_count, total_triangles
from .operators.traversal import (
    bfs,
    bfs_edges,
    concurrent_bfs,
    filter_unreachable,
    get_traversed_path,
    get_traversed_path_list,
    multi_source_bfs,
    shortest_path_length,
    sssp,
)
from .operators.similarity import (
    jaccard,
    jaccard_w,
    overlap,
    overlap_w,
    sorensen,
    sorensen_w,
)
from .operators.structure import (
    batched_ego_graphs,
    ego_graph,
    induced_subgraph,
    select_random_vertices,
    two_hop_neighbors,
    uniform_neighbor_sample,
)
from .operators.sampling import (
    biased_random_walks,
    node2vec,
    random_walks,
    rw_path,
)
from .operators.mst import maximum_spanning_tree, minimum_spanning_tree
from .operators.lap import dense_hungarian, hungarian
from .operators.layout import force_atlas2
from .operators.bicliques import find_bicliques
from .operators.spectral import (
    analyze_clustering_edge_cut,
    analyze_clustering_modularity,
    analyze_clustering_ratio_cut,
    spectral_balanced_cut_clustering,
    spectral_modularity_maximization_clustering,
)

# ---- reference spellings that differ from ours -----------------------------
# community (__init__.py:14-30)
ktruss_subgraph = k_truss
subgraph = induced_subgraph
spectralBalancedCutClustering = spectral_balanced_cut_clustering
spectralModularityMaximizationClustering = (
    spectral_modularity_maximization_clustering
)
analyzeClustering_modularity = analyze_clustering_modularity
analyzeClustering_edge_cut = analyze_clustering_edge_cut
analyzeClustering_ratio_cut = analyze_clustering_ratio_cut
# traversal (__init__.py:88-97): shortest_path is sssp's nx-compat alias
shortest_path = sssp
# experimental (__init__.py:103): SCC under its experimental name
strong_connected_component = strongly_connected_components
# link prediction nx-compat wrappers are defined below.


# ---------------------------------------------------------------- Graph shim
class EdgelistRequiredError(RuntimeError, AttributeError):
    """Attribute access on a Graph with no edge list yet.

    Doubly inherits AttributeError so ``getattr(g, name, default)`` probing
    (e.g. ``_create_flags`` inspecting a bare ``Graph(directed=True)``
    create_using template) falls back to the default instead of blowing up,
    while callers catching RuntimeError still see the failure."""


class Graph:
    """Constructor-compatible shim over :class:`LinkGraph`.

    The reference builds graphs in two steps — ``G = cugraph.Graph(
    directed=...)`` then ``G.from_cudf_edgelist(df, ...)`` — while
    ``LinkGraph.from_edges`` is single-shot. This shell holds the
    ``directed``/multigraph flags until an edge list arrives, then builds
    the real LinkGraph and transparently delegates every attribute to it,
    so ``cugraph_spark.pagerank(G)`` and ``G.number_of_vertices()`` work
    on either form.
    """

    _multi = False

    def __init__(self, directed: bool = False):
        self.directed = directed
        self._g: LinkGraph | None = None

    # reference: graph_implementation/simpleGraph.py __from_edgelist
    def from_cudf_edgelist(
        self,
        input_df: DataFrame,
        source: str = "source",
        destination: str = "destination",
        edge_attr: str | None = None,
        renumber: bool = True,
    ) -> "Graph":
        self._g = LinkGraph.from_edges(
            input_df,
            src=source,
            dst=destination,
            weight=edge_attr,
            directed=self.directed,
            renumber=renumber,
            multigraph=self._multi,
        )
        return self

    # dask_cudf analog: a Spark DataFrame IS the distributed frame
    from_dask_cudf_edgelist = from_cudf_edgelist

    def from_pandas_edgelist(
        self,
        pdf,
        source: str = "source",
        destination: str = "destination",
        edge_attr: str | None = None,
        renumber: bool = True,
    ) -> "Graph":
        return self.from_cudf_edgelist(
            get_spark().createDataFrame(pdf),
            source=source,
            destination=destination,
            edge_attr=edge_attr,
            renumber=renumber,
        )

    def from_cudf_adjlist(
        self,
        offset_col,
        index_col,
        value_col=None,
        renumber: bool = True,
        store_transposed: bool = False,
    ) -> "Graph":
        """CSR arrays → graph (reference ``graph_classes.py:206-360``).
        Driver-side sequences, like the reference's cudf.Series — see
        ``from_adjlist`` for the scale note."""
        self._g = from_adjlist(
            offset_col,
            index_col,
            values=value_col,
            create_using=Graph(directed=self.directed),
        )
        return self

    def from_pandas_adjacency(self, pdf) -> "Graph":
        self._g = LinkGraph.from_pandas_adjacency(
            get_spark(), pdf, directed=self.directed
        )
        return self

    def from_numpy_array(self, np_array, nodes=None) -> "Graph":
        self._g = LinkGraph.from_numpy_array(
            get_spark(), np_array, directed=self.directed
        )
        if nodes is not None:
            self._g.add_nodes_from(nodes)
        return self

    def from_numpy_matrix(self, np_matrix) -> "Graph":
        return self.from_numpy_array(np_matrix)

    def __getattr__(self, name):
        g = object.__getattribute__(self, "_g")
        if g is None:
            raise EdgelistRequiredError(
                f"Graph has no edge list yet — call from_cudf_edgelist/"
                f"from_pandas_edgelist before accessing {name!r}"
            )
        return getattr(g, name)


    # pre-build-safe predicates: the reference answers these from the
    # constructor flags without requiring an edge list
    def is_directed(self) -> bool:
        g = object.__getattribute__(self, "_g")
        return g.is_directed() if g is not None else self.directed

    def is_multigraph(self) -> bool:
        g = object.__getattribute__(self, "_g")
        return g.is_multigraph() if g is not None else self._multi


class MultiGraph(Graph):
    """Parallel edges preserved (reference ``MultiGraph``)."""

    _multi = True

    def is_multigraph(self) -> bool:
        return True

    def density(self):
        """Reference ``graph_classes.py:811-823`` — undefined for
        multigraphs (message verbatim)."""
        raise TypeError("The density function is not support on a Multigraph.")


def _as_link_graph(G) -> LinkGraph:
    if isinstance(G, Graph):
        if G._g is None:
            raise RuntimeError(
                "Graph has no edge list yet — call from_cudf_edgelist/"
                "from_pandas_edgelist first"
            )
        return G._g
    if not isinstance(G, LinkGraph):
        # reference algorithms accept NetworkX graphs directly
        # (ensure_cugraph_obj_for_nx at the top of every entry point,
        # utilities/utils.py:325); mirror that here so every facade
        # function takes nx input too
        from .utilities import convert_from_nx, is_nx_graph_type

        if is_nx_graph_type(type(G)):
            return convert_from_nx(G)._g
    return G


# --------------------------------------------------------- structure builders
def _create_flags(create_using) -> tuple[bool, bool]:
    """(directed, multigraph) from a reference-style create_using value."""
    if create_using is None:
        return False, False
    inst = create_using() if isinstance(create_using, type) else create_using
    directed = bool(getattr(inst, "directed", False))
    multi = bool(
        getattr(inst, "_multi", False)
        or (
            getattr(inst, "properties", None) is not None
            and getattr(inst.properties, "multi_edge", False)
        )
    )
    return directed, multi


def from_edgelist(
    df,
    source: str = "source",
    destination: str = "destination",
    edge_attr: str | None = None,
    create_using=None,
    renumber: bool = True,
):
    """Reference ``structure/convert_matrix.py:from_edgelist`` — dispatches
    on frame type (pandas vs distributed)."""
    if isinstance(df, DataFrame):
        sdf = df
    else:
        sdf = get_spark().createDataFrame(df)
    directed, multi = _create_flags(create_using)
    return LinkGraph.from_edges(
        sdf,
        src=source,
        dst=destination,
        weight=edge_attr,
        directed=directed,
        renumber=renumber,
        multigraph=multi,
    )


def from_cudf_edgelist(
    df: DataFrame,
    source: str = "source",
    destination: str = "destination",
    edge_attr: str | None = None,
    create_using=None,
    renumber: bool = True,
):
    """Distributed-frame edge list → graph (the Spark DataFrame plays the
    cudf/dask_cudf role)."""
    return from_edgelist(
        df,
        source=source,
        destination=destination,
        edge_attr=edge_attr,
        create_using=create_using,
        renumber=renumber,
    )


def from_pandas_edgelist(
    df,
    source: str = "source",
    destination: str = "destination",
    edge_attr: str | None = None,
    create_using=None,
    renumber: bool = True,
):
    directed, multi = _create_flags(create_using)
    g = LinkGraph.from_pandas_edgelist(
        get_spark(), df, src=source, dst=destination, weight=edge_attr,
        directed=directed, renumber=renumber,
    )
    return g


def to_pandas_edgelist(G, source: str = "src", destination: str = "dst"):
    pdf = _as_link_graph(G).to_pandas_edgelist()
    return pdf.rename(columns={SRC: source, DST: destination})


def from_pandas_adjacency(df, create_using=None):
    directed, _ = _create_flags(create_using)
    return LinkGraph.from_pandas_adjacency(get_spark(), df, directed=directed)


def to_pandas_adjacency(G):
    return _as_link_graph(G).to_pandas_adjacency()


def from_numpy_array(A, create_using=None):
    directed, _ = _create_flags(create_using)
    return LinkGraph.from_numpy_array(get_spark(), A, directed=directed)


def to_numpy_array(G):
    return _as_link_graph(G).to_numpy_array()


def from_numpy_matrix(A, create_using=None):
    return from_numpy_array(A, create_using=create_using)


def to_numpy_matrix(G):
    return to_numpy_array(G)


def from_adjlist(offsets, indices, values=None, create_using=None):
    """CSR arrays → graph (reference ``convert_matrix.py:121-178``).

    ``offsets``/``indices``/``values`` are driver-side sequences
    (pandas Series, numpy arrays, or lists) — the CSR-arrays form is
    inherently single-host; web-scale ingest goes through
    ``from_cudf_edgelist`` on a distributed edge frame instead.
    """
    offs = list(offsets)
    idx = list(indices)
    vals = list(values) if values is not None else None
    rows = []
    for v in range(len(offs) - 1):
        for p in range(int(offs[v]), int(offs[v + 1])):
            rows.append(
                (v, int(idx[p]), float(vals[p]) if vals is not None else 1.0)
            )
    sdf = get_spark().createDataFrame(rows, "src LONG, dst LONG, weight DOUBLE")
    directed, multi = _create_flags(create_using)
    return LinkGraph.from_edges(
        sdf,
        weight="weight" if vals is not None else None,
        directed=directed,
        multigraph=multi,
    )


def symmetrize(
    input_df: DataFrame,
    source_col_name: str = "src",
    dest_col_name: str = "dst",
    value_col_name: str | None = None,
    multi: bool = False,
    symmetrize: bool = True,
):
    """Reference ``structure/symmetrize.py:177-260``: reverse-union the edge
    frame, then (unless ``multi``) dedup with min over the value column.
    Returns a DataFrame with the caller's column names preserved."""
    cols = [F.col(source_col_name).alias(SRC), F.col(dest_col_name).alias(DST)]
    if value_col_name is not None:
        cols.append(F.col(value_col_name).alias(WGT))
    e = input_df.select(*cols)
    if symmetrize:
        from .graph import symmetrize_edges

        out = symmetrize_edges(e, weighted=value_col_name is not None, multi=multi)
    elif multi:
        out = e
    else:
        if value_col_name is not None:
            out = e.groupBy(SRC, DST).agg(F.min(WGT).alias(WGT))
        else:
            out = e.distinct()
    renames = {SRC: source_col_name, DST: dest_col_name}
    if value_col_name is not None:
        renames[WGT] = value_col_name
    sel = [F.col(c).alias(renames[c]) for c in (SRC, DST)] + (
        [F.col(WGT).alias(renames.get(WGT, WGT))] if WGT in out.columns else []
    )
    return out.select(*sel)


def symmetrize_df(
    df: DataFrame,
    src_name: str = "src",
    dst_name: str = "dst",
    multi: bool = False,
    symmetrize: bool = True,
):
    """Whole-frame variant (reference ``symmetrize.py:25-112``): every
    non-endpoint column is treated as an edge attribute and min-aggregated
    on dedup."""
    attrs = [c for c in df.columns if c not in (src_name, dst_name)]
    rev = df.select(
        F.col(dst_name).alias(src_name), F.col(src_name).alias(dst_name), *attrs
    )
    both = df.select(src_name, dst_name, *attrs).union(rev) if symmetrize else df
    if multi:
        return both
    if attrs:
        return both.groupBy(src_name, dst_name).agg(
            *[F.min(a).alias(a) for a in attrs]
        )
    return both.distinct()


def symmetrize_ddf(df, src_name="src", dst_name="dst", multi=False, symmetrize=True):
    """dask_cudf spelling — a Spark DataFrame is already distributed."""
    return symmetrize_df(
        df, src_name=src_name, dst_name=dst_name, multi=multi, symmetrize=symmetrize
    )


# -------------------------------------------------------- graph predicates
def is_weighted(G) -> bool:
    g = _as_link_graph(G)
    return bool(getattr(g.properties, "weighted", False))


def is_directed(G) -> bool:
    return _as_link_graph(G).is_directed()


def is_multigraph(G) -> bool:
    return _as_link_graph(G).is_multigraph()


def is_bipartite(G) -> bool:
    return _as_link_graph(G).is_bipartite()


def is_multipartite(G) -> bool:
    return _as_link_graph(G).is_multipartite()


# ------------------------------------------------------------- link analysis
def pagerank(
    G,
    alpha: float = 0.85,
    personalization: DataFrame | None = None,
    max_iter: int = 100,
    tol: float = 1e-5,
    nstart: DataFrame | None = None,
    precomputed_vertex_out_weight: DataFrame | None = None,
    fail_on_nonconvergence: bool = True,
    **kwargs,
) -> DataFrame:
    """Reference-shape ``pagerank``: returns the DF[vertex, pagerank] itself
    (``link_analysis/pagerank.py:54-260`` returns a frame, not a result
    object). The engine-native entry point with convergence diagnostics
    (iterations, L1 history, per-iter wall time) stays at
    ``operators.pagerank.pagerank``."""
    res = _pagerank_result(
        _as_link_graph(G),
        alpha=alpha,
        personalization=personalization,
        max_iter=max_iter,
        tol=tol,
        nstart=nstart,
        precomputed_vertex_out_weight=precomputed_vertex_out_weight,
        fail_on_nonconvergence=fail_on_nonconvergence,
        **kwargs,
    )
    return res.ranks


# ------------------------------------------------------------- components
def connected_components(
    G, directed=None, connection: str = "weak", return_labels=None
):
    """Reference ``components/connectivity.py``: ``connection`` picks weak
    vs strong; defaults weak."""
    g = _as_link_graph(G)
    if connection == "weak":
        return weakly_connected_components(g)
    if connection == "strong":
        return strongly_connected_components(g)
    raise ValueError(f"invalid connection type: {connection!r}")


# ------------------------------------------------- nx-compat link prediction
def _ebunch_frame(ebunch) -> DataFrame | None:
    if ebunch is None:
        return None
    if isinstance(ebunch, DataFrame):
        return ebunch
    rows = [(int(a), int(b)) for a, b in ebunch]
    return get_spark().createDataFrame(rows, "first LONG, second LONG")


def _nx_coefficient(fn, coeff: str, G, ebunch):
    """Run a similarity op, then restore the CALLER's pair orientation.

    The operators canonicalize pairs to (least, greatest); NetworkX (and the
    reference wrapper) echo the ebunch as given. The coefficient is
    symmetric, so a broadcast equi-join on the canonical key re-attaches
    scores to the original orientation — the ebunch is a user-supplied
    query set, small by construction."""
    g = _as_link_graph(G)
    pf = _ebunch_frame(ebunch)
    res = fn(g, vertex_pair=pf)
    if pf is None:
        return res
    canon = res.select(
        F.least("first", "second").alias("_a"),
        F.greatest("first", "second").alias("_b"),
        coeff,
    )
    return (
        pf.select(
            "first",
            "second",
            F.least("first", "second").alias("_a"),
            F.greatest("first", "second").alias("_b"),
        )
        .distinct()
        .join(F.broadcast(canon), ["_a", "_b"])
        .select("first", "second", coeff)
    )


def jaccard_coefficient(G, ebunch=None):
    """nx-compat wrapper (reference ``link_prediction/jaccard.py:160-210``)."""
    return _nx_coefficient(jaccard, "jaccard_coeff", G, ebunch)


def overlap_coefficient(G, ebunch=None):
    return _nx_coefficient(overlap, "overlap_coeff", G, ebunch)


def sorensen_coefficient(G, ebunch=None):
    return _nx_coefficient(sorensen, "sorensen_coeff", G, ebunch)


REFERENCE_EXPORTS = [
    # community
    "ecg", "induced_subgraph", "ktruss_subgraph", "k_truss", "louvain",
    "leiden", "spectralBalancedCutClustering",
    "spectralModularityMaximizationClustering", "analyzeClustering_modularity",
    "analyzeClustering_edge_cut", "analyzeClustering_ratio_cut", "subgraph",
    "triangle_count", "ego_graph", "batched_ego_graphs",
    # structure
    "Graph", "MultiGraph", "BiPartiteGraph", "from_edgelist",
    "from_cudf_edgelist", "from_pandas_edgelist", "to_pandas_edgelist",
    "from_pandas_adjacency", "to_pandas_adjacency", "from_numpy_array",
    "to_numpy_array", "from_numpy_matrix", "to_numpy_matrix", "from_adjlist",
    "hypergraph", "symmetrize", "symmetrize_df", "symmetrize_ddf",
    "is_weighted", "is_directed", "is_multigraph", "is_bipartite",
    "is_multipartite",
    # centrality
    "betweenness_centrality", "edge_betweenness_centrality", "katz_centrality",
    "degree_centrality", "eigenvector_centrality",
    # cores / components / link analysis
    "core_number", "k_core", "connected_components",
    "weakly_connected_components", "strongly_connected_components",
    "pagerank", "hits",
    # link prediction
    "jaccard", "jaccard_coefficient", "overlap", "overlap_coefficient",
    "sorensen", "sorensen_coefficient", "jaccard_w", "overlap_w", "sorensen_w",
    # traversal
    "bfs", "bfs_edges", "sssp", "shortest_path", "filter_unreachable",
    "shortest_path_length", "concurrent_bfs", "multi_source_bfs",
    # tree / experimental / lap / layout / sampling
    "minimum_spanning_tree", "maximum_spanning_tree",
    "strong_connected_component", "find_bicliques", "hungarian",
    "dense_hungarian", "force_atlas2", "random_walks", "rw_path", "node2vec",
    "uniform_neighbor_sample",
]

__all__ = REFERENCE_EXPORTS + [
    "LinkGraph", "GraphProperties", "PropertyGraph", "NPartiteGraph", "Tree",
    "label_propagation", "total_triangles", "two_hop_neighbors",
    "select_random_vertices", "get_traversed_path", "get_traversed_path_list",
    "spectral_balanced_cut_clustering",
    "spectral_modularity_maximization_clustering",
    "analyze_clustering_modularity", "analyze_clustering_edge_cut",
    "analyze_clustering_ratio_cut",
    # biased first-order walks: reference reaches these via
    # random_walks(random_walks_type='biased'), which our random_walks also
    # dispatches; the direct callable is an engine extra, not a reference name
    "biased_random_walks",
]
