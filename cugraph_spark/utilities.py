"""Utility operators (reference ``cugraph/utilities``).

- ``get_traversed_cost`` — reference ``utilities/path_retrieval.py:28-100``
  (C++ kernel walks each predecessor chain): sum edge weights along the
  BFS/SSSP predecessor tree back to the source. The host/CUDA walk is
  restated as POINTER DOUBLING: each round every vertex adds its current
  ancestor's accumulated cost and jumps to the ancestor's ancestor, so an
  L-deep tree finishes in ceil(log2 L) supersteps of one self-join each —
  the same shape as the WCC pointer-jump loop, no per-path sequential work;
  the loop is ``graph.superstep_loop``.
- ``sample_groups`` — reference ``utilities/utils.py:488-512``: uniform
  n-per-group sampling; a per-group ``row_number`` over a seeded random
  order (groups sample in parallel; no global shuffle of the full frame).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .graph import superstep_loop, truncate_state
from .session import get_spark

_UNREACHED = 1.7976931348623157e308  # DBL_MAX, the reference's sentinel


def get_traversed_cost(
    df: DataFrame,
    source: int,
    edge_df: DataFrame,
    source_col: str = "src",
    dest_col: str = "dst",
    value_col: str = "weight",
    max_rounds: int = 64,
) -> DataFrame:
    """DF[vertex, info] — per-vertex sum of edge weights along the
    predecessor path to ``source``.

    ``df`` is a BFS/SSSP result frame [vertex, distance, predecessor];
    ``edge_df`` holds the weighted edges. As in the reference, the weight
    relation is symmetrized with min-dedup before lookup, and vertices
    with no path get DBL_MAX.
    """
    for need in ("vertex", "distance", "predecessor"):
        if need not in df.columns:
            raise ValueError(
                "DataFrame does not appear to be a BFS or "
                f"SSP result - '{need}' column missing"
            )
    e = edge_df.select(
        F.col(source_col).alias("s"),
        F.col(dest_col).alias("d"),
        F.col(value_col).cast("double").alias("w"),
    )
    wsym = (
        e.union(e.select(F.col("d").alias("s"), F.col("s").alias("d"), "w"))
        .groupBy("s", "d")
        .agg(F.min("w").alias("w"))
    )

    # init: cost = w(pred -> v); source carries 0; pred-less non-source
    # rows are unreachable
    base = df.select("vertex", F.col("predecessor").alias("anc"))
    state = (
        base.join(
            wsym,
            (base["anc"] == wsym["s"]) & (base["vertex"] == wsym["d"]),
            "left",
        )
        .select(
            "vertex",
            F.when(F.col("vertex") == source, F.lit(-1))
            .otherwise(F.col("anc"))
            .alias("anc"),
            F.when(F.col("vertex") == source, F.lit(0.0))
            .when(F.col("anc") == -1, F.lit(_UNREACHED))
            .otherwise(F.col("w"))
            .alias("cost"),
        )
    )
    n = df.count()
    rounds = min(max_rounds, max(1, math.ceil(math.log2(max(2, n))) + 1))

    def step(state: DataFrame, _report):
        b = state.select(
            F.col("vertex").alias("_av"),
            F.col("anc").alias("_aanc"),
            F.col("cost").alias("_acost"),
        )
        nxt = state.join(b.hint("shuffle_hash"), state["anc"] == b["_av"], "left").select(
            "vertex",
            F.when(F.col("anc") == -1, F.lit(-1))
            .otherwise(F.coalesce(F.col("_aanc"), F.lit(-1)))
            .alias("anc"),
            F.when(F.col("anc") == -1, F.col("cost"))
            .otherwise(F.col("cost") + F.coalesce(F.col("_acost"), F.lit(0.0)))
            .alias("cost"),
        )
        return nxt, [F.sum(F.when(F.col("anc") != -1, 1).otherwise(0)).alias("pending")]

    # no graph to take a partition count from: the session's
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    state, _ = superstep_loop(
        state,
        step,
        lambda m: m["pending"] == 0,
        lambda s: truncate_state(s),
        rounds,
        n_part,
    )

    return state.select("vertex", F.col("cost").alias("info"))


def sample_groups(
    df: DataFrame, by: str, n_samples: int, seed: int | None = None
) -> DataFrame:
    """Uniformly sample ``n_samples`` rows per ``by`` group (reference
    ``utils.py:488-512``). ``n_samples=-1`` keeps everything."""
    if n_samples == -1:
        return df
    w = Window.partitionBy(by).orderBy(
        F.rand(seed) if seed is not None else F.rand()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_samples)
        .drop("_rn")
    )


# --------------------------------------------------------------------------
# NetworkX interop (reference ``utilities/nx_factory.py``) and input-object
# coercion (reference ``utilities/utils.py:258-375``). The reference funnels
# every algorithm's input through these so users can pass NetworkX graphs
# (or SciPy/CuPy matrices) directly; we mirror the same names over
# LinkGraph / the api.Graph shim. All converters are DRIVER-SIDE adapters
# for small graphs by design (an nx.Graph already lives on the driver) —
# the distributed path is LinkGraph.from_edges on a DataFrame.
# --------------------------------------------------------------------------


class MissingModule:
    """Raises RuntimeError on attribute access — returned by
    :func:`import_optional` for absent modules (reference
    ``utils.py:398-412``)."""

    def __init__(self, mod_name):
        self.name = mod_name

    def __getattr__(self, attr):
        raise RuntimeError(f"This feature requires the {self.name} package/module")


def import_optional(mod, default_mod_class=MissingModule):
    """Import ``mod`` if present, else an inert placeholder (reference
    ``utils.py:413-440``)."""
    try:
        import importlib

        return importlib.import_module(mod)
    except ModuleNotFoundError:
        return default_mod_class(mod_name=mod)


cupy_package = import_optional("cupy")
_scipy_sparse = import_optional("scipy.sparse")


def _nx():
    import networkx

    return networkx


def _sp_matrix_types():
    if isinstance(_scipy_sparse, MissingModule):
        return []
    sp = _scipy_sparse
    return [sp.coo_matrix, sp.csr_matrix, sp.csc_matrix]


def is_cp_matrix_type(m):
    # cupy is never present in this environment; keep the reference name
    return False if isinstance(cupy_package, MissingModule) else m in [
        cupy_package.sparse.coo_matrix,
        cupy_package.sparse.csr_matrix,
        cupy_package.sparse.csc_matrix,
    ]


def is_sp_matrix_type(m):
    return m in _sp_matrix_types()


def is_matrix_type(m):
    return is_cp_matrix_type(m) or is_sp_matrix_type(m)


def is_nx_graph_type(g):
    nx = _nx()
    return g in [nx.Graph, nx.DiGraph, nx.MultiGraph, nx.MultiDiGraph]


def is_cugraph_graph_type(g):
    from .api import Graph, MultiGraph
    from .graph import LinkGraph

    return g in [Graph, MultiGraph, LinkGraph]


def convert_from_nx(
    nxG,
    weight=None,
    do_renumber=True,
    store_transposed=False,
    vertex_type="int64",
    spark=None,
):
    """NetworkX Graph → :class:`api.Graph` (reference
    ``nx_factory.py:87-163``). ``weight`` names the nx edge attribute to
    carry; unweighted-with-attrs falls back to the single non-endpoint
    column like the reference's unnamed path. Weights are float64 (the
    engine-wide dtype; the reference hardcodes float32 and marks it FIXME).
    ``store_transposed`` is accepted for signature parity — a DataFrame
    edge list has no storage orientation."""
    import pandas as pd

    from .api import Graph

    nx = _nx()
    if isinstance(nxG, nx.DiGraph):
        G = Graph(directed=True)
    elif isinstance(nxG, nx.Graph):
        G = Graph()
    else:
        raise TypeError(
            f"nxG must be either a NetworkX Graph or DiGraph, got {type(nxG)}"
        )

    spark = spark or get_spark()
    if not nx.is_weighted(nxG, weight=weight):
        pdf = pd.DataFrame(nxG.edges(), columns=["src", "dst"])
        edge_attr = None
    elif weight is None:
        pdf = nx.to_pandas_edgelist(nxG).rename(
            columns={"source": "src", "target": "dst"}
        )
        wt = [c for c in pdf.columns if c not in ("src", "dst")]
        if len(wt) != 1:
            raise ValueError("Unable to determine weight column name")
        pdf = pdf.rename(columns={wt[0]: "weight"})[["src", "dst", "weight"]]
        edge_attr = "weight"
    else:
        rows = list(nxG.edges(data=weight))
        pdf = pd.DataFrame(rows, columns=["src", "dst", "weight"])
        edge_attr = "weight"
    if pd.api.types.is_integer_dtype(pdf["src"]) or pd.api.types.is_integer_dtype(
        pdf["dst"]
    ):
        pdf = pdf.astype({"src": vertex_type, "dst": vertex_type})
    if edge_attr:
        pdf["weight"] = pdf["weight"].astype("float64")
    G.from_cudf_edgelist(
        spark.createDataFrame(pdf),
        source="src",
        destination="dst",
        edge_attr=edge_attr,
        renumber=do_renumber,
    )
    return G


def cugraph_to_nx(G):
    """Graph → NetworkX graph from the external-id edge list (reference
    ``nx_factory.py:235-251``). Driver-side small-graph adapter like
    ``to_numpy_array`` (graph.py)."""
    nx = _nx()
    pdf = G.view_edge_list().toPandas()
    if len(pdf.columns) == 2:
        return nx.from_pandas_edgelist(pdf, source="src", target="dst")
    return nx.from_pandas_edgelist(
        pdf, source="src", target="dst", edge_attr="weight"
    )


def df_score_to_dictionary(df, k, v="vertex"):
    """DF[vertex, score] → {vertex: score} (reference
    ``nx_factory.py:165-194``) — the shape the nx-compat wrappers return."""
    pdf = df.toPandas() if isinstance(df, DataFrame) else df
    return pdf.sort_values(by=v).set_index(v).to_dict()[k]


def df_edge_score_to_dictionary(df, k, src="src", dst="dst"):
    """DF[src, dst, score] → {(src, dst): score} (reference
    ``nx_factory.py:197-232``)."""
    pdf = df.toPandas() if isinstance(df, DataFrame) else df
    pdf = pdf.sort_values(by=[src, dst]).reset_index(drop=True)
    return {
        (pdf[src][i], pdf[dst][i]): pdf[k][i] for i in range(len(pdf))
    }


def ensure_cugraph_obj(obj, nx_weight_attr=None, matrix_graph_type=None):
    """Coerce Graph / nx.Graph / SciPy matrix → (LinkGraph-backed Graph,
    input_type) (reference ``utils.py:258-317``)."""
    from .api import Graph
    from .graph import LinkGraph

    input_type = type(obj)
    if is_cugraph_graph_type(input_type):
        return (obj, input_type)
    if is_nx_graph_type(input_type):
        return (convert_from_nx(obj, weight=nx_weight_attr), input_type)
    if is_matrix_type(input_type):
        spark = get_spark()
        g = LinkGraph.from_scipy_sparse(spark, obj, directed=True)
        if matrix_graph_type not in (None, Graph) and not isinstance(
            matrix_graph_type, Graph
        ):
            raise TypeError(
                f"matrix_graph_type must be either a cugraph Graph, "
                f"got: {matrix_graph_type}"
            )
        return (g, input_type)
    raise TypeError(f"obj of type {input_type} is not supported.")


def ensure_cugraph_obj_for_nx(
    obj, nx_weight_attr="weight", store_transposed=False, vertex_type="int64"
):
    """(graph, was_nx) for Graph-or-NetworkX input (reference
    ``utils.py:325-357``) — the funnel every reference algorithm calls
    first."""
    input_type = type(obj)
    if is_nx_graph_type(input_type):
        return (
            convert_from_nx(
                obj,
                weight=nx_weight_attr,
                store_transposed=store_transposed,
                vertex_type=vertex_type,
            ),
            True,
        )
    if is_cugraph_graph_type(input_type):
        return (obj, False)
    raise TypeError(
        f"input must be either a cuGraph or NetworkX graph type, "
        f"got {input_type}"
    )


def renumber_vertex_pair(input_graph, vertex_pair: DataFrame) -> DataFrame:
    """Map a frame of external vertex pairs to internal ids (reference
    ``utils.py:378-395``) — distributed joins against the renumber map,
    one per endpoint column (or one per packed multi-column key)."""
    vertex_size = input_graph.vertex_column_size()
    columns = vertex_pair.columns
    if vertex_size == 1:
        for col in columns:
            if input_graph.renumber_map is not None:
                # temp name: add_internal_vertex_id(df, col, col) would
                # drop the freshly joined column along with the external one
                vertex_pair = input_graph.add_internal_vertex_id(
                    vertex_pair, f"_int_{col}", col
                ).withColumnRenamed(f"_int_{col}", col)
    elif input_graph.renumber_map is not None:
        vertex_pair = input_graph.add_internal_vertex_id(
            vertex_pair, "src", list(columns[:vertex_size])
        )
        vertex_pair = input_graph.add_internal_vertex_id(
            vertex_pair, "dst", list(columns[vertex_size:])
        )
    return vertex_pair
