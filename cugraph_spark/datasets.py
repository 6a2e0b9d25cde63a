"""Built-in datasets (reference ``cugraph/datasets/dataset.py:60-268``).

The reference's ``Dataset`` downloads CSVs from data.rapids.ai on demand and
exposes ``get_edgelist()`` / ``get_graph()``. This environment has no
network, so datasets whose raw data is derivable locally are generated
deterministically in-process:

- ``karate`` — the exact Zachary karate-club graph (public data, 1977;
  networkx ships the edge list), weights 1.0 as in the reference CSV.
- ``karate_asymmetric`` / ``karate_disjoint`` — the reference's variants:
  the directed (one-direction) karate edge list, and two disjoint karate
  copies with the second's ids offset by 34.
- ``small_line`` — the 10-vertex path graph from the reference metadata.

Datasets whose source data is NOT derivable locally (dolphins, polbooks,
netscience, email_Eu_core, cyber) raise a clear RuntimeError from
``get_edgelist`` instead of pretending: fabricating lookalike data under a
real dataset's name would be worse than failing.

``get_graph(create_using=...)`` accepts our ``Graph`` shim / classes like
the reference accepts cugraph.Graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .session import get_spark


def _karate_one_direction() -> list[tuple[int, int, float]]:
    import networkx as nx

    return [(int(a), int(b), 1.0) for a, b in nx.karate_club_graph().edges]


def _karate_rows() -> list[tuple[int, int, float]]:
    """Both directions of every friendship — the reference karate.csv
    stores the symmetric graph as 156 directed rows (karate.yaml:
    number_of_edges 156 over 34 nodes)."""
    one = _karate_one_direction()
    return one + [(b, a, w) for a, b, w in one]


class Dataset:
    """Reference-shaped dataset handle. ``metadata`` mirrors the fields of
    the reference's YAML (name, is_directed, number_of_edges/nodes, ...)."""

    def __init__(self, name: str, metadata: dict, rows_fn=None):
        self.name = name
        self.metadata = metadata
        self._rows_fn = rows_fn
        self._edgelist: DataFrame | None = None

    def __str__(self) -> str:
        return self.name

    def get_path(self):
        raise RuntimeError(
            f"dataset {self.name!r} has no on-disk CSV in this environment "
            "(datasets are generated in-process; there is no download dir)"
        )

    def unload(self) -> None:
        if self._edgelist is not None:
            self._edgelist.unpersist()
            self._edgelist = None

    def get_edgelist(self, download: bool = False) -> DataFrame:
        """DF[src, dst, wgt] (the reference's column names)."""
        if self._rows_fn is None:
            raise RuntimeError(
                f"The source data for dataset {self.name!r} is not bundled "
                "and this environment has no network access; only "
                "locally-derivable datasets "
                f"({', '.join(sorted(_GENERATED))}) can be materialized"
            )
        if self._edgelist is None:
            self._edgelist = get_spark().createDataFrame(
                self._rows_fn(), "src LONG, dst LONG, wgt DOUBLE"
            ).persist()
        return self._edgelist

    def get_graph(
        self,
        download: bool = False,
        create_using=None,
        ignore_weights: bool = False,
        store_transposed: bool = False,
    ):
        """Build a graph exactly as the reference does
        (``dataset.py:196-257``): flags from ``create_using``, weights
        applied unless ``ignore_weights``."""
        from .api import Graph

        el = self.get_edgelist(download)
        if create_using is None:
            G = Graph()
        elif isinstance(create_using, type):
            G = create_using()
        elif isinstance(create_using, Graph):
            G = type(create_using)(directed=create_using.is_directed())
        else:
            raise TypeError(
                "create_using must be a Graph (or subclass) type or "
                f"instance, got: {type(create_using)}"
            )
        G.from_cudf_edgelist(
            el,
            source="src",
            destination="dst",
            edge_attr=None if ignore_weights else "wgt",
        )
        return G


def _karate_asymmetric_rows():
    """One direction per friendship (the reference's asymmetric variant)."""
    return _karate_one_direction()


def _karate_disjoint_rows():
    rows = _karate_rows()
    return rows + [(a + 34, b + 34, w) for a, b, w in rows]


def _small_line_rows():
    return [(i, i + 1, 1.0) for i in range(9)]


_GENERATED = {"karate", "karate_asymmetric", "karate_disjoint", "small_line"}

karate = Dataset(
    "karate",
    {
        "name": "karate",
        "is_directed": True,  # reference metadata: stored one row per
        # direction-pair of the symmetric graph; Graph() build symmetrizes
        "is_multigraph": False,
        "is_symmetric": True,
        "number_of_edges": 156,
        "number_of_nodes": 34,
        "col_names": ["src", "dst", "wgt"],
    },
    _karate_rows,
)
karate_asymmetric = Dataset(
    "karate_asymmetric",
    {"name": "karate_asymmetric", "is_directed": True, "is_symmetric": False,
     "number_of_nodes": 34, "col_names": ["src", "dst", "wgt"]},
    _karate_asymmetric_rows,
)
karate_disjoint = Dataset(
    "karate_disjoint",
    {"name": "karate_disjoint", "is_directed": True,
     "number_of_nodes": 68, "col_names": ["src", "dst", "wgt"]},
    _karate_disjoint_rows,
)
small_line = Dataset(
    "small_line",
    {"name": "small_line", "is_directed": True,
     "number_of_nodes": 10, "col_names": ["src", "dst", "wgt"]},
    _small_line_rows,
)
dolphins = Dataset("dolphins", {"name": "dolphins"})
polbooks = Dataset("polbooks", {"name": "polbooks"})
netscience = Dataset("netscience", {"name": "netscience"})
email_Eu_core = Dataset("email_Eu_core", {"name": "email_Eu_core"})
cyber = Dataset("cyber", {"name": "cyber"})

ALL_DATASETS = [
    karate, karate_asymmetric, karate_disjoint, small_line,
    dolphins, polbooks, netscience, email_Eu_core, cyber,
]


def download_all(force: bool = False) -> None:
    """Reference ``dataset.py:270-294`` — nothing to download here; the
    generated datasets need no fetch and the rest cannot be fetched."""


__all__ = [
    "Dataset", "karate", "karate_asymmetric", "karate_disjoint",
    "small_line", "dolphins", "polbooks", "netscience", "email_Eu_core",
    "cyber", "ALL_DATASETS", "download_all",
]
