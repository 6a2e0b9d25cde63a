"""Subpackage mirror of ``cugraph.generators`` (``generators/rmat.py``).

``rmat`` wraps the engine's counter-hash R-MAT kernel
(``datagen.rmat_edges`` — deterministic and partitioning-independent,
unlike the reference's device RNG) with the reference's option surface:
clip_and_flip, scrambling, optional weight/id/type columns, and
``create_using`` graph construction. ``mg`` is accepted and ignored — a
Spark frame is always distributed.

Optional columns are derived per edge with splitmix-style hashing of the
generator counter, so the same (scale, num_edges, seed) always yields the
same weighted/typed edge list on any cluster layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .datagen import RMAT_A, RMAT_B, RMAT_C, rmat_edges
from .session import get_spark


def _hash_frac(col, seed: int, salt: int):
    """Deterministic uniform [0, 1) fraction per counter value."""
    h = F.xxhash64(col, F.lit(int(seed)), F.lit(int(salt)))
    return (F.pmod(h, F.lit(1_000_000_007)).cast("double")) / 1_000_000_007.0


def rmat(
    scale,
    num_edges,
    a=RMAT_A,
    b=RMAT_B,
    c=RMAT_C,
    seed=42,
    clip_and_flip=False,
    scramble_vertex_ids=False,
    include_edge_weights=False,
    minimum_weight=None,
    maximum_weight=None,
    dtype=None,
    include_edge_ids=False,
    include_edge_types=False,
    min_edge_type_value=None,
    max_edge_type_value=None,
    create_using="graph",
    mg=False,
):
    """Reference ``generators/rmat.py:417-560``. ``create_using=None``
    returns the edge DataFrame; a Graph class/instance (default) builds a
    graph from it."""
    if include_edge_weights and (minimum_weight is None or maximum_weight is None):
        raise ValueError(
            "'minimum_weight' and 'maximum_weight' must not be None if "
            "'include_edge_weights' is true"
        )
    if include_edge_types and (
        min_edge_type_value is None or max_edge_type_value is None
    ):
        raise ValueError(
            "'min_edge_type_value' and 'max_edge_type_value' must not be "
            "None if 'include_edge_types' is true"
        )
    e = rmat_edges(
        get_spark(),
        int(scale),
        int(num_edges),
        a=a,
        b=b,
        c=c,
        seed=int(seed),
        scramble_vertex_ids=scramble_vertex_ids,
        keep_id=True,
    )
    if clip_and_flip:
        # Graph500 clip_and_flip: flip edges above the diagonal into the
        # lower triangle
        e = e.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
            "id",
        )
    cols = ["src", "dst"]
    if include_edge_weights:
        lo, hi = float(minimum_weight), float(maximum_weight)
        e = e.withColumn(
            "weights", (F.lit(lo) + _hash_frac(F.col("id"), seed, 1) * (hi - lo))
        )
        cols.append("weights")
    if include_edge_ids:
        e = e.withColumnRenamed("id", "edge_id") if "id" in e.columns else e
        cols.append("edge_id")
    if include_edge_types:
        lo_t, hi_t = int(min_edge_type_value), int(max_edge_type_value)
        span = hi_t - lo_t + 1
        idc = F.col("edge_id") if include_edge_ids else F.col("id")
        e = e.withColumn(
            "edge_type",
            (F.lit(lo_t) + F.pmod(F.xxhash64(idc, F.lit(int(seed)), F.lit(2)), F.lit(span))).cast("int"),
        )
        cols.append("edge_type")
    df = e.select(*cols)
    if create_using is None:
        return df

    from .api import Graph

    if create_using == "graph":
        G = Graph(directed=True)
    elif isinstance(create_using, type):
        G = create_using()
    elif isinstance(create_using, Graph):
        G = type(create_using)(directed=create_using.is_directed())
    else:
        raise TypeError(
            "create_using must be a Graph type or instance, or None, got: "
            f"{type(create_using)}"
        )
    G.from_cudf_edgelist(
        df,
        source="src",
        destination="dst",
        edge_attr="weights" if include_edge_weights else None,
    )
    return G


def multi_rmat(
    n_edgelists,
    min_scale,
    max_scale,
    edge_factor,
    size_distribution=None,
    edge_distribution=None,
    seed=42,
    clip_and_flip=False,
    scramble_vertex_ids=False,
    include_edge_weights=False,
    minimum_weight=None,
    maximum_weight=None,
    dtype=None,
    include_edge_ids=False,
    include_edge_types=False,
    min_edge_type_value=None,
    max_edge_type_value=None,
    mg=False,
):
    """Reference ``generators/rmat.py:563-690``: a list of graphs whose
    scales are drawn (seeded, deterministic here) from
    [min_scale, max_scale]; each has ``edge_factor << scale`` edges."""
    import random

    rng = random.Random(int(seed))
    out = []
    for i in range(int(n_edgelists)):
        s = rng.randint(int(min_scale), int(max_scale))
        out.append(
            rmat(
                s,
                int(edge_factor) * (1 << s),
                seed=int(seed) + i,
                clip_and_flip=clip_and_flip,
                scramble_vertex_ids=scramble_vertex_ids,
                include_edge_weights=include_edge_weights,
                minimum_weight=minimum_weight,
                maximum_weight=maximum_weight,
                dtype=dtype,
                include_edge_ids=include_edge_ids,
                include_edge_types=include_edge_types,
                min_edge_type_value=min_edge_type_value,
                max_edge_type_value=max_edge_type_value,
            )
        )
    return out


__all__ = ["rmat", "multi_rmat"]
