"""Per-partition COO→CSR compression held as Arrow arrays, plus an
SpMV-style CSR gather superstep.

Reference parity: the CUDA engine compresses each partition's COO edge
chunk to CSR/DCSR on build (``cpp/src/structure/
create_graph_from_edgelist_impl.cuh:378-405`` "groupby edges to their
target local adjacency matrix partition", ``:513-590`` "compress edge
list (COO) to CSR … or CSR + DCSR hybrid") and every analytic is a
per-partition gather/scatter over that structure
(``per_v_transform_reduce_incoming_outgoing_e.cuh``).  This module is the
Spark analog the SURVEY planned (§1.1, §2.2): the CSR of each hash
partition lives as Arrow ``array<long>`` columns of ONE DataFrame row per
partition — never a global offsets array, which cannot exist at scale —
and the gather is an Arrow-batched ``applyInPandas`` cogroup kernel
(numpy ``repeat``/``searchsorted``/``bincount``; no per-row Python).

Honest 100 TB verdict (measured, see BENCH.md): on Spark this path is a
PARITY demonstration, not the production default.  The DataFrame
join+groupBy superstep keeps the E-row gather entirely inside
whole-stage-codegen JVM operators, while the CSR kernel must move each
partition's rank vector across the Arrow boundary every superstep;
both shuffle the same bytes (ranks by pid ≙ ranks by src-hash; partial
sums by dst either way — Spark's hash aggregate already does the
map-side combine the CSR kernel does with bincount).  The structure
itself, though, is reusable wherever a per-partition imperative kernel
genuinely wins (merge-intersection, sampling with replacement).

Scale nuance (measured round 5 full-capacity soak, BENCH.md "Round-5
chunked-CSR soak"; supersedes round 4's capacity-oscillating 0.82–1.56
band): the Arrow-boundary cost is a per-superstep CONSTANT, so the
ratio shrinks with graph size — 3.3× slower at 600k edges narrowing to
1.17–1.43× (median 1.32×) at 33M edges, and chunking itself is free
(forcing ~4 chunks/partition at max_chunk_edges=262144 reads +1.9%
over the default single-chunk packing).  The DataFrame path stays the
default; nothing about this path degrades at 100 TB beyond that
bounded constant.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .graph import DST, SRC, VID, WGT, LinkGraph, superstep_loop, truncate_state

CSR_SCHEMA = (
    "pid long, vids array<long>, offsets array<long>, indices array<long>, "
    "weights array<double>"
)


# max edges per CSR chunk row: 8M longs ≈ 64 MB of indices (plus weights)
# keeps every Arrow cell far below the 2 GiB Arrow-batch/row ceiling that a
# one-row-per-partition packing would hit on a dense hash partition at
# scale (a 1B-edge partition is ~8 GB of indices in one cell otherwise).
CSR_CHUNK_EDGES = 8_000_000


def csr_partitions(
    graph: LinkGraph,
    num_partitions: int | None = None,
    max_chunk_edges: int = CSR_CHUNK_EDGES,
) -> DataFrame:
    """[pid, vids, offsets, indices, weights] — one row per (hash
    partition, vid-range chunk), the partition's out-adjacency compressed
    to CSR and split at vertex boundaries so no chunk holds more than
    ``max_chunk_edges`` edges (≈64 MB of indices at the default — bounded
    Arrow cell size regardless of partition density).

    ``vids`` are the chunk's source vertices sorted ascending (a DCSR:
    vertices with no out-edges in the partition are absent, mirroring the
    reference's hypersparse handling); ``offsets[i]:offsets[i+1]`` slices
    ``indices``/``weights`` for ``vids[i]`` (offsets rebased per chunk).
    Partition = ``src mod P`` so a rank vector keyed the same way co-groups
    without re-hashing; a gather consumes ALL chunk rows of its pid.
    """
    n_part = num_partitions or graph.num_partitions
    weighted = WGT in graph.edges.columns
    cols = [SRC, DST] + ([WGT] if weighted else [])
    coo = graph.edges.select(*cols).withColumn(
        "pid", F.pmod(F.col(SRC), F.lit(n_part)).cast("long")
    )

    def _compress(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([SRC, DST], kind="stable")
        src = pdf[SRC].to_numpy(np.int64)
        vids, counts = np.unique(src, return_counts=True)
        offsets = np.zeros(len(vids) + 1, dtype=np.int64)
        np.cumsum(counts, out=offsets[1:])
        dst = pdf[DST].to_numpy(np.int64)
        w = (
            pdf[WGT].to_numpy(np.float64)
            if weighted
            else np.ones(len(src), dtype=np.float64)
        )
        pid = int(pdf["pid"].iloc[0])
        # chunk at vertex boundaries: greedy largest prefix ≤ max_chunk_edges
        # (a single vertex whose degree exceeds the cap gets its own chunk —
        # correct, just an oversized cell; true hub splitting lives in the
        # DataFrame path's salting, this path documents the bound honestly)
        cuts = [0]
        while cuts[-1] < len(vids):
            lo = cuts[-1]
            j = int(np.searchsorted(offsets, offsets[lo] + max_chunk_edges, "right")) - 1
            cuts.append(min(max(j, lo + 1), len(vids)))
        rows = []
        for lo, hi in zip(cuts[:-1], cuts[1:]):
            e0, e1 = offsets[lo], offsets[hi]
            rows.append(
                (
                    pid,
                    vids[lo:hi],
                    offsets[lo : hi + 1] - e0,
                    dst[e0:e1],
                    w[e0:e1],
                )
            )
        return pd.DataFrame(
            rows, columns=["pid", "vids", "offsets", "indices", "weights"]
        )

    return coo.groupBy("pid").applyInPandas(_compress, CSR_SCHEMA)


def csr_gather(
    csr: DataFrame, vertex_values: DataFrame, num_partitions: int
) -> DataFrame:
    """SpMV gather: ``out[dst] = Σ_{(src,dst)∈E} value[src]·w`` as a
    cogrouped Arrow kernel + one global sum.

    ``vertex_values`` is DF[id, value]; it is co-grouped with the CSR rows
    on ``pid = id mod P`` (the CSR's own partitioning — the value shuffle
    is the same volume the DataFrame path's shuffle-hash join moves).  The
    kernel expands each source's value along its adjacency with
    ``np.repeat`` and pre-combines per local dst with ``np.bincount``
    before anything is shuffled — the map-side combine Spark's hash
    aggregate performs in the join+groupBy formulation.
    """
    vals = vertex_values.withColumn(
        "pid", F.pmod(F.col(VID), F.lit(num_partitions)).cast("long")
    )

    def _gather(_key, csr_pdfs: pd.DataFrame, val_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(csr_pdfs) == 0 or len(val_pdf) == 0:
            return pd.DataFrame({"dst": pd.Series(dtype="int64"),
                                 "partial": pd.Series(dtype="float64")})
        # value lookup built once per pid, reused across all chunk rows
        vals = pd.Series(
            val_pdf["value"].to_numpy(np.float64),
            index=val_pdf[VID].to_numpy(np.int64),
        )
        idx_parts, con_parts = [], []
        for row in csr_pdfs.itertuples(index=False):
            vids = np.asarray(row.vids, dtype=np.int64)
            offsets = np.asarray(row.offsets, dtype=np.int64)
            indices = np.asarray(row.indices, dtype=np.int64)
            weights = np.asarray(row.weights, dtype=np.float64)
            # align the chunk's value vector to its CSR vertex order
            # (vectorized hash lookup; absent vertices contribute 0)
            x = vals.reindex(vids, fill_value=0.0).to_numpy(np.float64)
            deg = np.diff(offsets)
            idx_parts.append(indices)
            con_parts.append(np.repeat(x, deg) * weights)
        indices = np.concatenate(idx_parts)
        contrib = np.concatenate(con_parts)
        # local combine per dst across ALL chunks (factorize → bincount)
        codes, uniq = pd.factorize(indices, sort=False)
        partial = np.bincount(codes, weights=contrib, minlength=len(uniq))
        return pd.DataFrame({"dst": uniq.astype(np.int64), "partial": partial})

    partials = csr.groupby("pid").cogroup(vals.groupby("pid")).applyInPandas(
        _gather, "dst long, partial double"
    )
    return partials.groupBy("dst").agg(F.sum("partial").alias("gathered"))


def pagerank_csr(
    graph: LinkGraph,
    alpha: float = 0.85,
    max_iter: int = 100,
    tol: float = 1e-6,
    num_partitions: int | None = None,
    unrenumber: bool = True,
    max_chunk_edges: int = CSR_CHUNK_EDGES,
) -> DataFrame:
    """PageRank over the per-partition CSR gather — semantics identical to
    :func:`cugraph_spark.operators.pagerank` (init 1/V, pre-divided
    contributions, dangling-mass redistribution, L1 convergence;
    ``pagerank_impl.cuh:238-333``).  Benchmark/parity path: same shuffle
    volumes as the DataFrame superstep, plus an Arrow boundary crossing —
    see module docstring and BENCH.md for the measured comparison.
    """
    n_part = num_partitions or graph.num_partitions
    V = graph.number_of_vertices()

    csr = csr_partitions(graph, n_part, max_chunk_edges=max_chunk_edges).persist()
    csr.count()

    # out-weight sums (degree if unweighted) and the dangling set
    weighted = WGT in graph.edges.columns
    wcol = F.col(WGT) if weighted else F.lit(1.0)
    out_w = graph.edges.groupBy(F.col(SRC).alias(VID)).agg(
        F.sum(wcol).alias("out_w")
    )
    verts = graph.vertices()
    state = (
        verts.join(out_w, VID, "left")
        .select(
            VID,
            F.lit(1.0 / V).alias("rank"),
            F.coalesce(F.col("out_w"), F.lit(0.0)).alias("out_w"),
        )
    )
    # the initial dangling mass; each step's observe folds the next one
    dangling0 = state.filter(F.col("out_w") == 0.0).agg(
        F.coalesce(F.sum("rank"), F.lit(0.0))
    ).collect()[0][0]

    def step(state: DataFrame, report):
        dangling = report.metrics[-1]["dangling"] if report.metrics else dangling0
        contribs = state.filter(F.col("out_w") > 0.0).select(
            VID, (F.col("rank") / F.col("out_w")).alias("value")
        )
        gathered = csr_gather(csr, contribs, n_part)
        const = (dangling * alpha + (1.0 - alpha)) / V
        new_state = (
            state.select(VID, F.col("rank").alias("_old"), "out_w")
            .join(gathered.withColumnRenamed("dst", VID).hint("shuffle_hash"), VID, "left")
            .select(
                VID,
                (F.coalesce(F.col("gathered"), F.lit(0.0)) * alpha + const).alias(
                    "rank"
                ),
                F.col("_old"),
                "out_w",
            )
        )
        return new_state, [
            F.sum(F.abs(F.col("rank") - F.col("_old"))).alias("l1"),
            F.sum(F.when(F.col("out_w") == 0.0, F.col("rank")).otherwise(0.0)).alias(
                "dangling"
            ),
        ]

    state, _ = superstep_loop(
        state,
        step,
        lambda m: m["l1"] < tol,
        lambda df: truncate_state(df, n_part, VID),
        max_iter,
        n_part,
    )

    csr.unpersist()
    out = state.select(F.col(VID).alias("vertex"), F.col("rank").alias("pagerank"))
    if unrenumber:
        out = graph.unrenumber(out, "vertex")
    return out
