"""Spectral clustering + clustering-quality scores.

Reference parity: ``community/spectral_clustering.py:30-219``
(``spectralBalancedCutClustering`` / ``spectralModularityMaximization-
Clustering`` → DF[vertex, cluster]) and ``:222-454``
(``analyzeClustering_modularity`` / ``_edge_cut`` / ``_ratio_cut`` →
float).  The CUDA engine runs LOBPCG on the Laplacian / modularity
matrix then k-means on the k-dim embedding (``cpp/src/community/
legacy/spectral_clustering.cu``); a distributed-Spark eigensolver gets
the same structure from ORTHOGONALIZED POWER ITERATION, because one
multiply by the (shifted) operator is exactly the engine's existing
one-shuffle-per-superstep SpMV gather:

- balanced cut: iterate ``M = σI − L`` (σ = 2·d_max + 1 ≥ λ_max(L) by
  Gershgorin), whose top-k eigenvectors are the BOTTOM-k of the
  Laplacian ``L = D − W``;
- modularity maximization: iterate ``M = σI + B`` with
  ``B = W − d·dᵀ/2m`` (σ = d_max + 1); ``B·x`` needs only the gather
  ``W·x`` plus the scalar ``dᵀx`` — the rank-one term never
  materializes.

Per iteration: ONE real shuffle (the edges ⋈ state gather, k summed
columns in a single aggregation), then a k×k Gram matrix collected to
the driver (one cache-scan job) where the new orthonormal basis
coefficients are solved (Cholesky — k ≤ num_clusters, trivially
driver-sized) and applied as a lazy linear combination.  The trivial
constant eigenvector is deflated by mean-centering every column.
k-means runs over the V×k embedding with the centroid table collected
driver-side per round (num_clusters × k scalars — broadcast-sized by
construction), assignment as a codegen'd argmin expression: no UDFs,
no V-row collect anywhere.

Determinism: hash-seeded init and seed selection (same multiplicative
scheme as vector.py's IVF), ties broken by smallest index — identical
output across runs and partitionings.  The per-vertex PARTITION of a
spectral method is seed-dependent by nature, so the driver-facing
oracle queries certify the SCORE helpers (exact integer arithmetic,
single final division — bit-identical in any engine) while the
clustering itself is pinned by pytest on karate.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import (
    DST,
    EXT,
    SRC,
    VID,
    WGT,
    LinkGraph,
    static_plan,
    truncate_state,
)

# same public multiplicative-hash constants as vector.py's IVF seeding
_HA, _HB, _HP = 48611, 102953, 1_000_003


def _sym_weighted(graph: LinkGraph) -> DataFrame:
    """[src, dst, w] — both directions of the undirected weighted view,
    self-loops dropped, parallel edges summed (louvain's canonical frame,
    expanded to both directions for the gather)."""
    w = F.col(WGT) if WGT in graph.edges.columns else F.lit(1.0)
    und = (
        graph.edges.select(
            F.least(SRC, DST).alias("a"), F.greatest(SRC, DST).alias("b"), w.alias("w")
        )
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.sum("w").alias("w"))
    )
    return und.select(F.col("a").alias(SRC), F.col("b").alias(DST), "w").union(
        und.select(F.col("b").alias(SRC), F.col("a").alias(DST), "w")
    )


def _hash_unit(col, j: int):
    """Deterministic pseudo-random in (−0.5, 0.5) from (vertex, j)."""
    h = F.pmod(F.lit(_HA) * (col + F.lit(7919 * (j + 1))) + F.lit(_HB), F.lit(_HP))
    return h / F.lit(float(_HP)) - F.lit(0.5)


def _spectral_embedding(
    graph: LinkGraph,
    k: int,
    variant: str,
    tol: float,
    max_iter: int,
) -> tuple[DataFrame, list[str]]:
    """DF[id, x0..x{k-1}] — orthonormal k-dim spectral embedding."""
    n_part = graph.num_partitions
    spark = graph.spark
    xcols = [f"x{j}" for j in range(k)]

    both = _sym_weighted(graph).repartition(n_part, SRC).persist()
    both.count()
    deg = both.groupBy(F.col(SRC).alias(VID)).agg(F.sum("w").alias("d"))
    base = graph.vertices().join(deg, VID, "left").select(
        VID, F.coalesce(F.col("d"), F.lit(0.0)).alias("d")
    )
    row = base.agg(F.max("d"), F.sum("d")).collect()[0]
    d_max = float(row[0] or 1.0)
    two_m = float(row[1] or 1.0)
    sigma = (2.0 * d_max + 1.0) if variant == "balanced" else (d_max + 1.0)

    state = truncate_state(
        base.select(VID, "d", *[_hash_unit(F.col(VID), j).alias(c) for j, c in enumerate(xcols)]),
        n_part,
        VID,
    )
    prev_ev = None
    with static_plan(spark):
        for _ in range(max_iter):
            if variant == "modularity":
                s_row = state.agg(
                    *[F.sum(F.col("d") * F.col(c)) for c in xcols]
                ).collect()[0]
                s = [float(v or 0.0) for v in s_row]
            gathered = (
                both.join(
                    state.select(F.col(VID).alias(SRC), *xcols).hint("shuffle_hash"),
                    SRC,
                )
                .groupBy(F.col(DST).alias(VID))
                .agg(*[F.sum(F.col(c) * F.col("w")).alias("g" + c) for c in xcols])
            )
            if variant == "balanced":
                # M x = (σ − d)·x + W x
                zs = [
                    (
                        (F.lit(sigma) - F.col("d")) * F.col(c)
                        + F.coalesce(F.col("g" + c), F.lit(0.0))
                    ).alias(c)
                    for c in xcols
                ]
            else:
                # M x = σ·x + W x − d·(dᵀx)/2m
                zs = [
                    (
                        F.lit(sigma) * F.col(c)
                        + F.coalesce(F.col("g" + c), F.lit(0.0))
                        - F.col("d") * F.lit(s[j] / two_m)
                    ).alias(c)
                    for j, c in enumerate(xcols)
                ]
            new = truncate_state(
                state.join(gathered, VID, "left").select(VID, "d", *zs), n_part, VID
            )
            state.unpersist()
            # Gram + sums in one cache-scan job; basis solve driver-side
            aggs = [F.count("*")] + [F.sum(c) for c in xcols]
            for i in range(k):
                for j in range(i, k):
                    aggs.append(F.sum(F.col(xcols[i]) * F.col(xcols[j])))
            stat = new.agg(*aggs).collect()[0]
            n = float(stat[0])
            mu = np.array([float(v or 0.0) for v in stat[1 : 1 + k]]) / n
            G = np.zeros((k, k))
            pos = 1 + k
            for i in range(k):
                for j in range(i, k):
                    G[i, j] = G[j, i] = float(stat[pos] or 0.0)
                    pos += 1
            Gc = G - n * np.outer(mu, mu)  # deflate the constant eigenvector
            ev = np.sqrt(np.maximum(np.diag(Gc), 0.0) / n)
            ridge = 1e-12 * max(np.trace(Gc), 1.0)
            R = np.linalg.cholesky(Gc + ridge * np.eye(k)).T  # Gc = RᵀR
            C = np.linalg.inv(R) * np.sqrt(n)  # columns → unit RMS norm
            state = new.select(
                VID,
                "d",
                *[
                    sum(
                        ((F.col(xcols[i]) - F.lit(mu[i])) * F.lit(C[i, j]))
                        for i in range(k)
                    ).alias(xcols[j])
                    for j in range(k)
                ],
            )
            if prev_ev is not None and np.all(
                np.abs(ev - prev_ev) <= tol * np.maximum(ev, 1.0)
            ):
                break
            prev_ev = ev
    both.unpersist()
    return state.select(VID, *xcols), xcols


def _kmeans_assign(
    emb: DataFrame, xcols: list[str], n_clusters: int, tol: float, max_iter: int
) -> DataFrame:
    """DF[id, cluster] — driver-centroid Lloyd k-means over the embedding;
    hash-order seeding, argmin assignment as a codegen expression."""
    k = len(xcols)
    # deterministic farthest-point seeding (k-means++ without randomness):
    # seed 0 = max-norm point, each next seed maximizes its min distance to
    # the chosen set; ties broken by smallest vertex id.  Each pick is one
    # TakeOrdered job over the (cached) embedding — n_clusters tiny jobs.
    first = emb.orderBy(
        F.desc(sum(F.col(c) ** 2 for c in xcols)), F.asc(VID)
    ).limit(1).collect()[0]
    cents_l = [[float(first[c]) for c in xcols]]
    for _ in range(1, n_clusters):
        mind = F.least(
            *[
                sum((F.col(xcols[j]) - F.lit(s[j])) ** 2 for j in range(k))
                for s in cents_l
            ]
        ) if len(cents_l) > 1 else sum(
            (F.col(xcols[j]) - F.lit(cents_l[0][j])) ** 2 for j in range(k)
        )
        r = emb.orderBy(F.desc(mind), F.asc(VID)).limit(1).collect()[0]
        cents_l.append([float(r[c]) for c in xcols])
    cents = np.array(cents_l)

    def assign(cents: np.ndarray):
        structs = []
        for c in range(len(cents)):
            dist = sum(
                (F.col(xcols[j]) - F.lit(float(cents[c, j]))) ** 2 for j in range(k)
            )
            structs.append(F.struct(dist.alias("d"), F.lit(c).alias("c")))
        # lexicographic struct min = (min distance, tie → smallest cluster)
        return emb.select(
            VID, *xcols, F.array_min(F.array(*structs)).getField("c").alias("cluster")
        )

    for _ in range(max_iter):
        a = assign(cents)
        rows = (
            a.groupBy("cluster")
            .agg(F.count("*").alias("n"), *[F.avg(c).alias(c) for c in xcols])
            .collect()
        )
        new_c = cents.copy()  # empty clusters keep their centroid
        for r in rows:
            new_c[r["cluster"]] = [float(r[c]) for c in xcols]
        shift = float(np.max(np.linalg.norm(new_c - cents, axis=1)))
        cents = new_c
        if shift <= tol:
            break
    return assign(cents).select(VID, "cluster")


def _spectral_cluster(
    graph: LinkGraph,
    num_clusters: int,
    num_eigen_vects: int,
    evs_tolerance: float,
    evs_max_iter: int,
    kmean_tolerance: float,
    kmean_max_iter: int,
    variant: str,
    unrenumber: bool,
) -> DataFrame:
    if num_clusters < 2:
        raise ValueError("num_clusters must be > 1")
    if num_eigen_vects > num_clusters:
        raise ValueError("num_eigen_vects must be <= num_clusters")
    emb, xcols = _spectral_embedding(
        graph, num_eigen_vects, variant, evs_tolerance, evs_max_iter
    )
    out = _kmeans_assign(emb, xcols, num_clusters, kmean_tolerance, kmean_max_iter)
    out = out.select(F.col(VID).alias("vertex"), F.col("cluster").cast("int"))
    if unrenumber:
        out = graph.unrenumber(out, "vertex")
    return out


def spectral_balanced_cut_clustering(
    graph: LinkGraph,
    num_clusters: int,
    num_eigen_vects: int = 2,
    evs_tolerance: float = 1e-5,
    evs_max_iter: int = 100,
    kmean_tolerance: float = 1e-5,
    kmean_max_iter: int = 100,
    unrenumber: bool = True,
) -> DataFrame:
    """DF[vertex, cluster] — reference
    ``spectralBalancedCutClustering`` (spectral_clustering.py:30-124):
    bottom-``num_eigen_vects`` Laplacian eigenvectors + k-means."""
    return _spectral_cluster(
        graph, num_clusters, num_eigen_vects, evs_tolerance, evs_max_iter,
        kmean_tolerance, kmean_max_iter, "balanced", unrenumber,
    )


def spectral_modularity_maximization_clustering(
    graph: LinkGraph,
    num_clusters: int,
    num_eigen_vects: int = 2,
    evs_tolerance: float = 1e-5,
    evs_max_iter: int = 100,
    kmean_tolerance: float = 1e-5,
    kmean_max_iter: int = 100,
    unrenumber: bool = True,
) -> DataFrame:
    """DF[vertex, cluster] — reference
    ``spectralModularityMaximizationClustering``
    (spectral_clustering.py:127-219): top eigenvectors of the modularity
    matrix ``B = W − d·dᵀ/2m`` + k-means."""
    return _spectral_cluster(
        graph, num_clusters, num_eigen_vects, evs_tolerance, evs_max_iter,
        kmean_tolerance, kmean_max_iter, "modularity", unrenumber,
    )


# ------------------------------------------------------------- score helpers


def _clustering_internal(
    graph: LinkGraph, clustering: DataFrame, vertex_col: str, cluster_col: str
) -> DataFrame:
    """[v (internal), c] from an external-id clustering frame."""
    c = clustering.select(
        F.col(vertex_col).alias("_ext_v"), F.col(cluster_col).alias("c")
    )
    if graph.renumber_map is None:
        return c.withColumnRenamed("_ext_v", "v")
    m = graph.renumber_map.select(F.col(EXT).alias("_ext_v"), F.col(VID).alias("v"))
    m = F.broadcast(m) if graph._map_small() else m
    return c.join(m, "_ext_v").select("v", "c")


def clustering_score_frame(
    graph: LinkGraph,
    clustering: DataFrame,
    vertex_col_name: str = "vertex",
    cluster_col_name: str = "cluster",
) -> DataFrame:
    """Per-cluster quality stats — the shared basis of all three
    ``analyzeClustering_*`` scores, and the driver-oracle surface (every
    column is an exact integer sum or ONE final division, so any engine
    reproduces it bit-identically on integer-weighted graphs):

    [cluster, n_vertices, internal_2w (both-direction in-cluster weight,
    +2w per self-loop), cut_w (weight leaving the cluster; each cut edge
    counted once per side), ratio_cut_term = cut_w / n_vertices]
    """
    cl = _clustering_internal(graph, clustering, vertex_col_name, cluster_col_name)
    w = F.col(WGT) if WGT in graph.edges.columns else F.lit(1.0)
    und = (
        graph.edges.select(
            F.least(SRC, DST).alias("a"), F.greatest(SRC, DST).alias("b"), w.alias("w")
        )
        .groupBy("a", "b")
        .agg(F.sum("w").alias("w"))
    )
    ca = cl.select(F.col("v").alias("a"), F.col("c").alias("ca"))
    cb = cl.select(F.col("v").alias("b"), F.col("c").alias("cb"))
    tagged = und.join(ca, "a").join(cb, "b")
    # explode to per-side rows: loops contribute 2w internal on their side
    sides = tagged.select(
        F.col("ca").alias("cluster"),
        F.col("cb").alias("other"),
        F.when(F.col("a") == F.col("b"), 2 * F.col("w")).otherwise(F.col("w")).alias("w"),
    ).union(
        tagged.filter(F.col("a") != F.col("b")).select(
            F.col("cb").alias("cluster"), F.col("ca").alias("other"), F.col("w")
        )
    )
    stats = sides.groupBy("cluster").agg(
        F.sum(F.when(F.col("cluster") == F.col("other"), F.col("w")).otherwise(0.0)).alias("internal_2w"),
        F.sum(F.when(F.col("cluster") != F.col("other"), F.col("w")).otherwise(0.0)).alias("cut_w"),
    )
    sizes = cl.groupBy(F.col("c").alias("cluster")).agg(F.count("*").alias("n_vertices"))
    return sizes.join(stats, "cluster", "left").select(
        "cluster",
        "n_vertices",
        F.coalesce("internal_2w", F.lit(0.0)).alias("internal_2w"),
        F.coalesce("cut_w", F.lit(0.0)).alias("cut_w"),
        (F.coalesce("cut_w", F.lit(0.0)) / F.col("n_vertices")).alias("ratio_cut_term"),
    )


def analyze_clustering_modularity(
    graph: LinkGraph,
    n_clusters: int,
    clustering: DataFrame,
    vertex_col_name: str = "vertex",
    cluster_col_name: str = "cluster",
) -> float:
    """Newman modularity Q = Σ_c [in_c/2m − (vol_c/2m)²] — reference
    ``analyzeClustering_modularity`` (spectral_clustering.py:222-302).
    Computed as ONE division of exact sums: (Σin_c·2m − Σvol_c²)/(2m)²."""
    rows = clustering_score_frame(
        graph, clustering, vertex_col_name, cluster_col_name
    ).collect()
    two_m = sum(r["internal_2w"] + r["cut_w"] for r in rows)
    if two_m == 0:
        return 0.0
    num = sum(r["internal_2w"] for r in rows) * two_m - sum(
        (r["internal_2w"] + r["cut_w"]) ** 2 for r in rows
    )
    return float(num / (two_m * two_m))


def analyze_clustering_edge_cut(
    graph: LinkGraph,
    n_clusters: int,
    clustering: DataFrame,
    vertex_col_name: str = "vertex",
    cluster_col_name: str = "cluster",
) -> float:
    """Total SYMMETRIZED weight of edges crossing clusters (sum over all
    symmetric-adjacency entries (i, j) with differing clusters — the
    convention of a both-direction CSR kernel) — reference
    ``analyzeClustering_edge_cut`` (spectral_clustering.py:304-385)."""
    rows = clustering_score_frame(
        graph, clustering, vertex_col_name, cluster_col_name
    ).collect()
    return float(sum(r["cut_w"] for r in rows) / 2.0)


def analyze_clustering_ratio_cut(
    graph: LinkGraph,
    n_clusters: int,
    clustering: DataFrame,
    vertex_col_name: str = "vertex",
    cluster_col_name: str = "cluster",
) -> float:
    """Σ_c cut(c)/|c| with cut(c) = symmetrized weight incident to c from
    outside (same both-direction convention as the edge-cut score) —
    reference ``analyzeClustering_ratio_cut``
    (spectral_clustering.py:387-454)."""
    rows = clustering_score_frame(
        graph, clustering, vertex_col_name, cluster_col_name
    ).collect()
    return float(sum(r["ratio_cut_term"] for r in rows))
