"""Benchmark driver: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (the affinity CPU count
when unset).

Prints exactly ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., plus informational extras
   (pagerank edges/sec, iterations-to-1e-6 — the north-rule metric)}

The graph workload is the derived edge table at K=100_000 vertices
(~|lineitem| edges — ~600k at sf0.1) so the bench exercises real shuffle
sizes, not the 1k-vertex correctness graph.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from cugraph_spark.datagen import derived_edges
from cugraph_spark.graph import LinkGraph
from cugraph_spark.operators import (
    label_propagation,
    pagerank,
    triangle_count,
    weakly_connected_components,
)
from cugraph_spark import text as tx
from cugraph_spark import vector as vec
from cugraph_spark.session import _host_cpus, get_spark

BENCH_K = 50_000


def _capacity_probe(cpus: int) -> dict:
    """~6 s pure-CPU host-capacity probe (scaling_bench.probe_capacity):
    the per-process slowdown of a fixed spin at `cpus` concurrent pinned
    processes vs 1. On this sandbox the vCPUs are intermittently backed by
    ~70% capacity and EVERY suite number inflates by exactly the probe's
    ratio (measured 1.44x probe ↔ 66.5 s suite vs 43–47 s full-capacity),
    so the probe result is recorded alongside the timings to separate
    host starvation from software regressions."""
    try:
        sys.path.insert(
            0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "scripts")
        )
        import statistics as st

        from scaling_bench import probe_capacity

        m1 = st.median(probe_capacity(1))

        def _stat():  # aggregate cpu line: user nice sys idle iowait irq sirq steal
            with open("/proc/stat") as f:
                return list(map(int, f.readline().split()[1:9]))

        s0 = _stat()
        mn = st.median(probe_capacity(cpus))
        s1 = _stat()
        d = [b - a for a, b in zip(s0, s1)]
        tot = sum(d) or 1
        # steal% DURING the full-width spin is the unambiguous starvation
        # signal: the 1-vs-N slowdown ratio has a measured ~1.3 floor on
        # this host even when steal is ~2% (the 1-proc leg turbo-boosts /
        # schedules better), so slowdown alone over-reports starvation.
        return {
            "spin_1proc_sec": round(m1, 3),
            "spin_nproc_sec": round(mn, 3),
            "nproc": cpus,
            "slowdown": round(mn / m1, 3),
            "steal_pct_under_full_spin": round(100 * d[7] / tot, 2),
            "idle_pct_under_full_spin": round(100 * d[3] / tot, 2),
        }
    except Exception as e:  # never let the probe break the bench line
        return {"error": str(e)[:120]}


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = _host_cpus()
    sf = float(sf_dir.rstrip("/").split("sf")[-1])
    probe = _capacity_probe(cpus)  # before the JVM exists: nothing to contend

    spark = get_spark(
        "cugraph_spark_bench", master=f"local[{cpus}]", shuffle_partitions=cpus
    )

    # ---- untimed JIT/codegen warmup at sf0.001 ---------------------------
    # One tiny pass through every measured operator so whole-stage-codegen
    # classes are C2-compiled before the clock starts.  The sandbox host
    # punishes cold code paths 5-10x (measured: the identical PageRank loop
    # 68.8 s on first execution, 9.9 s on the second, same JVM), and a
    # steady-state number is the honest analog of a long-running cluster
    # deployment.  Disable with SPARK_GRAFT_WARMUP=0.
    if os.environ.get("SPARK_GRAFT_WARMUP", "1") != "0":
        # sf0.01 (not sf0.001): the warm-up must trigger the SAME physical
        # plan shapes as the measured run — at a few hundred vertices AQE
        # broadcasts what it shuffle-joins at sf0.1, leaving the hot
        # codegen classes cold (measured: triangle_count 70 s cold vs
        # 11.4 s warm on identical data)
        wdir = "/root/testdata/sf0.01"
        wg = LinkGraph.from_edges(
            derived_edges(spark, wdir, num_vertices=5000), directed=True
        )
        pagerank(
            wg, alpha=0.85, max_iter=8, tol=1e-6, unrenumber=False,
            fail_on_nonconvergence=False,
        ).ranks.count()
        weakly_connected_components(wg, unrenumber=False).count()
        label_propagation(wg, max_iter=2, unrenumber=False).count()
        wgu = LinkGraph.from_edges(
            derived_edges(spark, wdir, num_vertices=5000), directed=False
        )
        triangle_count(wgu, unrenumber=False).count()
        wdocs = spark.read.parquet(f"{wdir}/documents.parquet")
        tx.minhash_dedup(wdocs, threshold=0.0).count()
        tx.doc_stats(wdocs).agg(F.avg("quality")).collect()
        tx.simhash(wdocs).count()
        wemb = spark.read.parquet(f"{wdir}/embeddings.parquet")
        vec.cosine_topk(wemb, k=5, num_queries=10).count()
        wgu.unpersist()
        wg.unpersist()

    timings: dict[str, float] = {}
    extras: dict = {}
    t_total0 = time.time()

    # ---- graph build (renumber + dedup + partition) -----------------------
    t0 = time.time()
    g = LinkGraph.from_edges(
        derived_edges(spark, sf_dir, num_vertices=BENCH_K), directed=True
    )
    n_edges = g.number_of_edges()
    n_verts = g.number_of_vertices()
    timings["graph_build"] = round(time.time() - t0, 3)

    # ---- pagerank to 1e-6 (north-rule headline) ---------------------------
    t0 = time.time()
    # fuse="auto" (default): fusion only engages above FUSE_MIN_EDGES —
    # at sf0.1 (~600k edges) the exact single-step path is ~4x faster
    res = pagerank(g, alpha=0.85, max_iter=300, tol=1e-6, unrenumber=False)
    res.ranks.count()
    dt = time.time() - t0
    timings["pagerank"] = round(dt, 3)
    extras["pagerank_iterations_to_1e6"] = res.iterations
    extras["pagerank_edges_per_sec"] = round(n_edges * res.iterations / dt, 1)

    # ---- opt-in: CSR-gather PageRank comparison (SPARK_GRAFT_CSR=1) -------
    # Parity path (csr.py module docstring): same shuffle volumes as the
    # DataFrame superstep plus an Arrow boundary per iteration — this flag
    # keeps that claim carrying a MEASURED number per round.
    if os.environ.get("SPARK_GRAFT_CSR", "0") == "1":
        from cugraph_spark.csr import pagerank_csr

        t0 = time.time()
        pagerank_csr(
            g, alpha=0.85, max_iter=res.iterations, tol=0.0, unrenumber=False
        ).count()
        dt_csr = time.time() - t0
        timings["pagerank_csr"] = round(dt_csr, 3)
        extras["pagerank_csr_sec_per_iter"] = round(dt_csr / res.iterations, 3)
        extras["pagerank_df_sec_per_iter"] = round(dt / res.iterations, 3)

    # ---- wcc --------------------------------------------------------------
    t0 = time.time()
    weakly_connected_components(g, unrenumber=False).agg(
        F.countDistinct("labels")
    ).collect()
    timings["wcc"] = round(time.time() - t0, 3)

    # ---- label propagation ------------------------------------------------
    t0 = time.time()
    label_propagation(g, max_iter=5, unrenumber=False).agg(
        F.countDistinct("label")
    ).collect()
    timings["lpa"] = round(time.time() - t0, 3)

    # ---- triangle count (undirected build included) ----------------------
    t0 = time.time()
    gu = LinkGraph.from_edges(
        derived_edges(spark, sf_dir, num_vertices=BENCH_K), directed=False
    )
    triangle_count(gu, unrenumber=False).agg(F.sum("counts")).collect()
    timings["triangle_count"] = round(time.time() - t0, 3)
    gu.unpersist()
    g.unpersist()

    # ---- text pipeline ----------------------------------------------------
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t0 = time.time()
    tx.minhash_dedup(docs, threshold=0.0).count()
    timings["minhash_near_dup"] = round(time.time() - t0, 3)

    t0 = time.time()
    tx.doc_stats(docs).agg(F.avg("quality")).collect()
    tx.simhash(docs).count()
    timings["text_stats_simhash"] = round(time.time() - t0, 3)

    # ---- vector topk ------------------------------------------------------
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    t0 = time.time()
    vec.cosine_topk(emb, k=5, num_queries=100).count()
    timings["embedding_topk"] = round(time.time() - t0, 3)

    total = round(time.time() - t_total0, 3)
    out = {
        "metric": "headline_suite_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "graph": {"vertices": n_verts, "edges": n_edges, "k": BENCH_K},
        "host_capacity_probe": probe,
        **extras,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
