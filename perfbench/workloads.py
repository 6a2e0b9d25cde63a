"""The benchmark's workloads: seeded inputs, one timed pass, output checks.

- ``crawl-pipeline``: Common-Crawl-style pages over a uniform R-MAT
  (a=b=c=0.25) -> ``ingest.pages_to_edges`` -> ``LinkGraph.from_edges`` on
  url strings -> ``pagerank(tol=1e-6)`` with a ``CheckpointManager`` ->
  ``[url, pagerank]`` written as parquet.
- ``rmat-graph500``: a Graph500 (skewed) R-MAT on int ids -> undirected
  build (symmetrize), as Graph500 defines its graph -> ``pagerank(tol=1e-6)``,
  ``weakly_connected_components``, ``label_propagation(max_iter=5)`` and
  ``triangle_count`` on that one graph.

Inputs are generated once per seed by ``datagen.rmat_edges``, collected to
the driver (the checks' copy), and handed to the engine as a materialized
DataFrame, so generation never lands inside a timed pass.
"""

from __future__ import annotations

import importlib
import os
import shutil
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import functions as F

import checks
from proc import tree_cpu_s
from cugraph_spark.checkpoint import CheckpointManager
from cugraph_spark.datagen import pages_from_edges, rmat_edges
from cugraph_spark.graph import LinkGraph
from cugraph_spark.ingest import pages_to_edges
from cugraph_spark.operators import (
    label_propagation,
    pagerank,
    triangle_count,
    weakly_connected_components,
)

SCALE = 12  # R-MAT scale of both workloads: 65,536 generated edges
EDGE_FACTOR = 16  # Graph500 edges per vertex
WARMUP_SCALE = 6
UNIFORM = (0.25, 0.25, 0.25)
LPA_ITERS = 5


@dataclass
class Inputs:
    ref: checks.RefGraph
    edges: object  # materialized Spark DataFrame [src, dst]
    pages: object | None  # materialized pages table (crawl only)
    record: dict = field(default_factory=dict)

    def release(self) -> None:
        for df in (self.edges, self.pages):
            if df is not None:
                df.unpersist()


def make_inputs(spark, uniform: bool, seed: int, scale: int) -> Inputs:
    abc = UNIFORM if uniform else ()
    pdf = rmat_edges(spark, scale, EDGE_FACTOR << scale, *abc, seed=seed).toPandas()
    src, dst = pdf["src"].to_numpy(), pdf["dst"].to_numpy()
    edges = spark.createDataFrame(pdf).persist()
    edges.count()
    ref = checks.RefGraph(src, dst, undirected=not uniform)  # links are directed, Graph500 is not
    record = {
        "scale": scale,
        "edges": int(len(src)),
        "vertices": ref.num_vertices,
        "sha256_16": checks.content_hash(src, dst),
    }
    pages = None
    if uniform:
        pages = pages_from_edges(spark, edges).persist()
        row = pages.agg(F.count("*").alias("n"), F.sum(F.length("html")).alias("b")).first()
        record["pages"] = int(row["n"])
        record["html_mb"] = int(row["b"]) / (1024.0 * 1024.0)
    return Inputs(ref, edges, pages, record)


@dataclass
class PassResult:
    phases: dict = field(default_factory=dict)  # phase -> wall seconds
    cpu: dict = field(default_factory=dict)  # phase -> CPU seconds (proc.tree_cpu_s)
    total_s: float = 0.0
    cpu_s: float = 0.0
    counts: dict = field(default_factory=dict)  # ops, edges_kept, pagerank_iters, ...
    outputs: dict = field(default_factory=dict)  # engine results for the checks
    held: list = field(default_factory=list)  # cached engine objects to release


class _Pass:
    def __init__(self, tracer, result: PassResult):
        self.tracer = tracer
        self.r = result

    @contextmanager
    def phase(self, span: str, adds_to: tuple, **attrs):
        """One engine call: a span, one attempted operation, and its wall
        and CPU seconds added to each phase in ``adds_to``."""
        self.r.counts["ops"] = self.r.counts.get("ops", 0) + 1
        cpu0 = tree_cpu_s()
        with self.tracer.span(span, **attrs) as s:
            yield
        cpu = tree_cpu_s() - cpu0
        for key in adds_to:
            self.r.phases[key] = self.r.phases.get(key, 0.0) + s.seconds
            self.r.cpu[key] = self.r.cpu.get(key, 0.0) + cpu

    def hold(self, obj):
        self.r.held.append(obj)
        return obj

    @contextmanager
    def pagerank_supersteps(self):
        """CPU seconds per PageRank superstep: ``tree_cpu_s`` after each
        ``truncate_state`` the PageRank module calls -- one per superstep
        (it fuses none below 20M edges), after those before its loop."""
        mod = importlib.import_module("cugraph_spark.operators.pagerank")
        orig, marks = mod.truncate_state, []

        def metered(*args, **kwargs):
            out = orig(*args, **kwargs)
            marks.append(tree_cpu_s())
            return out

        mod.truncate_state = metered
        try:
            yield
        finally:
            mod.truncate_state = orig
        self.r.counts["pagerank_marks"] = marks

    def pagerank_done(self, res) -> None:
        self.hold(res)
        self.r.counts["pagerank_iters"] = res.iterations
        self.r.counts["pagerank_iter_secs"] = res.iter_secs
        marks = self.r.counts.pop("pagerank_marks")[-(res.iterations + 1):]
        per = res.iterations / max(len(marks) - 1, 1)  # supersteps per materialization
        self.r.counts["pagerank_iter_cpu_s"] = [(b - a) / per for a, b in zip(marks, marks[1:])]


def _crawl(p: _Pass, inp: Inputs, workdir: str, idx: int, warm: bool) -> None:
    with p.phase("ingest", ("ingest", "build")):
        url_edges = p.hold(pages_to_edges(inp.pages).persist())
        p.r.counts["ingest_edges"] = url_edges.count()
    with p.phase("graph.build", ("build",), keys="url"):
        g = p.hold(LinkGraph.from_edges(url_edges, directed=True))
    p.r.counts["edges_kept"] = g.number_of_edges()
    ck = CheckpointManager(os.path.join(workdir, "ckpt"), f"pass{idx}")
    out_path = os.path.join(workdir, f"ranks-pass{idx}.parquet")
    caps = dict(max_iter=1, fail_on_nonconvergence=False) if warm else {}
    with p.phase("operators.pagerank", ("pagerank",)), p.pagerank_supersteps():
        res = pagerank(g, tol=checks.PR_TOL, checkpointer=ck, **caps)
        res.ranks.select(F.col("vertex").alias("url"), "pagerank").write.parquet(out_path)
    p.pagerank_done(res)
    p.r.outputs["ranks_path"] = out_path


def _rmat(p: _Pass, inp: Inputs, workdir: str, idx: int, warm: bool) -> None:
    with p.phase("graph.build", ("build",), keys="int", symmetrize=True):
        g = p.hold(LinkGraph.from_edges(inp.edges, directed=False))
    p.r.counts["edges_kept"] = g.number_of_edges()
    caps = dict(max_iter=1, fail_on_nonconvergence=False) if warm else {}
    with p.phase("operators.pagerank", ("pagerank",)), p.pagerank_supersteps():
        res = pagerank(g, tol=checks.PR_TOL, **caps)
        p.r.outputs["pagerank"] = res.ranks.toPandas()
    p.pagerank_done(res)
    with p.phase("operators.wcc", ("wcc",)):
        p.r.outputs["wcc"] = weakly_connected_components(g, **({"max_iter": 1} if warm else {})).toPandas()
    with p.phase("operators.lpa", ("lpa",)):
        p.r.outputs["lpa"] = label_propagation(g, max_iter=1 if warm else LPA_ITERS).toPandas()
    with p.phase("operators.triangles", ("triangles",)):
        p.r.outputs["triangles"] = triangle_count(g).toPandas()


def _check_crawl(t: checks.Tally, inp: Inputs, passes: list) -> None:
    g = inp.ref
    pr = g.pagerank()
    for i, r in enumerate(passes):
        n_in, n_out = inp.record["edges"], r.counts["ingest_edges"]
        t.check(f"pass{i}.ingest_edges", n_out == n_in, f"{n_out} hrefs for {n_in} generated edges")
        t.check(f"pass{i}.edges_kept", r.counts["edges_kept"] == g.num_edges,
                f"{r.counts['edges_kept']} edges built, {g.num_edges} distinct")
        ranks = pd.read_parquet(r.outputs["ranks_path"])
        checks.check_url_pagerank(t, f"pass{i}.pagerank", g, pr, ranks["url"], ranks["pagerank"])


def _check_rmat(t: checks.Tally, inp: Inputs, passes: list) -> None:
    g = inp.ref
    pr, wcc, tri = g.pagerank(), g.wcc_labels(), g.triangle_counts()
    prev_lpa = None
    for i, r in enumerate(passes):
        out = r.outputs
        t.check(f"pass{i}.edges_kept", r.counts["edges_kept"] == g.num_edges,
                f"{r.counts['edges_kept']} edges built, {g.num_edges} distinct")
        checks.check_pagerank(t, f"pass{i}.pagerank", g, pr, out["pagerank"]["vertex"], out["pagerank"]["pagerank"])
        checks.check_partition(t, f"pass{i}.wcc", g, wcc, out["wcc"]["vertex"], out["wcc"]["labels"])
        lpa = out["lpa"].sort_values("vertex")
        checks.check_lpa(t, f"pass{i}.lpa", g, wcc, lpa["vertex"], lpa["label"])
        if prev_lpa is not None:  # synchronous LPA is deterministic
            t.check(f"pass{i}.lpa_repeat", lpa["label"].tolist() == prev_lpa, "labels differ from the previous pass")
        prev_lpa = lpa["label"].tolist()
        checks.check_counts(t, f"pass{i}.triangles", g, tri, out["triangles"]["vertex"], out["triangles"]["counts"])


@dataclass(frozen=True)
class Workload:
    name: str
    uniform: bool  # uniform R-MAT (crawl pages) or Graph500-skewed
    body: object
    check: object
    # timed passes an untraced run makes at least: two of the ~15 s crawl
    # pass, whose median halves its run-to-run spread, and one ~25 s rmat
    # pass, so that every run of either ends within about a minute
    min_passes: int

    def inputs(self, spark, seed: int, scale: int | None = None) -> Inputs:
        return make_inputs(spark, self.uniform, seed, SCALE if scale is None else scale)

    def run_pass(self, inp: Inputs, tracer, workdir: str, idx: int, warm: bool = False) -> PassResult:
        """One pass; ``warm=True`` caps every loop at one superstep."""
        r = PassResult()
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        with tracer.span("pass", workload=self.name, idx=idx):
            self.body(_Pass(tracer, r), inp, workdir, idx, warm)
        r.total_s, r.cpu_s = time.perf_counter() - t0, tree_cpu_s() - cpu0
        for obj in r.held:
            obj.unpersist()
        r.held.clear()
        shutil.rmtree(os.path.join(workdir, "ckpt"), ignore_errors=True)
        return r

    def warm_up(self, spark, tracer, workdir: str) -> None:
        """The workload's code paths on a tiny fixed graph, so the JIT and
        the Python workers are warm before the timed passes."""
        inp = self.inputs(spark, seed=0, scale=WARMUP_SCALE)
        try:
            self.run_pass(inp, tracer, workdir, idx=-1, warm=True)
        finally:
            inp.release()


WORKLOADS = {
    w.name: w
    for w in (
        Workload("crawl-pipeline", True, _crawl, _check_crawl, min_passes=2),
        Workload("rmat-graph500", False, _rmat, _check_rmat, min_passes=1),
    )
}


def edges_per_cpu_s(result: PassResult) -> float:
    """PageRank work per cost: edges / the median superstep's CPU seconds.
    Per superstep, so the fixed cost around the loop does not make a seed
    that needs more supersteps read faster."""
    c = result.counts
    return c["edges_kept"] / statistics.median(c["pagerank_iter_cpu_s"])
