"""Scaling-efficiency evidence for the north rule (N → 4N cores).

No real cluster exists in this sandbox, so per the driver instruction we
run the SAME PageRank job at two parallelism levels — local[8] and
local[32] (1× vs 4× cores) — on the SAME input, and report throughput at
both plus scaling efficiency.  Each timed run is a fresh subprocess (a
JVM's master can't change in-process).

Noise discipline: this sandbox shows multi-second ambient variance
(co-tenant load, GC), so the two legs are INTERLEAVED (lo, hi, lo, hi, …)
rather than run back-to-back — slow ambient drift then hits both legs
equally — and the per-leg statistic is the median of per-iteration wall
times pooled across repeats (``PageRankResult.iter_secs``), after
dropping each run's first two warm-up iterations.

The input is the reference's own benchmark workload: R-MAT with Graph500
parameters (``benchmarks/cugraph/pytest-based/bench_algos.py:66-75``) at
``--scale`` (default 21, edgefactor 16).  The edge table is GENERATED
ONCE to parquet and every leg reads the identical file.  The graph build
(renumber + dedup) is also done ONCE and its canonical internal edge
table written to parquet — a production deployment builds once and
iterates many times, so the scaling metric is the per-superstep
throughput; each leg re-partitions the prebuilt edges to its own core
count (partitioning discipline is exactly what is under test).  PageRank
runs a fixed iteration count (tol=0) so every leg does identical work.

Usage: python scripts/scaling_bench.py [sf_dir] [scale] [n_cores] [4n_cores] [repeats]
Appends a markdown section to BENCH.md and prints the JSON result.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

GEN = r"""
import sys
sys.path.insert(0, {repo!r})
from cugraph_spark.session import get_spark
from cugraph_spark.datagen import rmat_edges
from cugraph_spark.graph import LinkGraph
scale = int(sys.argv[1]); path = sys.argv[2]; built = sys.argv[3]
spark = get_spark("rmat_gen", master="local[32]", shuffle_partitions=64,
                  extra_conf={{"spark.ui.showConsoleProgress": "false"}})
rmat_edges(spark, scale=scale, num_edges=16 * (1 << scale), seed=42) \
    .write.mode("overwrite").parquet(path)
g = LinkGraph.from_edges(spark.read.parquet(path), directed=True)
g.edges.write.mode("overwrite").parquet(built)
print("GENERATED")
spark.stop()
"""

RUNNER = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
from cugraph_spark.session import get_spark
from cugraph_spark.graph import LinkGraph
from cugraph_spark.operators import pagerank

cores = int(sys.argv[1]); built = sys.argv[2]; iters = int(sys.argv[3])
heap_gb = int(sys.argv[4])
# shuffle partitions = cores on both legs (1 task/slot/stage): measured
# 4x-cores partitions cost the 32-core leg ~2x per superstep (scheduling +
# AQE re-planning overhead at ~100 ms tasks dwarfs any skew-dilution gain —
# AQE's skew-join splitting already handles the R-MAT hubs).  AQE itself is
# managed by the ENGINE: every superstep loop runs with it off (static_plan)
# — AQE's post-shuffle coalescing folds the gather below the slot count,
# idling cores on exactly the big leg (measured at scale 23: 6.67 -> 3.78
# s/iter on local[32] with it off).
# -Xms == -Xmx: heap-growth pauses otherwise land as multi-second superstep
# outliers.  AllocateHeapAt=/dev/shm backs the heap with shmem pages: this
# sandbox's hypervisor provisions anonymous pages at ~30 MB/s first-touch
# but shmem pages at ~1 GB/s, so a shm-backed heap turns minutes of silent
# fault stalls into seconds (on a real cluster the flag is simply dropped).
spark = get_spark("scaling_bench", master=f"local[{{cores}}]",
                  shuffle_partitions=cores,
                  extra_conf={{"spark.ui.showConsoleProgress": "false",
                              "spark.driver.memory": f"{{heap_gb}}g",
                              "spark.driver.extraJavaOptions":
                                  f"-XX:+UseParallelGC -Xms{{heap_gb}}g "
                                  f"-XX:AllocateHeapAt=/dev/shm"}})
t0 = time.time()
g = LinkGraph.from_edges(spark.read.parquet(built), directed=True,
                         renumber=False, dedup=False)
E = g.number_of_edges()
load_s = time.time() - t0
# untimed JIT/codegen warmup (this host penalizes cold code paths 5-10x;
# both legs warm identically so the ratio is unaffected either way)
pagerank(g, alpha=0.85, max_iter=4, tol=0.0, unrenumber=False,
         fail_on_nonconvergence=False, fuse=4).ranks.count()
res = pagerank(g, alpha=0.85, max_iter=iters, tol=0.0, unrenumber=False,
               fail_on_nonconvergence=False, fuse=4)
res.ranks.count()
print("RESULT " + json.dumps({{
    "cores": cores, "edges": E, "load_sec": round(load_s, 2),
    "iter_secs": [round(t, 3) for t in res.iter_secs],
}}))
spark.stop()
"""


PROBE = r"""
import json, multiprocessing as mp, sys, time
def _spin(_):
    t0 = time.time(); x = 0
    for i in range(30_000_000):
        x += i * i
    return time.time() - t0
if __name__ == "__main__":
    n = int(sys.argv[1])
    with mp.Pool(n) as p:
        times = p.map(_spin, range(n))
    print("PROBE " + json.dumps(sorted(round(t, 3) for t in times)))
"""


def probe_capacity(n: int) -> list[float]:
    """Median per-process wall time of a FIXED pure-python spin when `n`
    processes run it concurrently, pinned to cores 0..n-1 (exactly like a
    leg).  On a full-capacity host per-proc time is flat in `n`; on an
    overcommitted hypervisor it grows — the ratio lo/hi is the pure-CPU
    scaling CEILING no software can beat that day."""
    out = _sub(PROBE, str(n), pin_cores=n)
    for line in out.splitlines():
        if line.startswith("PROBE "):
            return json.loads(line[len("PROBE "):])
    raise RuntimeError(f"probe failed (n={n}):\n{out[-1000:]}")


def _sub(code: str, *args: str, pin_cores: int | None = None) -> str:
    cmd = [sys.executable, "-c", code] + list(args)
    if pin_cores:
        # Pin the whole process tree (JVM + python workers) to exactly
        # `pin_cores` physical CPUs.  Without this, the "8-core" leg's GC /
        # JIT / netty / shuffle-IO threads silently use all 32 host CPUs
        # and local[8] only bounds *task slots* — the pinned run is the
        # honest analog of an N-executor cluster.
        cmd = ["taskset", "-c", f"0-{pin_cores - 1}"] + cmd
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=3600)
    return out.stdout + "\n<<stderr>>\n" + out.stderr


def run_leg(cores: int, built: str, iters: int, heap_gb: int) -> dict:
    out = _sub(RUNNER.format(repo=REPO), str(cores), built, str(iters),
               str(heap_gb), pin_cores=cores)
    for line in out.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"run failed (cores={cores}):\n{out[-3000:]}")


def main():
    scale = int(sys.argv[2]) if len(sys.argv) > 2 else 21
    n_lo = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    n_hi = int(sys.argv[4]) if len(sys.argv) > 4 else 32
    repeats = int(sys.argv[5]) if len(sys.argv) > 5 else 3
    iters = 12  # 3 full fuse=4 blocks
    warmup = 4  # drop the first block (cache-fill; JIT warmed separately)
    path = os.path.join(tempfile.gettempdir(), f"rmat_s{scale}.parquet")
    built = os.path.join(tempfile.gettempdir(), f"rmat_s{scale}_built.parquet")
    if not (os.path.exists(path) and os.path.exists(built)):
        out = _sub(GEN.format(repo=REPO), str(scale), path, built)
        if "GENERATED" not in out:
            raise RuntimeError(f"generation failed:\n{out[-3000:]}")

    samples = {n_lo: [], n_hi: []}
    loads = {n_lo: [], n_hi: []}
    probes = {n_lo: [], n_hi: []}
    edges = None
    runs = []
    # total heap scales with "cluster size": N executors hold 1/4 the
    # aggregate memory of 4N executors, so the lo leg gets cores-proportional
    # heap (1 GiB/core, the per-executor figure a real deployment would fix)
    heap = {n_lo: max(4, n_lo), n_hi: max(4, n_hi)}
    for _ in range(repeats):
        for cores in (n_lo, n_hi):  # interleaved: ambient drift hits both
            # pure-CPU capacity probe right before the leg: on a shared
            # hypervisor the N vCPUs may be backed by < N cores' worth of
            # capacity at this instant, which caps the best POSSIBLE
            # scaling efficiency regardless of software quality
            probes[cores].append(statistics.median(probe_capacity(cores)))
            r = run_leg(cores, built, iters, heap[cores])
            edges = r["edges"]
            samples[cores].extend(r["iter_secs"][warmup:])
            loads[cores].append(r["load_sec"])
            runs.append({"cores": cores, "iter_secs": r["iter_secs"]})

    med = {c: statistics.median(samples[c]) for c in samples}
    eps = {c: edges / med[c] for c in samples}
    eff = (eps[n_hi] / eps[n_lo]) / (n_hi / n_lo)
    result = {
        "scale": scale,
        "edges": edges,
        "iters_per_run": iters,
        "repeats": repeats,
        "n_cores": {"cores": n_lo, "median_sec_per_iter": round(med[n_lo], 3),
                     "edges_per_sec": round(eps[n_lo], 1),
                     "samples": sorted(round(s, 2) for s in samples[n_lo])},
        "4n_cores": {"cores": n_hi, "median_sec_per_iter": round(med[n_hi], 3),
                      "edges_per_sec": round(eps[n_hi], 1),
                      "samples": sorted(round(s, 2) for s in samples[n_hi])},
        "scaling_efficiency": round(eff, 3),
    }
    # pure-CPU ceiling: per-proc spin time ratio lo/hi (=1 on a
    # full-capacity host; <1 when the hypervisor backs n_hi vCPUs with
    # less than n_hi cores' worth of capacity). normalized = measured
    # PageRank efficiency relative to what ANY software could reach.
    probe_lo = statistics.median(probes[n_lo])
    probe_hi = statistics.median(probes[n_hi])
    ceiling = probe_lo / probe_hi
    result["cpu_probe"] = {
        "sec_per_unit_lo": round(probe_lo, 3),
        "sec_per_unit_hi": round(probe_hi, 3),
        "pure_cpu_scaling_ceiling": round(ceiling, 3),
        "normalized_efficiency": round(eff / ceiling, 3),
    }
    print(json.dumps(result))

    md = f"""
## Scaling evidence (N → 4N cores, sandbox analog of N → 4N executors)

Same PageRank job — R-MAT scale {scale}, edgefactor 16 (Graph500 params
a/b/c = 0.57/0.19/0.19, the reference's own benchmark workload), generated
and graph-built ONCE to parquet (build amortizes across the many analytic
runs of a deployment; each leg re-partitions to its own core count).
Legs are INTERLEAVED ({n_lo}, {n_hi}) × {repeats} fresh JVMs so ambient
sandbox noise hits both equally; each leg is `taskset`-pinned to exactly its
core count (local[{n_lo}] bounds only task slots — unpinned, the JVM's
GC/JIT/shuffle-IO threads would still use all {n_hi} host CPUs, silently
inflating the low leg) with heap ∝ cores ({heap[n_lo]}g / {heap[n_hi]}g —
an N-executor cluster holds 1/4 the aggregate memory of 4N), Xms=Xmx, and
shuffle partitions = cores on both (1 task/slot/stage);
per-leg statistic = median per-iteration wall time pooled over {repeats}
runs × {iters - warmup} post-warm-up supersteps:

| cores | edges | median sec/iter | edges/sec | pooled iteration samples (sorted, sec) |
|---|---|---|---|---|
| {n_lo} (N) | {edges} | {result['n_cores']['median_sec_per_iter']} | {result['n_cores']['edges_per_sec']} | {result['n_cores']['samples']} |
| {n_hi} (4N) | {edges} | {result['4n_cores']['median_sec_per_iter']} | {result['4n_cores']['edges_per_sec']} | {result['4n_cores']['samples']} |

**Scaling efficiency (throughput ratio / 4): {round(eff, 3)}**
(north-rule target ≥ 0.8 between cluster sizes; local-mode cores are the
sandbox stand-in for executors — shuffle partitioning is sized to cores in
both runs, so the partition/shuffle discipline is what is being measured.)

Pure-CPU capacity probe (fixed python spin, {n_lo} vs {n_hi} concurrent
pinned processes, median per-proc time, probed immediately before every
leg): {round(probe_lo, 3)} s vs {round(probe_hi, 3)} s → **hardware
scaling ceiling {round(ceiling, 3)}** (the best efficiency ANY software
could measure on this host during this run; 1.0 = full-capacity vCPUs).
**Hardware-normalized efficiency: {round(eff / ceiling, 3)}.**
"""
    if os.environ.get("SCALING_BENCH_MD", "1") != "0":  # 0 = experiment run
        with open(os.path.join(REPO, "BENCH.md"), "a") as f:
            f.write(md)


if __name__ == "__main__":
    main()
