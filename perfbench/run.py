"""Link-graph benchmark: one workload, one fresh process, one JSON line.

    python3 perfbench/run.py --workload crawl-pipeline --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  The process

1. with ``--trace 1``, records a host-capacity probe
   (``scripts/scaling_bench.probe_capacity`` at full width, with the CPU
   steal share it saw) before any JVM exists; every run records the steal
   share over its own lifetime;
2. sets up: ``get_spark`` on ``local[nproc]`` (which launches the JVM)
   plus a warm-up pass of the workload on a tiny graph, reported as
   ``setup_s``;
3. generates the seeded inputs (``datagen.rmat_edges``), outside both the
   set-up and the timed passes;
4. runs timed passes of the workload (closed loop, one job at a time,
   each after a full JVM GC) until ``--seconds`` have passed and the
   workload's ``min_passes`` are done, and reports
   per-pass medians of CPU seconds (``proc.tree_cpu_s``: this process, the
   JVM and its Python workers) -- the cost of the work, which stays steady
   on a shared host whose CPU steal swings wall time by a third; each
   pass's wall and CPU seconds per phase go into the record line;
5. checks every pass's outputs against driver-side references
   (``checks.py``) and counts failed checks and operations -- the result's
   ``attempted`` and ``failed`` (``failed_ops`` = failed / attempted);
6. prints a record line (inputs, host, settings) and, last, the result.

With ``--trace 1`` passes alternate untraced / traced: U T U, or U T
when a closing untraced pass would not end by ``TRACE_BUDGET_S``.  Traced
passes tag every Spark job with its benchmark span, the session writes an
event log, and the result holds the per-layer metrics (``layers.py``) plus
the tracing overhead: median traced minus median untraced pass time.  The
spans are written to ``.perfbench_work/trace/`` at exit.

Everything the run writes stays under ``.perfbench_work/`` in the
checkout; the per-run scratch directory is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext

from proc import alive, children, cpu_times, steal_pct

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

HEAP = "3g"  # fixed -Xms/-Xmx driver heap: ample for scale 12, small on a shared 15 GB host
# the engine's ParallelGC with fixed generation sizes, so the heap's high-water
# mark (peak_rss_mb) does not follow the collector's adaptive resizing
GC_OPTS = "-XX:+UseParallelGC -XX:-UseAdaptiveSizePolicy"
# C1 only: every plan compiles to new generated classes, and C2 recompiling
# them kept a quarter of the JVM's CPU busy, by an amount that varied ~10%
# between runs; with C1 the CPU seconds of a pass repeat within a few percent
JIT_OPTS = "-XX:TieredStopAtLevel=1"
TRACE_BUDGET_S = 130.0  # a traced run starts no closing pass that would end later than this

# name -> unit; direction and bound live in BENCHMARK.json
END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
    "build_cpu_s": "s",
    "pagerank_edges_per_cpu_s": "1/s",
    "peak_rss_mb": "MB",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=int, default=None, help="override the workload's R-MAT scale")
    return ap.parse_args(argv)


def host_probe(nproc: int) -> dict:
    """Full-width pure-Python spin and the CPU steal it saw."""
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    from scaling_bench import probe_capacity

    before = cpu_times()
    spins = probe_capacity(nproc)
    return {"spin_s": statistics.median(spins), "steal_pct": steal_pct(before, cpu_times())}


def start_session(nproc: int, work: str, eventlog_dir: str | None):
    from cugraph_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the engine's 60 s periodic driver GC would land inside a pass or
        # not, by chance; a run is shorter than this, and full_gc() runs
        # before every pass instead
        "spark.cleaner.periodicGC.interval": "30min",
    }
    if eventlog_dir:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": eventlog_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark("perfbench", master=f"local[{nproc}]", shuffle_partitions=nproc, extra_conf=conf)


def shutdown_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = []
    if proc is not None:
        workers = children(proc.pid)
        workers += [c for w in workers for c in children(w)]
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    while any(alive(p) for p in workers) and time.time() < deadline:
        time.sleep(0.1)
    for p in workers:
        if alive(p):
            os.kill(p, 9)
    SparkContext._gateway = None
    SparkContext._jvm = None


def full_gc(spark) -> None:
    """A full JVM GC, which also lets Spark's cleaner drop the previous
    pass's shuffles and broadcasts, so every pass starts from the same heap."""
    spark.sparkContext._jvm.System.gc()
    time.sleep(0.5)  # the cleaner thread works off the reference queue


def jvm_counters(spark) -> dict:
    """Cumulative GC and JIT-compile milliseconds of the driver JVM."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gcs = list(mf.getGarbageCollectorMXBeans())
    return {
        "gc_ms": sum(b.getCollectionTime() for b in gcs),
        "gcs": sum(b.getCollectionCount() for b in gcs),
        "jit_ms": mf.getCompilationMXBean().getTotalCompilationTime(),
    }


def peak_rss_mb() -> float:
    """Peak resident memory of this driver process plus the JVM."""
    from pyspark import SparkContext

    total_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                total_kb += int(line.split()[1])
    return total_kb / 1024.0


def end_to_end(setup: tuple, passes: list, rss_mb: float) -> dict:
    from workloads import edges_per_cpu_s

    out = {
        "setup_s": sum(setup),
        "cpu_s": statistics.median(p.cpu_s for p in passes),
        "build_cpu_s": statistics.median(p.cpu["build"] for p in passes),
        "pagerank_edges_per_cpu_s": statistics.median(edges_per_cpu_s(p) for p in passes),
        "peak_rss_mb": rss_mb,
    }
    return {k: {"value": out[k], "unit": unit} for k, unit in END_TO_END.items()}


def measure(args, nproc: int, work: str, record: dict, t_start: float) -> dict:
    import checks
    import layers
    from spans import Tracer
    from workloads import WORKLOADS

    workload = WORKLOADS[args.workload]
    evdir = os.path.join(work, "eventlog") if args.trace else None
    if evdir:
        os.makedirs(evdir)
    tally = checks.Tally()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(nproc, work, evdir)
        t1 = time.perf_counter()
        tracer = Tracer(spark.sparkContext)
        workload.warm_up(spark, tracer, work)
        setup = (t1 - t0, time.perf_counter() - t1)

        t0 = time.perf_counter()
        inp = workload.inputs(spark, args.seed, args.scale)
        record["inputs"] = dict(inp.record, gen_s=time.perf_counter() - t0)

        passes, traced = [], []
        start = time.perf_counter()
        while True:
            is_traced = bool(args.trace) and len(passes) % 2 == 1
            tracer.enabled, tracer.pass_idx = is_traced, len(passes)
            full_gc(spark)
            try:
                cpu0, jvm0 = cpu_times(), jvm_counters(spark)
                with tracer.patched() if is_traced else nullcontext():
                    res = workload.run_pass(inp, tracer, work, len(passes))
                res.counts["steal_pct"] = steal_pct(cpu0, cpu_times())
                res.counts["jvm"] = {k: v - jvm0[k] for k, v in jvm_counters(spark).items()}
            except Exception as exc:  # count it, stop measuring, report
                tally.op_failed(f"pass{len(passes)}", exc)
                break
            tally.attempted += res.counts["ops"]
            passes.append(res)
            traced.append(is_traced)
            if args.trace:
                # U T U: untraced passes bracket the traced one, so JIT
                # warming, which keeps speeding up later passes, cancels out
                # of the overhead; U T when the closing U would overrun
                ends_late = time.perf_counter() - t_start + res.total_s > TRACE_BUDGET_S
                done = len(passes) >= 3 and len(passes) % 2 == 1 or len(passes) == 2 and ends_late
            else:
                done = len(passes) >= workload.min_passes
            if done and time.perf_counter() - start >= args.seconds:
                break
        tracer.enabled = False
        if passes:
            workload.check(tally, inp, passes)
        rss = peak_rss_mb()
        app_id = spark.sparkContext.applicationId
        inp.release()
    finally:
        if spark is not None:
            shutdown_spark(spark)

    record["passes"] = [
        {
            "wall_s": dict(p.phases, total=p.total_s),
            "cpu_s": dict(p.cpu, total=p.cpu_s),
            **{k: p.counts[k] for k in ("pagerank_iters", "jvm", "steal_pct")},
            "traced": t,
        }
        for p, t in zip(passes, traced)
    ]
    record["setup_s"] = {"session": setup[0], "warmup": setup[1]}
    record["failures"] = tally.failures[:20]
    if not passes:
        raise RuntimeError("no pass completed: " + "; ".join(tally.failures[:3]))
    untraced = [p for p, t in zip(passes, traced) if not t]
    if args.trace:
        from evlog import event_files, parse

        log = parse(event_files(evdir, app_id))
        metrics = layers.per_layer(
            log, tracer.spans, [p for p, t in zip(passes, traced) if t], untraced, setup,
            record["inputs"], record["host"],
        )
        trace_path = os.path.join(WORK_ROOT, "trace", f"{args.workload}-seed{args.seed}.json")
        tracer.dump(trace_path, record)
        record["spans_file"] = os.path.relpath(trace_path, ROOT)
    else:
        metrics = end_to_end(setup, untraced, rss)
    return {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "cugraph_spark", "__init__.py")):
        print(f"perfbench: no cugraph_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(WORK_ROOT, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # every scratch path of Python, the JVM and Spark stays in the checkout
    os.environ.update(
        TMPDIR=tmp,
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "spark-local"),
        SPARK_GRAFT_DRIVER_MEM=HEAP,
        SPARK_GRAFT_GC=GC_OPTS,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {JIT_OPTS}",
    )
    host = {"nproc": nproc, "heap": HEAP, "shuffle_partitions": nproc, "master": f"local[{nproc}]"}
    if args.trace:
        host["probe"] = host_probe(nproc)
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace, "host": host}
    before = cpu_times()
    try:
        result = measure(args, nproc, work, record, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    host["run_steal_pct"] = steal_pct(before, cpu_times())
    print(json.dumps({"record": record}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
