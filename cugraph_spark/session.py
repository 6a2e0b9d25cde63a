"""SparkSession factory for the link-graph engine.

Local-mode defaults sized to the host (``local[n]`` over the n CPUs this
process may use, single JVM); on a real cluster the same builder flags apply
unchanged — AQE, Arrow, and a shuffle partition count matched to total
cores are what matter at 100 TB scale.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import warnings

from pyspark.sql import SparkSession


def _host_cpus() -> int:
    """``SPARK_GRAFT_CPUS`` if it is a positive integer, else the number of
    CPUs this process may run on (with a warning when the variable is set
    but malformed: a bad value must not break the session)."""
    cpus = len(os.sched_getaffinity(0))
    raw = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    if not raw:
        return cpus
    if raw.isdecimal() and int(raw) > 0:
        return int(raw)
    msg = f"SPARK_GRAFT_CPUS={raw!r} is not a positive integer; using {cpus}"
    warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return cpus


def ship_package(spark: SparkSession) -> None:
    """Ship this package to executors (the ``spark-submit --py-files``
    analog, per the north rule) so pandas-UDF closures that reference
    module globals deserialize on any worker regardless of driver cwd."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    if not os.path.isdir(pkg_dir):
        # already imported from an archive (spark-submit --py-files zip):
        # submit distributed it to every executor, nothing to ship — and
        # make_archive on the zip path would raise NotADirectoryError.
        if os.path.isfile(root):
            try:
                spark.sparkContext.addPyFile(root)  # no-op if already added
            except Exception:
                pass
        return
    tmp = tempfile.mkdtemp(prefix="cugraph_spark_pyfiles_")
    zip_base = os.path.join(tmp, "cugraph_spark_pkg")
    archive = shutil.make_archive(zip_base, "zip", root_dir=root, base_dir="cugraph_spark")
    spark.sparkContext.addPyFile(archive)


def get_spark(
    app_name: str = "cugraph_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build a SparkSession with engine defaults, or return the live one.

    A live (active) session comes back as it is: nothing here is applied
    to it, so a second call cannot move its shuffle partition count (or
    any other setting) under code that already runs on it.  Defaults of a
    new session:

    - AQE on (runtime skew-join splitting + partition coalescing),
    - Arrow on (all our kernels are pandas-on-Arrow, never per-row Python),
    - ``local[n]`` and n shuffle partitions (not the 200 default), n =
      ``SPARK_GRAFT_CPUS`` or the CPUs this process may use,
    - UTC session timezone for deterministic timestamp semantics.
    """
    live = SparkSession.getActiveSession()
    if live is not None:
        return live
    cores = _host_cpus()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    nshuffle = shuffle_partitions or cores
    # shuffle/checkpoint scratch on tmpfs when available: the iterative
    # workloads write O(E) shuffle bytes per superstep, and a spinning /tmp
    # makes the job disk-bound (on a real cluster this is local NVMe).
    # tmpfs spill consumes RAM, so only default to it when /dev/shm has
    # substantial headroom (>=16 GiB free); SPARK_GRAFT_LOCAL_DIR overrides
    # either way, and jobs whose shuffle volume may exceed RAM should point
    # it at real disk.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        try:
            st = os.statvfs("/dev/shm")
            if st.f_bavail * st.f_frsize >= 16 * (1 << 30):
                local_dir = "/dev/shm/spark-local"
        except OSError:
            pass
    # ParallelGC over default G1 for the iterative superstep workloads:
    # G1's concurrent cycles interact badly with the allocation burst of a
    # 32-thread join+agg superstep (measured at R-MAT scale 23: 13.2 →
    # 8.3 s/iteration, and far lower iteration-time variance). Throughput
    # batch engines want the throughput collector; override via
    # SPARK_GRAFT_GC (e.g. "-XX:+UseG1GC") if a deployment disagrees.
    gc_opts = os.environ.get("SPARK_GRAFT_GC", "-XX:+UseParallelGC")
    # -Xms == -Xmx: a fixed heap that never shrinks.  The sandbox hypervisor
    # (Firecracker, lazily-provisioned memory) drops host backing whenever
    # the JVM uncommits heap on shrink, so every later re-growth is a storm
    # of ~ms-level first-touch page faults (measured: WCC at sf0.1 150 s
    # with an adaptive 48 g heap vs 31 s with a fixed 8 g heap).  On a real
    # cluster fixed executor heaps are standard practice anyway.
    driver_mem = (extra_conf or {}).get(
        "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g")
    )
    java_opts = f"{gc_opts} -Xms{driver_mem}"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.local.dir", local_dir or "/tmp")
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.executor.extraJavaOptions", gc_opts)
        .config("spark.sql.shuffle.partitions", str(nshuffle))
        .config("spark.default.parallelism", str(nshuffle))
        # periodic driver GC: shuffle files are only reclaimed when the
        # driver GC collects the dereferenced shuffle dependencies — with a
        # large heap that can take thousands of supersteps, piling up
        # O(E)-byte shuffle files per iteration until the cleanup storm
        # stalls the job (multi-second spikes). 60s keeps it steady.
        .config("spark.cleaner.periodicGC.interval", "60s")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark
