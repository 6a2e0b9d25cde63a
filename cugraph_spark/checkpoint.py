"""Per-iteration checkpointing with lineage + metrics (north-rule item).

No reference analog (cuGraph iterates in device memory); required here so
multi-hour convergence runs on a 1000-executor cluster resume mid-stream.

Layout per iteration::

    <base>/<job>/iter=00012/data.parquet      the vertex-state DataFrame
    <base>/<job>/iter=00012/manifest.json     iteration, metrics, lineage

``data.parquet`` holds one ``part-<pid>`` file when the state's plan size
is at most the advisory partition size
(``spark.sql.adaptive.advisoryPartitionSizeInBytes``), written by one task,
and one per non-empty state partition otherwise.  ``manifest.json``
carries each part file's row count and content hash (the lineage record:
``pid`` is the part-file number), wall-clock timings, and the caller's
metrics (e.g. L1 delta, dangling mass). The manifest is written after the
data — its presence marks the iteration complete, so a killed run resumes
from the last complete manifest.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _coalesce_small(df: DataFrame) -> DataFrame:
    """``df`` in one partition when its plan's byte size is at most the
    session's advisory partition size, else ``df`` as it is.

    A write costs a fixed ~0.1 CPU s per task (Hadoop and Parquet config
    parsing) whatever its bytes, so a 50 KB state written from 4 partitions
    costs 4× one task.  The loops checkpoint inside ``static_plan`` (AQE
    off), so this does by hand the coalescing AQE would do.  The size comes
    from the plan's statistics (no Spark job; exact for a ``truncate_state``
    result).  Never to k > 1 partitions: ``coalesce(k)`` groups partitions
    by block location, and the first job after a ``localCheckpoint`` sees
    the scheduler's stale, empty location cache, so the write and the
    lineage job grouped one state two ways (a 16-row part file under a
    22-row lineage entry).
    """
    spark = df.sparkSession
    advisory = spark.sparkContext._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    )
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    return df.coalesce(1) if int(size) <= advisory else df


class CheckpointManager:
    def __init__(self, base_path: str, job_name: str, keep_last: int = 3):
        self.base = os.path.join(base_path, job_name)
        self.keep_last = keep_last
        os.makedirs(self.base, exist_ok=True)

    def _iter_dir(self, iteration: int) -> str:
        return os.path.join(self.base, f"iter={iteration:05d}")

    def save(self, df: DataFrame, iteration: int, metrics: dict) -> None:
        t0 = time.time()
        d = self._iter_dir(iteration)
        data_path = os.path.join(d, "data.parquet")
        df = _coalesce_small(df)
        df.write.mode("overwrite").parquet(data_path)
        t_write = time.time() - t0

        # lineage: per-part-file row count + order-insensitive content hash,
        # over the frame just written (spark_partition_id = part number)
        cols = df.columns
        lineage_rows = (
            df.withColumn("_pid", F.spark_partition_id())
            .groupBy("_pid")
            .agg(
                F.count("*").alias("rows"),
                F.sum(F.crc32(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in cols]))).alias("content_hash"),
            )
            .collect()
        )
        manifest = {
            "iteration": iteration,
            "schema": df.schema.jsonValue(),
            "metrics": metrics,
            "lineage": {
                "partitions": [
                    {"pid": r["_pid"], "rows": r["rows"], "content_hash": r["content_hash"]}
                    for r in sorted(lineage_rows, key=lambda r: r["_pid"])
                ],
                "total_rows": int(sum(r["rows"] for r in lineage_rows)),
            },
            "timings": {"write_sec": t_write, "wall_ts": time.time()},
        }
        tmp = os.path.join(d, "manifest.json.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, os.path.join(d, "manifest.json"))
        self._gc(iteration)

    def _gc(self, current_iteration: int) -> None:
        """Keep only the last ``keep_last`` complete checkpoints."""
        its = self.completed_iterations()
        for it in its[: -self.keep_last] if self.keep_last else []:
            d = self._iter_dir(it)
            import shutil

            shutil.rmtree(d, ignore_errors=True)

    def completed_iterations(self) -> list:
        out = []
        if not os.path.isdir(self.base):
            return out
        for name in sorted(os.listdir(self.base)):
            if name.startswith("iter=") and os.path.exists(
                os.path.join(self.base, name, "manifest.json")
            ):
                out.append(int(name.split("=")[1]))
        return sorted(out)

    def resume(self, spark: SparkSession):
        """Return (iteration, DataFrame) of the newest complete checkpoint,
        or None if nothing to resume from."""
        its = self.completed_iterations()
        if not its:
            return None
        it = its[-1]
        df = spark.read.parquet(os.path.join(self._iter_dir(it), "data.parquet"))
        return it, df

    def manifest(self, iteration: int) -> dict:
        with open(os.path.join(self._iter_dir(iteration), "manifest.json")) as f:
            return json.load(f)
