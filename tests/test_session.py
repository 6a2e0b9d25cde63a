"""``get_spark``: a live session, and the host CPU count it sizes a new one by."""

import os
import subprocess
import sys

import pytest

from cugraph_spark.session import get_spark


def test_get_spark_leaves_live_session_unchanged(spark):
    """A second call returns the live session without re-applying any
    setting: the shuffle partition count stays what the first call set."""
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    again = get_spark("another_app", shuffle_partitions=int(parts) + 5)
    assert again.sparkContext is spark.sparkContext
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts


@pytest.mark.parametrize("raw", ["4x", "0", "-2"])
def test_bad_cpus_env_falls_back(raw):
    """A malformed SPARK_GRAFT_CPUS neither breaks ``import cugraph_spark``
    nor the session size: get_spark's CPU count warns and falls back to
    the affinity CPU count (fresh interpreter: nothing here starts a JVM)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c",
         "import cugraph_spark; from cugraph_spark.session import _host_cpus; print(_host_cpus())"],
        cwd=root, capture_output=True, text=True, timeout=120,
        env={**os.environ, "SPARK_GRAFT_CPUS": raw},
    )
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout.strip() == str(len(os.sched_getaffinity(0)))
    assert "SPARK_GRAFT_CPUS" in proc.stderr and "RuntimeWarning" in proc.stderr
