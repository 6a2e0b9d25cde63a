"""Checkpoint/resume: kill after iteration k, restart from the manifest,
final ranks identical (SURVEY §5.2 item 5 / north rule resumability)."""

import json
import os

import pytest
from conftest import karate_edges, seeded_graph

from cugraph_spark.checkpoint import CheckpointManager
from cugraph_spark.graph import LinkGraph
from cugraph_spark.operators.pagerank import pagerank
from cugraph_spark.operators.wcc import weakly_connected_components


def _build(spark, edges, n=4):
    df = spark.createDataFrame([(int(s), int(d)) for s, d in edges], "src LONG, dst LONG")
    return LinkGraph.from_edges(df, directed=True, num_partitions=n)


def test_pagerank_resume_identical(spark, tmp_path):
    edges = karate_edges()
    g = _build(spark, edges)

    # uninterrupted run
    full = pagerank(g, tol=1e-8, max_iter=200)
    ref = {r["vertex"]: r["pagerank"] for r in full.ranks.collect()}

    # interrupted run: stop after 5 iterations (simulated kill)
    ck = CheckpointManager(str(tmp_path), "pr", keep_last=2)
    partial = pagerank(g, tol=1e-8, max_iter=5, checkpointer=ck,
                       fail_on_nonconvergence=False)
    assert not partial.converged
    assert ck.completed_iterations()[-1] == 5

    # resumed run picks up at iteration 5 and finishes
    resumed = pagerank(g, tol=1e-8, max_iter=200, checkpointer=ck)
    assert resumed.converged
    got = {r["vertex"]: r["pagerank"] for r in resumed.ranks.collect()}
    for v in ref:
        assert abs(got[v] - ref[v]) < 1e-12, v
    assert resumed.iterations == full.iterations
    g.unpersist()


def test_manifest_lineage_and_metrics(spark, tmp_path):
    g = _build(spark, seeded_graph(40, 80, seed=2))
    ck = CheckpointManager(str(tmp_path), "wcc")
    weakly_connected_components(g, checkpointer=ck)
    its = ck.completed_iterations()
    assert its, "no checkpoints written"
    m = ck.manifest(its[-1])
    assert m["iteration"] == its[-1]
    assert "changed" in m["metrics"]
    assert m["lineage"]["total_rows"] == 40
    assert all("content_hash" in p for p in m["lineage"]["partitions"])
    assert m["timings"]["write_sec"] >= 0
    g.unpersist()


def test_checkpoint_gc_keeps_last(spark, tmp_path):
    g = _build(spark, karate_edges())
    ck = CheckpointManager(str(tmp_path), "pr", keep_last=3)
    pagerank(g, tol=0, max_iter=8, checkpointer=ck, fail_on_nonconvergence=False)
    assert ck.completed_iterations() == [6, 7, 8]
    g.unpersist()


def test_manifest_is_json_complete(spark, tmp_path):
    g = _build(spark, karate_edges())
    ck = CheckpointManager(str(tmp_path), "pr", keep_last=1)
    pagerank(g, tol=0, max_iter=2, checkpointer=ck, fail_on_nonconvergence=False)
    it = ck.completed_iterations()[-1]
    path = os.path.join(str(tmp_path), "pr", f"iter={it:05d}", "manifest.json")
    with open(path) as f:
        json.load(f)  # valid JSON, atomically replaced
    g.unpersist()


@pytest.mark.parametrize("op", ["wcc", "lpa"])
def test_label_loop_resume_identical(spark, tmp_path, op):
    """WCC and LPA stopped below their round count resume from the last
    checkpoint and end where an uninterrupted run ends, at the same round.
    A path graph with WCC's pointer jumping off moves the minimum label one
    hop per round (karate converges in 3 rounds)."""
    from cugraph_spark.operators.lpa import label_propagation

    run = {
        "wcc": lambda g, **kw: weakly_connected_components(g, shortcutting=False, **kw),
        "lpa": label_propagation,
    }[op]
    path = [(i, i + 1) for i in range(11)]
    g = LinkGraph.from_edges(
        spark.createDataFrame(path, "src LONG, dst LONG"), directed=False, num_partitions=4
    )

    ck_full = CheckpointManager(str(tmp_path), f"{op}-full")
    full = {tuple(r) for r in run(g, checkpointer=ck_full).collect()}
    rounds = ck_full.completed_iterations()[-1]
    assert rounds > 4, rounds

    ck = CheckpointManager(str(tmp_path), op)
    run(g, max_iter=3, checkpointer=ck)
    assert ck.completed_iterations()[-1] == 3
    resumed = {tuple(r) for r in run(g, checkpointer=ck).collect()}
    assert resumed == full
    assert ck.completed_iterations()[-1] == rounds
    g.unpersist()


def _part_files(ck, iteration):
    """{part number: path} of one checkpoint's ``data.parquet`` files."""
    data = os.path.join(ck._iter_dir(iteration), "data.parquet")
    return {
        int(name.split("-")[1]): os.path.join(data, name)
        for name in os.listdir(data)
        if name.startswith("part-")
    }


def _assert_lineage_is_per_file(spark, ck, iteration):
    """Every lineage entry describes exactly one written part file: its
    ``pid`` is the file's number, and its rows and content hash are those
    recomputed from that file alone."""
    from pyspark.sql import functions as F

    files = _part_files(ck, iteration)
    lineage = ck.manifest(iteration)["lineage"]
    entries = lineage["partitions"]
    assert sorted(p["pid"] for p in entries) == sorted(files), (entries, files)
    for p in entries:
        df = spark.read.parquet(files[p["pid"]])
        crc = F.crc32(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in df.columns]))
        got = df.agg(F.count("*").alias("rows"), F.sum(crc).alias("hash")).first()
        assert (p["rows"], p["content_hash"]) == (got["rows"], got["hash"]), p
    assert sum(p["rows"] for p in entries) == lineage["total_rows"]
    return files


def test_small_state_checkpoints_one_file(spark, tmp_path):
    """A state far below the advisory partition size is written as one
    part file, described by one lineage entry holding every vertex."""
    g = _build(spark, karate_edges())
    ck = CheckpointManager(str(tmp_path), "pr")
    pagerank(g, tol=0, max_iter=2, checkpointer=ck, fail_on_nonconvergence=False)
    it = ck.completed_iterations()[-1]
    assert len(_assert_lineage_is_per_file(spark, ck, it)) == 1
    [entry] = ck.manifest(it)["lineage"]["partitions"]
    assert entry["rows"] == 34
    g.unpersist()


def test_multi_file_checkpoint_lineage_and_resume(spark, tmp_path):
    """With an advisory partition size of a few hundred bytes the WCC state
    is written as several part files, one lineage entry each, and a run
    resumed from that checkpoint ends where an uninterrupted run ends."""
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    g = _build(spark, seeded_graph(40, 80, seed=2))
    full = {tuple(r) for r in weakly_connected_components(g, shortcutting=False).collect()}
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "300b")
    try:
        ck = CheckpointManager(str(tmp_path), "wcc")
        weakly_connected_components(g, max_iter=1, shortcutting=False, checkpointer=ck)
        assert ck.completed_iterations() == [1]
        assert len(_assert_lineage_is_per_file(spark, ck, 1)) > 1
        resumed = weakly_connected_components(g, shortcutting=False, checkpointer=ck)
        resumed = {tuple(r) for r in resumed.collect()}
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert ck.completed_iterations()[-1] > 1
    assert resumed == full
    g.unpersist()
