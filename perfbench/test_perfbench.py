"""Self-tests of the benchmark.

    python3 -m pytest perfbench -q

The check tests are pure numpy/DuckDB and take about a second.  The
emission test runs the benchmark itself at a tiny scale (R-MAT scale 7),
once per workload with tracing off and on, and takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import checks  # noqa: E402
import proc  # noqa: E402


def _graph():
    """Two triangles {0,1,2} and {3,4,5} joined by nothing, plus a chain
    6 -> 7 -> 8 and a sink 9, as a directed edge list."""
    src = np.array([0, 1, 2, 3, 4, 5, 6, 7, 0, 3, 8])
    dst = np.array([1, 2, 0, 4, 5, 3, 7, 8, 2, 5, 9])
    return checks.RefGraph(src, dst)


def test_references_on_a_known_graph():
    g = _graph()
    assert g.num_vertices == 10
    labels = g.wcc_labels()
    assert labels.tolist() == [0, 0, 0, 3, 3, 3, 6, 6, 6, 6]
    assert g.triangle_counts().tolist() == [1, 1, 1, 1, 1, 1, 0, 0, 0, 0]
    ranks = g.pagerank()
    assert abs(ranks.sum() - 1.0) < 1e-9


def test_correct_results_pass():
    g = _graph()
    t = checks.Tally()
    checks.check_pagerank(t, "pr", g, g.pagerank(), g.verts, g.pagerank())
    checks.check_partition(t, "wcc", g, g.wcc_labels(), g.verts, g.wcc_labels() + 100)
    checks.check_lpa(t, "lpa", g, g.wcc_labels(), g.verts, g.wcc_labels())
    checks.check_counts(t, "tri", g, g.triangle_counts(), g.verts, g.triangle_counts())
    urls = [f"https://site{v}.test/" for v in g.verts]
    checks.check_url_pagerank(t, "url", g, g.pagerank(), urls, g.pagerank())
    assert (t.attempted, t.failed) == (5, 0), t.failures


def test_corrupted_results_are_counted():
    g = _graph()
    t = checks.Tally()
    ranks = g.pagerank()
    perturbed = ranks.copy()
    perturbed[4] += 1e-4  # one perturbed rank
    checks.check_pagerank(t, "pr", g, ranks, g.verts, perturbed)
    merged = g.wcc_labels().copy()
    merged[merged == 3] = 0  # two merged components
    checks.check_partition(t, "wcc", g, g.wcc_labels(), g.verts, merged)
    checks.check_lpa(t, "lpa", g, g.wcc_labels(), g.verts, merged)  # label 0 crosses components
    tri = g.triangle_counts().copy()
    tri[7] = 1
    checks.check_counts(t, "tri", g, g.triangle_counts(), g.verts, tri)
    checks.check_pagerank(t, "missing", g, ranks, g.verts[:-1], ranks[:-1])
    assert (t.attempted, t.failed) == (5, 5), t.failures


def test_undirected_reference_adds_reverse_arcs():
    g = checks.RefGraph(np.array([0, 1, 2, 2]), np.array([1, 0, 2, 3]), undirected=True)
    assert g.num_edges == 5  # 0->1, 1->0, the self loop 2->2 once, 2->3, 3->2


def test_tree_cpu_counts_reaped_children():
    before = proc.tree_cpu_s()
    subprocess.run([sys.executable, "-c", "x = 0\nfor i in range(3_000_000): x += i"], check=True)
    assert proc.tree_cpu_s() - before >= 0.05


def _benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in _benchmark_json()["workloads"]])
def test_every_metric_is_emitted_with_its_unit(workload, trace):
    bench = _benchmark_json()
    expected = {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "3",
           "--seconds", "1", "--trace", str(trace), "--scale", "7"]
    run = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert run.returncode == 0, run.stderr[-3000:]
    result = json.loads(run.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    got = {name: m["unit"] for name, m in result["metrics"].items()}
    assert got == expected
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], float), name
