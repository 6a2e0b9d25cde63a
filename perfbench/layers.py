"""Per-layer metrics of a traced run, from its spans and the Spark event log.

Each traced pass yields one value per metric; the run reports the median
over its traced passes.  A layer the workload does not run reads 0.
Which end-to-end metric each layer should move, and on which workload it
should not move, is recorded in ``layers.json``.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

import numpy as np

from evlog import MB, stats

ITERATIVE = ("pagerank", "wcc", "lpa")
_OP_FIELDS = {
    "s": "s",
    "cpu_s": "s",
    "iterations": "count",
    "iter_s_p50": "s",
    "iter_s_p90": "s",
    "iter_cpu_s_p50": "s",
    "jobs_per_iter": "count",
    "stages_per_iter": "count",
    "tasks_per_iter": "count",
    "shuffle_mb_per_iter": "MB",
    "spill_mb": "MB",
    "gc_s": "s",
    "driver_idle_s": "s",
}

PER_LAYER = {
    "host.steal_pct": "%",
    "host.spin_s": "s",
    "input.gen_s": "s",
    "input.edges": "count",
    "input.vertices": "count",
    "input.pages": "count",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "ingest.s": "s",
    "ingest.cpu_s": "s",
    "ingest.pages": "count",
    "ingest.html_mb": "MB",
    "ingest.edges_out": "count",
    "ingest.task_s": "s",
    "graph.build.s": "s",
    "graph.build.cpu_s": "s",
    "graph.build.jobs": "count",
    "graph.build.tasks": "count",
    "graph.build.shuffle_write_mb": "MB",
    "graph.build.shuffle_read_mb": "MB",
    "graph.build.spill_mb": "MB",
    "graph.build.edges_in": "count",
    "graph.build.edges_kept": "count",
    "graph.build.max_task_over_median": "ratio",
    "graph.truncate_state.calls": "count",
    "graph.truncate_state.s": "s",
    "graph.truncate_state.share_of_operator": "ratio",
    **{f"operators.{op}.{f}": u for op in ITERATIVE for f, u in _OP_FIELDS.items()},
    "checkpoint.saves": "count",
    "checkpoint.s": "s",
    "checkpoint.write_s": "s",
    "checkpoint.lineage_s": "s",
    "checkpoint.mb_written": "MB",
    "checkpoint.resume_s": "s",
    "operators.triangles.s": "s",
    "operators.triangles.cpu_s": "s",
    "operators.triangles.tasks": "count",
    "operators.triangles.shuffle_mb": "MB",
    "operators.triangles.spill_mb": "MB",
    "operators.triangles.peak_exec_mem_mb": "MB",
    "operators.triangles.max_task_over_median": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.gc_s": "s",
    "spark.driver_idle_s": "s",
    "trace.traced_total_s": "s",
    "trace.untraced_total_s": "s",
    "trace.overhead_s": "s",
    "trace.traced_cpu_s": "s",
    "trace.untraced_cpu_s": "s",
}


class _PassSpans:
    def __init__(self, spans: list):
        self.spans = spans
        self.children = defaultdict(list)
        for s in spans:
            self.children[s.parent].append(s)

    def named(self, name: str) -> list:
        return [s for s in self.spans if s.name == name]

    def subtree(self, roots: list) -> list:
        out, todo = [], list(roots)
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children[s.id])
        return out

    def ids(self, roots: list) -> set:
        return {s.id for s in self.subtree(roots)}


def _window(s) -> tuple:
    return (s.start * 1000.0, s.end * 1000.0)


def _iterative(out: dict, log, ps: _PassSpans, op: str, res) -> None:
    spans = ps.named(f"operators.{op}")
    if not spans:
        return
    root = spans[0]
    st = stats(log, ps.ids([root]), _window(root))
    truncs = sorted(
        (s for s in ps.subtree([root]) if s.name == "graph.truncate_state"), key=lambda s: s.end
    )
    if op == "pagerank":
        iters = res.counts["pagerank_iters"]
        iter_s = list(res.counts["pagerank_iter_secs"])
        iter_cpu = res.counts["pagerank_iter_cpu_s"]
    else:  # one truncate for the initial labels, then one per superstep
        iters = len(truncs) - 1
        iter_s = [b.end - a.end for a, b in zip(truncs, truncs[1:])]
        iter_cpu = [b.attrs["cpu_s"] - a.attrs["cpu_s"] for a, b in zip(truncs, truncs[1:])]
    per = max(iters, 1)
    p = f"operators.{op}."
    out.update(
        {
            p + "s": root.seconds,
            p + "cpu_s": res.cpu[op],
            p + "iterations": iters,
            p + "iter_s_p50": float(np.percentile(iter_s, 50)) if iter_s else 0.0,
            p + "iter_s_p90": float(np.percentile(iter_s, 90)) if iter_s else 0.0,
            p + "iter_cpu_s_p50": float(np.percentile(iter_cpu, 50)) if iter_cpu else 0.0,
            p + "jobs_per_iter": st["jobs"] / per,
            p + "stages_per_iter": st["stages"] / per,
            p + "tasks_per_iter": st["tasks"] / per,
            p + "shuffle_mb_per_iter": st["shuffle_write_mb"] / per,
            p + "spill_mb": st["spill_mb"],
            p + "gc_s": st["gc_s"],
            p + "driver_idle_s": st["driver_idle_s"],
        }
    )


def pass_metrics(log, spans: list, res, inputs: dict) -> dict:
    ps = _PassSpans(spans)
    out: dict = {}
    ingest = ps.named("ingest")
    if ingest:
        out.update(
            {
                "ingest.s": sum(s.seconds for s in ingest),
                "ingest.cpu_s": res.cpu["ingest"],
                "ingest.pages": inputs["pages"],
                "ingest.html_mb": inputs["html_mb"],
                "ingest.edges_out": res.counts["ingest_edges"],
                "ingest.task_s": stats(log, ps.ids(ingest))["task_s"],
            }
        )
    builds = ps.named("graph.build")
    st = stats(log, ps.ids(builds))
    out.update(
        {
            "graph.build.s": sum(s.seconds for s in builds),
            "graph.build.cpu_s": res.cpu["build"] - res.cpu.get("ingest", 0.0),
            "graph.build.jobs": st["jobs"],
            "graph.build.tasks": st["tasks"],
            "graph.build.shuffle_write_mb": st["shuffle_write_mb"],
            "graph.build.shuffle_read_mb": st["shuffle_read_mb"],
            "graph.build.spill_mb": st["spill_mb"],
            "graph.build.edges_in": inputs["edges"],
            "graph.build.edges_kept": res.counts["edges_kept"],
            "graph.build.max_task_over_median": st["max_task_over_median"],
        }
    )
    truncs = ps.named("graph.truncate_state")
    op_s = sum(s.seconds for s in ps.spans if s.name.startswith("operators."))
    trunc_s = sum(s.seconds for s in truncs)
    out.update(
        {
            "graph.truncate_state.calls": len(truncs),
            "graph.truncate_state.s": trunc_s,
            "graph.truncate_state.share_of_operator": trunc_s / op_s if op_s else 0.0,
        }
    )
    for op in ITERATIVE:
        _iterative(out, log, ps, op, res)
    saves = ps.named("checkpoint.save")
    if saves:
        save_s = sum(s.seconds for s in saves)
        write_s = sum(s.attrs["write_s"] for s in saves)
        out.update(
            {
                "checkpoint.saves": len(saves),
                "checkpoint.s": save_s,
                "checkpoint.write_s": write_s,
                "checkpoint.lineage_s": save_s - write_s,
                "checkpoint.mb_written": sum(s.attrs["bytes"] for s in saves) / MB,
                "checkpoint.resume_s": sum(s.seconds for s in ps.named("checkpoint.resume")),
            }
        )
    tri = ps.named("operators.triangles")
    if tri:
        st = stats(log, ps.ids(tri))
        out.update(
            {
                "operators.triangles.s": sum(s.seconds for s in tri),
                "operators.triangles.cpu_s": res.cpu["triangles"],
                "operators.triangles.tasks": st["tasks"],
                "operators.triangles.shuffle_mb": st["shuffle_write_mb"],
                "operators.triangles.spill_mb": st["spill_mb"],
                "operators.triangles.peak_exec_mem_mb": st["peak_exec_mem_mb"],
                "operators.triangles.max_task_over_median": st["max_task_over_median"],
            }
        )
    root = ps.named("pass")[0]
    st = stats(log, ps.ids([root]), _window(root))
    for key in ("jobs", "stages", "tasks", "failed_tasks", "gc_s", "driver_idle_s"):
        out[f"spark.{key}"] = st[key]
    return out


def per_layer(log, spans: list, traced: list, untraced: list, setup: tuple, inputs: dict, host: dict) -> dict:
    by_pass = defaultdict(list)
    for s in spans:
        by_pass[s.pass_idx].append(s)
    per_pass = [pass_metrics(log, by_pass[i], res, inputs) for i, res in zip(sorted(by_pass), traced)]
    out = {k: statistics.median(m.get(k, 0.0) for m in per_pass) for k in PER_LAYER}
    traced_total = statistics.median(p.total_s for p in traced)
    untraced_total = statistics.median(p.total_s for p in untraced)
    out.update(
        {
            "host.steal_pct": host["probe"]["steal_pct"],
            "host.spin_s": host["probe"]["spin_s"],
            "input.gen_s": inputs["gen_s"],
            "input.edges": inputs["edges"],
            "input.vertices": inputs["vertices"],
            "input.pages": inputs.get("pages", 0),
            "session.start_s": setup[0],
            "session.warmup_s": setup[1],
            "trace.traced_total_s": traced_total,
            "trace.untraced_total_s": untraced_total,
            "trace.overhead_s": traced_total - untraced_total,
            "trace.traced_cpu_s": statistics.median(p.cpu_s for p in traced),
            "trace.untraced_cpu_s": statistics.median(p.cpu_s for p in untraced),
        }
    )
    return {k: {"value": float(out[k]), "unit": PER_LAYER[k]} for k in PER_LAYER}
