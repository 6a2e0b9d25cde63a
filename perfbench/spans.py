"""Spans around the calls the benchmark makes into each layer.

Every phase of a pass runs inside ``Tracer.span(name)``, which always times
it.  When tracing is on, the span is also kept (name, start, end, parent,
pass) and every Spark job started inside it is tagged: the job group is
the span's layer name and the local property ``perfbench.span`` its id,
so ``evlog`` can attribute jobs, stages and tasks to it afterwards.

``Tracer.patched()`` additionally wraps the library calls that the
benchmark does not make itself -- ``truncate_state`` as imported by each
operator module, and ``CheckpointManager.save``/``resume`` -- for the
duration of a traced pass only, so untraced passes run the library as is.
Spans stay in memory and are written once, at exit (``dump``).
"""

from __future__ import annotations

import importlib
import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from evlog import SPAN_PROP
from proc import tree_cpu_s

# operator modules that import ``truncate_state`` by name
TRUNCATE_USERS = (
    "cugraph_spark.operators.pagerank",
    "cugraph_spark.operators.wcc",
    "cugraph_spark.operators.lpa",
    "cugraph_spark.operators.triangles",
)


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    pass_idx: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.pass_idx: int | None = None
        self.spans: list = []
        self._stack: list = []
        self._next_id = 0

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1].id if self._stack else None
        s = Span(str(self._next_id), name, parent, self.pass_idx, time.time(), attrs=attrs)
        self._next_id += 1
        if self.enabled:
            self.spans.append(s)
            self._tag(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.enabled:
                self._tag(self._stack[-1] if self._stack else None)

    def _tag(self, s: Span | None) -> None:
        if s is None:
            for key in ("spark.jobGroup.id", "spark.job.description", SPAN_PROP):
                self.sc.setLocalProperty(key, None)
        else:
            self.sc.setJobGroup(s.name, f"{s.name} #{s.id}")
            self.sc.setLocalProperty(SPAN_PROP, s.id)

    def _wrap(self, fn, name: str, after=None):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name) as s:
                out = fn(*args, **kwargs)
            if after is not None:
                after(s, args, out)
            return out

        return traced

    @contextmanager
    def patched(self):
        """Wrap the library-internal layer calls for the enclosed block."""
        from cugraph_spark.checkpoint import CheckpointManager

        saved = []
        for mod_name in TRUNCATE_USERS:
            mod = importlib.import_module(mod_name)
            saved.append((mod, "truncate_state", mod.truncate_state))
            mod.truncate_state = self._wrap(mod.truncate_state, "graph.truncate_state", _after_truncate)
        for meth, after in (("save", _after_save), ("resume", None)):
            orig = getattr(CheckpointManager, meth)
            saved.append((CheckpointManager, meth, orig))
            setattr(CheckpointManager, meth, self._wrap(orig, f"checkpoint.{meth}", after))
        try:
            yield
        finally:
            for owner, attr, orig in saved:
                setattr(owner, attr, orig)

    def dump(self, path: str, record: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"record": record, "spans": [asdict(s) for s in self.spans]}, f)


def _after_truncate(span: Span, _args: tuple, _out) -> None:
    """CPU clock at the end of a truncate, so supersteps get CPU seconds."""
    span.attrs["cpu_s"] = tree_cpu_s()


def _after_save(span: Span, args: tuple, _out) -> None:
    """Attach the manifest's write time and the bytes written to a save."""
    mgr, _df, iteration = args[:3]
    d = mgr._iter_dir(iteration)
    span.attrs["write_s"] = float(mgr.manifest(iteration)["timings"]["write_sec"])
    span.attrs["bytes"] = sum(
        os.path.getsize(os.path.join(root, f)) for root, _dirs, fs in os.walk(d) for f in fs
    )
