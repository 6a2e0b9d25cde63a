"""Driver-side reference results and the output checks built on them.

Every check compares an engine output against an independent computation
on the same generated int edges: numpy for PageRank and connected
components, DuckDB for triangle counts.  Nothing here touches Spark, so
the checks are cheap to run outside the timed section and easy to test on
deliberately corrupted results.
"""

from __future__ import annotations

import hashlib
import traceback

import duckdb
import numpy as np
import pandas as pd

ALPHA = 0.85
PR_TOL = 1e-6  # the engine's L1 stopping rule, and the per-vertex tolerance
URL_PATTERN = r"https://site(\d+)\.test/"


class Tally:
    """Operations and checks attempted, and the ones that failed."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list = []

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {detail}" if detail else name)
        return ok

    def op_failed(self, name: str, exc: BaseException) -> None:
        self.attempted += 1
        self.failed += 1
        self.failures.append(f"{name}: {type(exc).__name__}: {exc}")
        traceback.print_exc()


def content_hash(src: np.ndarray, dst: np.ndarray) -> str:
    h = hashlib.sha256()
    h.update(np.ascontiguousarray(src, dtype=np.int64).tobytes())
    h.update(np.ascontiguousarray(dst, dtype=np.int64).tobytes())
    return h.hexdigest()[:16]


class RefGraph:
    """The generated edge list as dense index arrays over its sorted vertex
    ids, deduplicated the way ``LinkGraph.from_edges`` builds it (self loops
    kept): as given for a directed graph, with every reverse arc added for
    an undirected one."""

    def __init__(self, src: np.ndarray, dst: np.ndarray, undirected: bool = False):
        self.src_raw = np.asarray(src, dtype=np.int64)
        self.dst_raw = np.asarray(dst, dtype=np.int64)
        self.verts = np.unique(np.concatenate([self.src_raw, self.dst_raw]))
        pairs = np.stack([self.src_raw, self.dst_raw], axis=1)
        if undirected:
            pairs = np.concatenate([pairs, pairs[:, ::-1]])
        pairs = np.unique(pairs, axis=0)
        self.s = np.searchsorted(self.verts, pairs[:, 0])
        self.d = np.searchsorted(self.verts, pairs[:, 1])

    @property
    def num_vertices(self) -> int:
        return len(self.verts)

    @property
    def num_edges(self) -> int:
        return len(self.s)

    def align(self, vertex, values) -> np.ndarray | None:
        """Engine output keyed by vertex id -> array in ``verts`` order, or
        None when the output's vertex set differs from the graph's."""
        vertex = np.asarray(vertex, dtype=np.int64)
        if len(vertex) != len(self.verts) or len(np.unique(vertex)) != len(vertex):
            return None
        order = np.argsort(vertex)
        if not np.array_equal(vertex[order], self.verts):
            return None
        return np.asarray(values)[order]

    def pagerank(self, alpha: float = ALPHA, tol: float = PR_TOL, max_iter: int = 100):
        """Power iteration with the engine's semantics: uniform start,
        dangling mass spread uniformly, stop when the L1 step < ``tol``."""
        n = self.num_vertices
        out_deg = np.bincount(self.s, minlength=n).astype(np.float64)
        sink = out_deg == 0
        inv = np.divide(1.0, out_deg, out=np.zeros(n), where=~sink)
        r = np.full(n, 1.0 / n)
        for _ in range(max_iter):
            gather = np.bincount(self.d, weights=(r * inv)[self.s], minlength=n)
            new = alpha * gather + (alpha * r[sink].sum() + (1.0 - alpha)) / n
            l1 = np.abs(new - r).sum()
            r = new
            if l1 < tol:
                break
        return r

    def wcc_labels(self) -> np.ndarray:
        """Min-label fixpoint over the undirected view: each vertex gets the
        smallest vertex id of its weak component."""
        lab = np.arange(self.num_vertices)
        while True:
            m = lab.copy()
            np.minimum.at(m, self.s, lab[self.d])
            np.minimum.at(m, self.d, lab[self.s])
            m = m[m]  # pointer jumping; labels stay vertex indices
            if np.array_equal(m, lab):
                return self.verts[lab]
            lab = m

    def triangle_counts(self) -> np.ndarray:
        """Per-vertex triangle counts from a degree-oriented join in DuckDB."""
        edges = pd.DataFrame({"src": self.src_raw, "dst": self.dst_raw})
        con = duckdb.connect()
        try:
            con.register("edges", edges)
            got = con.execute(
                """
                WITH e AS (
                  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                  FROM edges WHERE src <> dst),
                deg AS (
                  SELECT v, count(*) AS d FROM (
                    SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e) GROUP BY v),
                o AS (
                  SELECT CASE WHEN da < db OR (da = db AND a < b) THEN a ELSE b END AS u,
                         CASE WHEN da < db OR (da = db AND a < b) THEN b ELSE a END AS w
                  FROM (SELECT e.a, e.b, d1.d AS da, d2.d AS db
                        FROM e JOIN deg d1 ON d1.v = e.a JOIN deg d2 ON d2.v = e.b)),
                tri AS (
                  SELECT o1.u AS x, o1.w AS y, o2.w AS z
                  FROM o o1 JOIN o o2 ON o1.u = o2.u AND o1.w <> o2.w
                  JOIN o o3 ON o3.u = o1.w AND o3.w = o2.w)
                SELECT v, count(*) AS c FROM (
                  SELECT x AS v FROM tri UNION ALL SELECT y FROM tri
                  UNION ALL SELECT z FROM tri) GROUP BY v
                """
            ).df()
        finally:
            con.close()
        counts = np.zeros(self.num_vertices, dtype=np.int64)
        counts[np.searchsorted(self.verts, got["v"].to_numpy())] = got["c"].to_numpy()
        return counts


def check_pagerank(t: Tally, name: str, g: RefGraph, ref: np.ndarray, vertex, rank) -> bool:
    got = g.align(vertex, rank)
    if got is None:
        return t.check(name, False, "vertex set differs from the graph's")
    err = float(np.max(np.abs(got - ref)))
    total = float(np.sum(got))
    return t.check(
        name,
        err <= PR_TOL and abs(total - 1.0) <= PR_TOL,
        f"max |rank - numpy| = {err:.3g}, sum = {total:.9f}",
    )


def check_url_pagerank(t: Tally, name: str, g: RefGraph, ref: np.ndarray, url, rank) -> bool:
    """Url-keyed ranks must equal the ranks of the same graph on int ids."""
    ids = pd.Series(url).str.extract(URL_PATTERN, expand=False)
    if ids.isna().any():
        return t.check(name, False, "url outside the generated site pattern")
    return check_pagerank(t, name, g, ref, ids.astype(np.int64).to_numpy(), rank)


def _canonical(labels: np.ndarray, verts: np.ndarray) -> np.ndarray:
    """Rename each class of a partition to its smallest member."""
    first = pd.Series(verts).groupby(labels).transform("min")
    return first.to_numpy()


def check_partition(t: Tally, name: str, g: RefGraph, ref_labels: np.ndarray, vertex, labels) -> bool:
    got = g.align(vertex, labels)
    if got is None:
        return t.check(name, False, "vertex set differs from the graph's")
    same = np.array_equal(_canonical(got, g.verts), _canonical(ref_labels, g.verts))
    return t.check(name, same, "partition differs from the numpy min-label fixpoint")


def check_lpa(t: Tally, name: str, g: RefGraph, wcc_ref: np.ndarray, vertex, labels) -> bool:
    """Every label is a vertex id lying in its vertex's weak component."""
    got = g.align(vertex, labels)
    if got is None:
        return t.check(name, False, "vertex set differs from the graph's")
    pos = np.searchsorted(g.verts, got)
    known = (pos < len(g.verts)) & (g.verts[np.minimum(pos, len(g.verts) - 1)] == got)
    if not known.all():
        return t.check(name, False, f"{int((~known).sum())} labels are not vertex ids")
    stray = int((wcc_ref[pos] != wcc_ref).sum())
    return t.check(name, stray == 0, f"{stray} labels outside their component")


def check_counts(t: Tally, name: str, g: RefGraph, ref: np.ndarray, vertex, counts) -> bool:
    got = g.align(vertex, counts)
    if got is None:
        return t.check(name, False, "vertex set differs from the graph's")
    bad = int((got.astype(np.int64) != ref).sum())
    return t.check(name, bad == 0, f"{bad} per-vertex counts differ from DuckDB")
