"""Span tracer for the traced run.

Spans are opened by the benchmark around its calls into each layer, and
by wrappers that the traced run installs on package module attributes
(``commit_version``, ``read_version``, ``write_rotating``, ...) so calls
made inside the streaming ingesters are seen without changing any
package file. Spans are kept in memory; Spark jobs, stages and tasks are
attributed to them once, when the run ends, from the status store.

Attribution: a job belongs to the span whose job group it carries (each
span sets its own); jobs submitted from threads that do not inherit the
group (the streaming query's own thread) go to the innermost span whose
interval holds their submission time. With one client thread the two
rules agree. Stage metrics count each stage once, at the first job that
ran it; skipped stages count nothing.
"""

from __future__ import annotations

import contextlib
import functools
import threading
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

GROUP_PREFIX = "perfbench-span-"


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    depth: int
    end: float = 0.0
    jobs: list = field(default_factory=list)

    @property
    def group(self) -> str:
        return f"{GROUP_PREFIX}{id(self)}"


class Tracer:
    """Records spans while ``enabled`` and ``active``; otherwise spans
    and wrappers cost one attribute check."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.active = False  # set only while a traced operation runs
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self.sc = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not (self.enabled and self.active) or self.sc is None:
            yield
            return
        sc = self.sc
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            s = Span(name, time.time(), parent, len(self._stack))
            self.spans.append(s)
            idx = len(self.spans) - 1
            self._stack.append(idx)
        prev = (sc.getLocalProperty("spark.jobGroup.id"), sc.getLocalProperty("spark.job.description"))
        sc.setJobGroup(s.group, name)
        try:
            yield
        finally:
            s.end = time.time()
            sc.setLocalProperty("spark.jobGroup.id", prev[0])
            sc.setLocalProperty("spark.job.description", prev[1])
            with self._lock:
                self._stack.remove(idx)

    def wrap(self, module, attr: str, name: str) -> None:
        """Open a ``name`` span around every call of ``module.attr``."""
        if not self.enabled:
            return
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self._patches.append((module, attr, orig))
        setattr(module, attr, traced)

    def unwrap(self) -> None:
        for module, attr, orig in reversed(self._patches):
            setattr(module, attr, orig)
        self._patches.clear()

    # ------------------------------------------------------------------
    # Attribution, once at the end of the run
    # ------------------------------------------------------------------

    def attribute(self, sc, no_scan_under: tuple[str, ...] = ()) -> dict[str, dict]:
        """Per span name: calls, wall (outermost spans of that name),
        jobs, stages, tasks and stage metrics of the jobs whose innermost
        span it is, driver time, and JSON-scan stage totals. JSON scans
        of jobs inside a span named in ``no_scan_under`` are not counted
        as scans."""
        out: dict[str, dict] = {}
        if not self.enabled:
            return out
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        by_group = {s.group: i for i, s in enumerate(self.spans)}
        jobs = []
        it = store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            sub, comp = j.submissionTime(), j.completionTime()
            if not sub.isDefined():
                continue
            grp = j.jobGroup()
            jobs.append((
                j.jobId(),
                grp.get() if grp.isDefined() else None,
                sub.get().getTime() / 1000.0,
                comp.get().getTime() / 1000.0 if comp.isDefined() else sub.get().getTime() / 1000.0,
                _seq(j.stageIds()),
            ))
        jobs.sort()
        seen_stages: set[int] = set()
        for jid, grp, t0, t1, stage_ids in jobs:
            owner = by_group.get(grp)
            if owner is None:
                owner = self._innermost(t0)
            if owner is None:
                continue
            count_scans = not self._under(owner, no_scan_under)
            stats = {"t0": t0, "t1": t1, "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
                     "gc_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
                     "scan_tasks": 0, "scan_run_s": 0.0}
            for sid in stage_ids:
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage evicted or never submitted
                    continue
                if str(st.status()) not in ("COMPLETE", "FAILED"):
                    continue
                stats["stages"] += 1
                stats["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                stats["run_s"] += st.executorRunTime() / 1000.0
                stats["cpu_s"] += st.executorCpuTime() / 1e9
                stats["gc_s"] += st.jvmGcTime() / 1000.0
                stats["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
                stats["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
                if count_scans and _scans_json(store, sid):
                    stats["scan_tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                    stats["scan_run_s"] += st.executorRunTime() / 1000.0
            self.spans[owner].jobs.append(stats)

        children: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            if s.parent is not None:
                children.setdefault(s.parent, []).append(i)
        for i, s in enumerate(self.spans):
            rec = out.setdefault(s.name, {
                "calls": 0, "wall_s": 0.0, "jobs": 0, "stages": 0, "tasks": 0, "exec_run_s": 0.0,
                "exec_cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
                "driver_s": 0.0, "scan_tasks": 0, "scan_run_s": 0.0,
            })
            if not self._inside_same_name(i):
                rec["calls"] += 1
                rec["wall_s"] += s.end - s.start
            rec["jobs"] += len(s.jobs)
            for j in s.jobs:
                rec["stages"] += j["stages"]
                rec["tasks"] += j["tasks"]
                rec["exec_run_s"] += j["run_s"]
                rec["exec_cpu_s"] += j["cpu_s"]
                rec["gc_s"] += j["gc_s"]
                rec["shuffle_write_mb"] += j["shuffle_write_mb"]
                rec["spill_mb"] += j["spill_mb"]
                rec["scan_tasks"] += j["scan_tasks"]
                rec["scan_run_s"] += j["scan_run_s"]
            own = _subtract([(s.start, s.end)], [(self.spans[c].start, self.spans[c].end) for c in children.get(i, [])])
            busy = _intersect(own, _union([(j["t0"], j["t1"]) for j in s.jobs]))
            rec["driver_s"] += _length(own) - _length(busy)
        return out

    def _innermost(self, t: float) -> int | None:
        best = None
        for i, s in enumerate(self.spans):
            if s.start <= t <= s.end and (best is None or s.depth > self.spans[best].depth):
                best = i
        return best

    def _under(self, i: int, names: tuple[str, ...]) -> bool:
        while i is not None:
            if self.spans[i].name in names:
                return True
            i = self.spans[i].parent
        return False

    def _inside_same_name(self, i: int) -> bool:
        p = self.spans[i].parent
        while p is not None:
            if self.spans[p].name == self.spans[i].name:
                return True
            p = self.spans[p].parent
        return False


def _seq(scala_seq) -> list:
    out, it = [], scala_seq.iterator()
    while it.hasNext():
        out.append(it.next())
    return out


def _scans_json(store, sid: int) -> bool:
    try:
        root = store.operationGraphForStage(sid).rootCluster()
    except Py4JJavaError:  # no graph recorded for this stage
        return False
    todo = [root]
    while todo:
        c = todo.pop()
        if "Scan json" in c.name() or any("Scan json" in n.name() for n in _seq(c.childNodes())):
            return True
        todo.extend(_seq(c.childClusters()))
    return False


def _union(iv: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(iv):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _subtract(base: list[tuple[float, float]], cut: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out = []
    cuts = _union(cut)
    for a, b in base:
        cur = a
        for c, d in cuts:
            if d <= cur or c >= b:
                continue
            if c > cur:
                out.append((cur, c))
            cur = max(cur, d)
        if cur < b:
            out.append((cur, b))
    return out


def _intersect(x: list[tuple[float, float]], y: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out = []
    for a, b in x:
        for c, d in y:
            lo, hi = max(a, c), min(b, d)
            if lo < hi:
                out.append((lo, hi))
    return out


def _length(iv: list[tuple[float, float]]) -> float:
    return sum(b - a for a, b in iv)
