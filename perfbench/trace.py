"""Spans recorded around the benchmark's calls into the engine, and the Spark
event log folded onto them.

A span is (id, parent, name, start, end) in wall-clock seconds. Spans live in
memory and are turned into per-layer metrics when the run ends. Spark work is
attributed per job: a job belongs to the deepest span that was open when it
was submitted. The benchmark labels each public call with a job group, which
picks the span subtree; jobs from engine-internal threads carry no group and
are placed by time containment alone.
"""

from __future__ import annotations

import contextlib
import glob
import importlib
import json
import os
import time
from dataclasses import dataclass

GROUP_PREFIX = "perfbench-span-"
# event-log accumulables (SQL metrics) of the Arrow/Python-worker boundary
_PY_RUN = "time to run Python workers"  # ms
_PY_SENT = "data sent to Python workers"  # bytes
_PY_RETURNED = "data returned from Python workers"  # bytes


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; every method is a cheap no-op otherwise."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._sc = None
        self._next = 0
        # time spent in the tracer's own bookkeeping (trace.overhead_share)
        self.overhead_s = 0.0
        self._undo: list[tuple[object, str, object]] = []

    def bind(self, sc) -> None:
        self._sc = sc

    @contextlib.contextmanager
    def span(self, name: str, label: bool = True):
        """`label=True` tags the Spark jobs this thread submits inside the
        span with the span's job group (one py4j call on entry and exit); the
        hot point loop passes False and relies on time containment."""
        if not self.enabled:
            yield
            return
        b0 = time.perf_counter()
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        prev_group = None
        if label and self._sc is not None:
            prev_group = self._sc.getLocalProperty("spark.jobGroup.id")
            self._sc.setLocalProperty("spark.jobGroup.id", f"{GROUP_PREFIX}{sid}")
        wall0 = time.time()
        t0 = time.perf_counter()
        self.overhead_s += t0 - b0
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self.spans.append(Span(sid, parent, name, wall0, wall0 + (t1 - t0)))
            self._stack.pop()
            if label and self._sc is not None:
                self._sc.setLocalProperty("spark.jobGroup.id", prev_group)
            self.overhead_s += time.perf_counter() - t1

    def wrap(self, module_name: str, attr: str, name: str) -> None:
        """Replace `module.attr` with a timed wrapper recording child spans."""
        if not self.enabled:
            return
        module = importlib.import_module(module_name)
        self._undo.append((module, attr, getattr(module, attr)))
        setattr(module, attr, _Timed(self, getattr(module, attr), name, module_name, attr))

    def unwrap(self) -> None:
        while self._undo:
            module, attr, orig = self._undo.pop()
            setattr(module, attr, orig)


class _Timed:
    """Callable that times its target as an unlabelled child span. If Spark
    pickles it into a worker it travels as the unwrapped original."""

    def __init__(self, tracer: Tracer, fn, name: str, module_name: str, attr: str):
        self._tracer, self._fn, self._name = tracer, fn, name
        self._where = (module_name, attr)

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._name, label=False):
            return self._fn(*args, **kwargs)

    def __reduce__(self):
        return (original, self._where)


def original(module_name: str, attr: str):
    """Unpickling hook of `_Timed`: in a fresh process the attribute is the
    engine's own function."""
    return getattr(importlib.import_module(module_name), attr)


# ---------------------------------------------------------------- event log


@dataclass
class JobStats:
    start: float  # seconds, wall clock
    end: float
    group: str | None
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_b: int = 0
    spill_b: int = 0
    py_run_ms: int = 0
    py_sent_b: int = 0
    py_returned_b: int = 0


def read_event_log(log_dir: str) -> dict[int, JobStats]:
    """Jobs of the (single) application logged under `log_dir`, with their
    tasks' metrics summed. Handles plain and rolling (v2) log layouts."""
    files = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith((".", "appstatus"))
    )
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = e["Job ID"]
                    props = e.get("Properties") or {}
                    t = e["Submission Time"] / 1000.0
                    jobs[jid] = JobStats(t, t, props.get("spark.jobGroup.id"))
                    for sid in e.get("Stage IDs", []):
                        # a stage listed by several jobs runs in the first
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(e["Stage ID"], -1))
                    m = e.get("Task Metrics")
                    if job is None or not m:
                        continue
                    job.tasks += 1
                    job.run_ms += m.get("Executor Run Time", 0)
                    job.cpu_ns += m.get("Executor CPU Time", 0)
                    job.gc_ms += m.get("JVM GC Time", 0)
                    job.spill_b += m.get("Disk Bytes Spilled", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    job.shuffle_write_b += sw.get("Shuffle Bytes Written", 0)
                    for a in e["Task Info"].get("Accumulables", []):
                        name, upd = a.get("Name"), a.get("Update")
                        if upd is None:
                            continue
                        if name == _PY_RUN:
                            job.py_run_ms += int(upd)
                        elif name == _PY_SENT:
                            job.py_sent_b += int(upd)
                        elif name == _PY_RETURNED:
                            job.py_returned_b += int(upd)
    return jobs


def attribute(spans: list[Span], jobs: dict[int, JobStats]) -> dict[int, list[JobStats]]:
    """span id → jobs: the deepest span open at submission, searched inside
    the labelled span's subtree when the job carries a benchmark group."""
    by_id = {s.id: s for s in spans}
    depth: dict[int, int] = {}

    def _depth(s: Span) -> int:
        if s.id not in depth:
            depth[s.id] = 0 if s.parent is None else 1 + _depth(by_id[s.parent])
        return depth[s.id]

    def _within(s: Span, root: int) -> bool:
        while s is not None:
            if s.id == root:
                return True
            s = by_id.get(s.parent) if s.parent is not None else None
        return False

    slack = 0.002  # the event log stamps milliseconds
    out: dict[int, list[JobStats]] = {}
    for job in jobs.values():
        root = None
        if job.group and job.group.startswith(GROUP_PREFIX):
            root = int(job.group[len(GROUP_PREFIX):])
        best = None
        for s in spans:
            if not (s.start - slack <= job.start <= s.end + slack):
                continue
            if root is not None and not _within(s, root):
                continue
            if best is None or _depth(s) > _depth(best):
                best = s
        if best is None and root is not None:
            best = by_id.get(root)
        if best is not None:
            out.setdefault(best.id, []).append(job)
    return out


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Fold:
    """Per-layer sums over spans and the jobs attributed to them."""

    def __init__(self, spans: list[Span], jobs: dict[int, JobStats]):
        self.spans = spans
        self.by_id = {s.id: s for s in spans}
        self.children: dict[int, list[Span]] = {}
        for s in spans:
            if s.parent is not None:
                self.children.setdefault(s.parent, []).append(s)
        self.jobs_of = attribute(spans, jobs)

    def named(self, name: str, under: str | None = None) -> list[Span]:
        """Spans called `name`, optionally only those below a `under` span."""
        out = []
        for s in self.spans:
            if s.name != name:
                continue
            if under is not None and not self._has_ancestor(s, under):
                continue
            out.append(s)
        return out

    def _has_ancestor(self, s: Span, name: str) -> bool:
        while s.parent is not None:
            s = self.by_id[s.parent]
            if s.name == name:
                return True
        return False

    def subtree(self, s: Span) -> list[Span]:
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(self.children.get(x.id, []))
        return out

    def jobs(self, spans: list[Span]) -> list[JobStats]:
        """Jobs attributed to the given spans or anything below them."""
        out = []
        for s in spans:
            for x in self.subtree(s):
                out.extend(self.jobs_of.get(x.id, []))
        return out

    def self_s(self, s: Span) -> float:
        """Duration minus the part covered by child spans."""
        kids = [(c.start, c.end) for c in self.children.get(s.id, [])]
        return s.dur - union_s(kids)


def spark_totals(jobs: list[JobStats]) -> dict[str, float]:
    return {
        "spark_jobs": len(jobs),
        "tasks": sum(j.tasks for j in jobs),
        "executor_run_s": sum(j.run_ms for j in jobs) / 1e3,
        "executor_cpu_s": sum(j.cpu_ns for j in jobs) / 1e9,
        "python_run_s": sum(j.py_run_ms for j in jobs) / 1e3,
        "to_python_mb": sum(j.py_sent_b for j in jobs) / 2**20,
        "from_python_mb": sum(j.py_returned_b for j in jobs) / 2**20,
        "shuffle_write_mb": sum(j.shuffle_write_b for j in jobs) / 2**20,
        "spill_mb": sum(j.spill_b for j in jobs) / 2**20,
        "gc_s": sum(j.gc_ms for j in jobs) / 1e3,
    }
