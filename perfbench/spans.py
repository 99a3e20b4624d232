"""Spans around the engine's public functions, and Spark counters.

:class:`Tracer` replaces a function at the module (or class) attribute
where its caller looks it up, for the length of a ``with`` block.
Each call becomes a span (name, start, end, parent) with a Spark job
group of its own, so the jobs a layer launched can be counted from
``statusTracker`` afterwards.  Spans stay in memory until the run
ends.  The wrappers are removed when the block exits, also on error.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    group: str
    end: float = 0.0
    args: tuple = ()
    kwargs: dict = field(default_factory=dict)
    result: object = None

    @property
    def duration(self) -> float:
        return self.end - self.start


def _resolve(target: str):
    """'pkg.mod:attr' or 'pkg.mod:Class.attr' -> (owner, attr)."""
    mod_name, path = target.split(":")
    owner = importlib.import_module(mod_name)
    *outer, attr = path.split(".")
    for part in outer:
        owner = getattr(owner, part)
    return owner, attr


class Tracer:
    """Collects spans; ``patch`` wraps one attribute per target.

    ``keep_io`` names the spans whose arguments and return value are
    kept, for counts the benchmark makes after the timed operation."""

    def __init__(self, sc, keep_io: frozenset[str] = frozenset()):
        self.sc = sc
        self.keep_io = keep_io
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._patched: list[tuple[object, str, object]] = []

    # -- spans -----------------------------------------------------------
    def _set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, group)

    def begin(self, name: str) -> Span:
        sid = next(self._ids)
        span = Span(sid, name,
                    self._stack[-1].sid if self._stack else None,
                    time.perf_counter(), f"perfbench-{sid}-{name}")
        self._set_group(span.group)
        self._stack.append(span)
        return span

    def finish(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack.pop()
        self.spans.append(span)
        self._set_group(self._stack[-1].group if self._stack else None)

    def call(self, name: str, fn, *args, **kwargs):
        span = self.begin(name)
        try:
            result = fn(*args, **kwargs)
        finally:
            self.finish(span)
        if name in self.keep_io:
            span.args, span.kwargs, span.result = args, kwargs, result
        return result

    # -- wrappers --------------------------------------------------------
    def patch(self, targets: dict[str, str]) -> "Tracer":
        """targets: {'module:attr': span name}."""
        for target, name in targets.items():
            owner, attr = _resolve(target)
            orig = getattr(owner, attr)
            setattr(owner, attr, _wrapper(self, name, orig))
            self._patched.append((owner, attr, orig))
        return self

    def unpatch(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def __enter__(self) -> "Tracer":
        return self

    def __exit__(self, *exc) -> None:
        self.unpatch()
        while self._stack:
            self.finish(self._stack[-1])

    # -- analysis --------------------------------------------------------
    def parent_name(self, span: Span) -> str | None:
        for s in self.spans:
            if s.sid == span.parent:
                return s.name
        return None

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.sid]

    def descendants(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            kids = self.children(todo.pop())
            out.extend(kids)
            todo.extend(kids)
        return out

    def self_time(self, span: Span) -> float:
        """Duration minus the part covered by direct children (one
        thread, so children never overlap)."""
        return span.duration - sum(c.duration for c in self.children(span))

    def named(self, name: str, under: Span | None = None) -> list[Span]:
        pool = self.descendants(under) if under else self.spans
        return sorted((s for s in pool if s.name == name),
                      key=lambda s: s.start)

    def jobs(self, span: Span, deep: bool = True) -> list[int]:
        tracker = self.sc.statusTracker()
        spans = [span] + (self.descendants(span) if deep else [])
        return sorted(j for s in spans
                      for j in tracker.getJobIdsForGroup(s.group))


def _wrapper(tracer: Tracer, name: str, orig):
    # a plain function: stored on a class it binds like the original,
    # so `self` passes through to the wrapped method
    @functools.wraps(orig)
    def wrapper(*args, **kwargs):
        return tracer.call(name, orig, *args, **kwargs)
    return wrapper


def job_stats(sc, job_ids: list[int]) -> dict:
    """Jobs, stages that ran tasks, and completed tasks."""
    tracker = sc.statusTracker()
    stages: set[int] = set()
    tasks = 0
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is None or sid in stages or st.numCompletedTasks == 0:
                continue
            stages.add(sid)
            tasks += st.numCompletedTasks
    return {"spark_jobs": len(job_ids), "spark_stages": len(stages),
            "tasks": tasks}


def executor_totals(sc) -> dict:
    """Cumulative shuffle/input bytes and GC time over all executors
    (the status store's executor summary)."""
    seq = sc._jsc.sc().statusStore().executorList(True)
    out = {"shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
           "input_bytes": 0, "gc_ms": 0}
    for i in range(seq.size()):
        e = seq.apply(i)
        out["shuffle_read_bytes"] += e.totalShuffleRead()
        out["shuffle_write_bytes"] += e.totalShuffleWrite()
        out["input_bytes"] += e.totalInputBytes()
        out["gc_ms"] += e.totalGCTime()
    return out
