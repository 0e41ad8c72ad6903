"""Benchmark-side spans around the calls the benchmark makes into each
layer of the program, and the per-layer numbers they give.

A span is a Spark job group: entering one sets the group on the calling
thread, so every job launched inside it is credited to it, including jobs
from the worker threads of ``jd_miner``, ``acyclic`` and ``decompose``,
which re-apply their caller's group. Spans nest on the thread that opens
them; the parent of a span is the span open on that thread when it
starts. The program's files are not touched: ``wrap_engine`` wraps the
methods of one engine instance the benchmark created.

Per layer (all spans of one name in a pass):

- ``wall_s``: length of the union of the layer's span intervals.
- ``self_s``: ``wall_s`` minus the union of its child spans' intervals.
- ``jobs``, ``stages``, ``tasks``, ``task_s``, ``shuffle_mb``: Spark work
  of the layer's spans and their descendants, from the status store.
- ``driver_gap_s``: ``wall_s - task_s / cores``, time the cores idled.
- ``core_util``: ``task_s / (wall_s * cores)``.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import threading
import time
from dataclasses import dataclass

from status import JobStat, Totals

# the metrics every layer reports, with their units
GENERIC = {"wall_s": "s", "self_s": "s", "jobs": "count", "stages": "count",
           "tasks": "count", "task_s": "s", "shuffle_mb": "MB",
           "driver_gap_s": "s", "core_util": "ratio"}


@dataclass
class Span:
    name: str
    group: str
    parent: "Span | None"
    start: float = 0.0
    end: float = 0.0


class NullTracer:
    """Untraced passes: no job groups, no wrappers."""

    enabled = False

    def span(self, name):
        return contextlib.nullcontext()

    def wrap_engine(self, engine):
        return engine


class Tracer:
    enabled = True

    def __init__(self, spark, prefix: str):
        self._sc = spark.sparkContext
        self._prefix = prefix
        self._seq = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self.spans: list[Span] = []
        # engine.entropy request counts, kept by wrap_engine
        self.entropy_requests = 0

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> Span | None:
        st = self._stack()
        return st[-1] if st else None

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else None
        sp = Span(name, f"{self._prefix}-{next(self._seq)}", parent)
        with self._lock:
            self.spans.append(sp)
        self._sc.setJobGroup(sp.group, name)
        stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if parent is None:
                self._sc.setJobGroup(None, None)
            else:
                self._sc.setJobGroup(parent.group, parent.name)

    def wrap_engine(self, engine):
        """Instance-level wrappers on a SparkEntropyEngine's public entry
        points. Every outermost call counts its requested subsets. A call
        made on a thread with an open span (the benchmark's thread) gets an
        ``engine.entropy`` span; calls from the miner's worker threads —
        thousands of single-subset lookups per pass, nearly all served
        from the cache — are counted but not spanned, so their jobs stay
        with the span that started the fan-out."""
        local = threading.local()

        def wrap(method, requested):
            @functools.wraps(method)
            def call(*args, **kwargs):
                if getattr(local, "depth", 0):
                    return method(*args, **kwargs)
                if args and not isinstance(args[0], str):
                    # iterables are read twice: by the count and the call
                    args = (list(args[0]), *args[1:])
                n = requested(*args, **kwargs)
                with self._lock:
                    self.entropy_requests += n
                local.depth = 1
                try:
                    if self.current() is None:
                        return method(*args, **kwargs)
                    with self.span("engine.entropy"):
                        return method(*args, **kwargs)
                finally:
                    local.depth = 0
            return call

        def n_subsets(subsets, *a, **k):
            return len({frozenset(s) for s in subsets} - {frozenset()})

        def n_lattice(cols=None, *a, **k):
            width = len(cols if cols is not None else engine.schema_cols)
            return (1 << width) - 1

        engine.entropies = wrap(engine.entropies, n_subsets)
        engine.entropy = wrap(engine.entropy, lambda *a, **k: 1)
        engine.all_entropies = wrap(engine.all_entropies, n_lattice)
        engine.key_columns = wrap(engine.key_columns,
                                  lambda cols, *a, **k: len(cols))
        return engine


def _union(intervals: list[tuple[float, float]]) -> float:
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


def layer_metrics(spans: list[Span], jobs: list[JobStat], cores: int
                  ) -> tuple[dict[str, dict[str, float]], int]:
    """({layer: {metric: value}}, unattributed job count)."""
    by_group = {s.group: s for s in spans}
    work: dict[str, Totals] = {}
    unattributed = 0
    for job in jobs:
        sp = by_group.get(job.group)
        if sp is None:
            unattributed += 1
            continue
        names = set()
        while sp is not None:
            names.add(sp.name)
            sp = sp.parent
        for name in names:
            work.setdefault(name, Totals()).add(job)
    out: dict[str, dict[str, float]] = {}
    for name in {s.name for s in spans}:
        own = [(s.start, s.end) for s in spans if s.name == name]
        kids = [(s.start, s.end) for s in spans
                if s.parent is not None and s.parent.name == name
                and s.name != name]
        wall = _union(own)
        t = work.get(name, Totals())
        out[name] = {
            "wall_s": wall,
            "self_s": max(0.0, wall - _union(kids)),
            "jobs": t.jobs,
            "stages": t.stages,
            "tasks": t.tasks,
            "task_s": t.task_s,
            "shuffle_mb": t.shuffle_bytes / 1e6,
            "driver_gap_s": wall - t.task_s / cores,
            "core_util": t.task_s / (wall * cores) if wall > 0 else 0.0,
        }
    return out, unattributed
