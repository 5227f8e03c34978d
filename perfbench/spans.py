"""Spans, Spark counters and the statistics rules of the benchmark.

A span records name, start, end, parent span and trace id, plus the deltas
of a set of cumulative counters taken at the same boundary (Spark job ids,
executor input/shuffle bytes). Spans stay in memory and are written out
when the run ends. Nothing here imports Spark; the counters take a live
SparkContext.
"""

from __future__ import annotations

import itertools
import math
import os
import statistics
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field


# ---------------------------------------------------------------- host

def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    machine's CPUs (the ``steal`` column of ``/proc/stat``)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


@contextmanager
def steal_share(out: list[float]):
    """Append to ``out`` the share of this machine's CPU time stolen by the
    hypervisor while the block ran."""
    s0, t0 = steal_s(), time.perf_counter()
    yield
    out.append((steal_s() - s0) / ((time.perf_counter() - t0) * (os.cpu_count() or 1)))


# ---------------------------------------------------------------- statistics

def median(values: list[float]) -> float:
    return float(statistics.median(values))


def calmest(steal: list[float], k: int) -> list[int]:
    """Indices, in order, of the ``k`` samples taken with the least host
    steal; on a tie the later sample (the warmer JVM) is kept."""
    ranked = sorted(range(len(steal)), key=lambda i: (steal[i], -i))
    return sorted(ranked[:k])


def tail_percentile(n: int, beyond: int = 10) -> int | None:
    """Highest whole percentile with at least ``beyond`` of ``n`` samples
    above it: p75 at 40 samples, p50 at 20. None when ``n <= beyond``."""
    if n <= beyond:
        return None
    return math.floor(100 * (n - beyond) / n)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(values)
    k = max(1, math.ceil(p / 100 * len(s)))
    return float(s[k - 1])


# ---------------------------------------------------------------- counters

def next_job_id(sc) -> int:
    """Id the DAG scheduler gives the next Spark job, so the difference of
    two readings counts the jobs started in between. The status store's
    job list is capped at ``spark.ui.retainedJobs``, so list sizes
    undercount."""
    return int(sc._jsc.sc().dagScheduler().nextJobId())  # py4j passes the AtomicInteger as an int


def executor_bytes(sc) -> dict[str, int]:
    """Cumulative input and shuffle bytes summed over the live executors
    (``statusStore().executorList(true)``; Spark 4.1 has no Python-callable
    ``stageList`` overload, so stage-level bytes are not used)."""
    execs = sc._jsc.sc().statusStore().executorList(True)
    out = {"input_bytes": 0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0}
    for i in range(execs.size()):
        e = execs.apply(i)
        out["input_bytes"] += int(e.totalInputBytes())
        out["shuffle_read_bytes"] += int(e.totalShuffleRead())
        out["shuffle_write_bytes"] += int(e.totalShuffleWrite())
    return out


def spark_counters(sc) -> Callable[[], dict[str, int]]:
    return lambda: {"jobs": next_job_id(sc), **executor_bytes(sc)}


# ---------------------------------------------------------------- spans

@dataclass
class Span:
    name: str
    span_id: int
    trace_id: int
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict[str, int] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. One stack for the process: the benchmark
    drives Spark from one thread at a time (the streaming callback thread
    runs while the main thread is blocked in ``awaitTermination``), so the
    innermost open span is always the caller of the next one."""

    def __init__(self, counters: Callable[[], dict[str, int]] | None = None):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._traces = itertools.count(1)
        self._counters = counters

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        trace_id = parent.trace_id if parent else next(self._traces)
        before = self._counters() if self._counters else {}
        s = Span(name, next(self._ids), trace_id,
                 parent.span_id if parent else None, time.perf_counter())
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            after = self._counters() if self._counters else {}
            # a span across a session restart has no common counters
            s.counts = {k: after[k] - before[k] for k in after if k in before}
            self.spans.append(s)

    def wrap(self, owner, attr: str, name: str) -> Callable[[], None]:
        """Replace ``owner.attr`` by a wrapper that opens span ``name``
        around each call; returns the function that restores it."""
        original = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(owner, attr, traced)
        return lambda: setattr(owner, attr, original)

    def to_json(self) -> list[dict]:
        return [
            {"name": s.name, "span_id": s.span_id, "trace_id": s.trace_id,
             "parent": s.parent, "start": s.start, "end": s.end,
             "self_s": st, "counts": s.counts}
            for s, st in zip(self.spans, self_times(self.spans))
        ]


def _union_length(intervals: list[tuple[float, float]]) -> float:
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


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the part of it its children cover
    (children clipped to the parent; overlapping children counted once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for s in spans:
        clipped = [(max(a, s.start), min(b, s.end))
                   for a, b in kids.get(s.span_id, []) if b > s.start and a < s.end]
        out.append(s.duration - _union_length(clipped))
    return out


def layer_totals(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Sum of self time, wall time, call count and counter deltas per span
    name. Counter deltas are inclusive of children, like wall time."""
    out: dict[str, dict[str, float]] = {}
    for s, st in zip(spans, self_times(spans)):
        agg = out.setdefault(s.name, {"self_s": 0.0, "wall_s": 0.0, "calls": 0})
        agg["self_s"] += st
        agg["wall_s"] += s.duration
        agg["calls"] += 1
        for k, v in s.counts.items():
            agg[k] = agg.get(k, 0) + v
    return out
