"""Shared pieces of the three workloads: the timed loop, the tracer, and
the result line.

Timing rules, the same on every workload:

* one client, closed loop, one op in flight;
* untimed warm-up units run first and count toward ``setup_s``;
* every timing metric is a median over the run's timed ops, never a
  single-pass sum.

The tracer records spans from the benchmark's own files, around calls into
the program's public functions. A span is ``name, start, end, parent, op``;
spans are kept in memory and written once, when the run ends. In a traced
run a span can also read the Spark job and task counts its call caused,
from ``SparkContext.statusTracker()``.
"""

from __future__ import annotations

import itertools
import json
import math
import os
import statistics
import sys
import threading
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress on standard error; standard output carries only the result."""
    print(f"perfbench [{time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def geomean(values) -> float:
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values)) if values else 0.0


def files(path: str) -> dict[str, int]:
    """Size of every file under ``path``."""
    out = {}
    for parent, _, names in os.walk(path):
        for name in names:
            p = os.path.join(parent, name)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:
                pass
    return out


def dir_bytes(path: str) -> int:
    return sum(files(path).values())


class SparkCounter:
    """Spark jobs and tasks started between two points of the program.

    Job and stage ids only grow, so the work of a call is every job whose
    id is above the newest id seen before it, and every stage of those
    jobs whose id is above the newest stage id seen before it (a stage
    reused from earlier work keeps its old id and ran no task now). The
    listener bus is drained first so the tracker has seen every event."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._tracker = self._sc.statusTracker()

    def _drain(self) -> None:
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def mark(self) -> tuple[int, int]:
        self._drain()
        jobs = self._tracker.getJobIdsForGroup()
        if not jobs:
            return -1, -1
        newest = max(jobs)
        info = self._tracker.getJobInfo(newest)
        return newest, max(list(info.stageIds), default=-1) if info else -1

    def since(self, mark: tuple[int, int]) -> tuple[int, int]:
        self._drain()
        job_floor, stage_floor = mark
        jobs = [j for j in self._tracker.getJobIdsForGroup() if j > job_floor]
        stages = set()
        for j in jobs:
            info = self._tracker.getJobInfo(j)
            if info is not None:
                stages.update(s for s in info.stageIds if s > stage_floor)
        tasks = 0
        for s in stages:
            info = self._tracker.getStageInfo(s)
            if info is not None:
                tasks += info.numCompletedTasks
        return len(jobs), tasks


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0
    jobs: int | None = None
    tasks: int | None = None

    @property
    def s(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans in memory. ``enabled=False`` still times spans (the workloads
    need the durations for their end-to-end metrics) but keeps no record
    and reads no Spark counters."""

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.counter = SparkCounter(spark) if (enabled and spark is not None) else None
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._op: int | None = None
        self._op_root: int | None = None

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, count: bool = False, op: int | None = None):
        """Time the block. ``count=True`` also reads the Spark jobs and
        tasks it caused; use it only where no other thread submits jobs
        at the same time. ``op`` opens a new op: its span becomes the
        parent of spans that other threads open while it runs."""
        stack = self._stack()
        if op is not None:
            self._op = op
        parent = stack[-1] if stack else self._op_root
        sp = Span(next(self._ids), name, parent, self._op, 0.0)
        mark = self.counter.mark() if (count and self.counter) else None
        if op is not None:
            self._op_root = sp.id
        stack.append(sp.id)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if op is not None:
                self._op_root = None
            if mark is not None:
                sp.jobs, sp.tasks = self.counter.since(mark)
            if self.enabled:
                self.spans.append(sp)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([sp.__dict__ for sp in self.spans], f)


@dataclass
class Run:
    """What one benchmark run collects, and the result line built from it."""

    attempted: int = 0
    failed: int = 0
    checks_ok: bool = True
    # op-time sum of each timed unit, keyed by whether the unit was traced
    unit_s: dict[bool, list[float]] = field(default_factory=lambda: defaultdict(list))
    # per-layer samples: times from every traced unit; counts from the first
    # traced unit only, so two runs with one seed count the same work
    layer: dict[str, list[float]] = field(default_factory=lambda: defaultdict(list))
    counting: bool = False

    def time(self, name: str, value: float) -> None:
        self.layer[name].append(value)

    def count(self, name: str, value: float | None) -> None:
        if self.counting:
            self.layer[name].append(value or 0)

    def fail(self, what: str, exc: BaseException | None = None) -> None:
        self.failed += 1
        print(f"perfbench: failed: {what}", file=sys.stderr)
        if exc is not None:
            traceback.print_exception(exc, file=sys.stderr)

    def result(self, metrics: dict[str, tuple[float, str]]) -> dict:
        return {
            "correct": self.checks_ok and self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
        }

    def end_to_end(self, setup_s: float, op_s: float) -> dict:
        return self.result(
            {"setup_s": (setup_s, "s"), "op_s": (op_s, "s"), "unit_s": (median(self.unit_s[False]), "s")}
        )

    def trace_overhead(self) -> float:
        """Traced units' median op time over untraced units' median, minus
        one; units alternate traced and untraced in a traced run."""
        on, off = median(self.unit_s[True]), median(self.unit_s[False])
        return on / off - 1.0 if on and off else 0.0

    def timed_trend(self) -> float:
        """Median op time of the later half of the untraced units over that
        of the earlier half, minus one: below 0 means the timed units still
        got faster, i.e. warm-up was too short."""
        xs = self.unit_s[False]
        h = len(xs) // 2
        return median(xs[-h:]) / median(xs[:h]) - 1.0 if h else 0.0

    def per_layer(self, names: dict[str, str], extra: dict[str, float]) -> dict:
        """Every name in ``names``: its value in ``extra`` if there, else the
        median of its samples (0 if none)."""
        return self.result(
            {n: (extra[n] if n in extra else median(self.layer[n]), u) for n, u in names.items()}
        )


def timed_units(seconds: float, min_units: int, trace: bool):
    """Yield ``(index, traced)`` for the timed units: at least ``min_units``,
    then more until ``seconds`` have passed. A unit in progress always
    finishes. In a traced run units alternate traced, untraced, ..."""
    start = time.perf_counter()
    for i in itertools.count():
        if i >= min_units and time.perf_counter() - start >= seconds:
            return
        yield i, (trace and i % 2 == 0)
