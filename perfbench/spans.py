"""Spans and counters recorded around calls into the engine's layers.

The hooks live here, in the benchmark; the engine itself is not changed.
A traced run wraps a layer's public entry point (``wrapped``) so that each
call opens a span: name, start, end, parent span and run id. Spans stay in
memory until the run ends and are then written out in one file.

Each span also carries what the driver did while it was open: py4j
commands sent (``Py4jCounter``) and, when a SparkContext is attached, the
Spark jobs run under the span's own job group with their stages, tasks,
executor run time, shuffle bytes written and bytes spilled.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import Counter
from collections.abc import Callable, Iterator
from contextlib import contextmanager, nullcontext
from dataclasses import asdict, dataclass, field

SPARK_COUNTERS = ("jobs", "stages", "tasks", "executor_run_ms",
                  "shuffle_write_bytes", "spill_bytes")


@dataclass
class Span:
    """``counts["py4j"]`` includes the span's children; the Spark counters
    cover only jobs run under the span's own job group, so sum them over
    the subtree (``Tracer.subtree_count``)."""

    span_id: int
    parent_id: int | None
    run_id: str
    name: str
    start: float
    end: float = float("nan")
    counts: dict[str, int] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of it that child spans cover."""
    covered = 0.0
    run_start = run_end = None
    for s, e in sorted((max(c.start, span.start), min(c.end, span.end))
                       for c in children):
        if e <= s:
            continue
        if run_end is None or s > run_end:
            if run_end is not None:
                covered += run_end - run_start
            run_start, run_end = s, e
        else:
            run_end = max(run_end, e)
    if run_end is not None:
        covered += run_end - run_start
    return span.duration - covered


class Py4jCounter:
    """Counts the commands the Python driver sends to the JVM, by kind.

    ``calls`` leaves out memory commands (kind ``m``): py4j sends one to
    detach a proxy whenever Python's garbage collector frees it, so their
    number depends on GC timing and differs between identical runs."""

    def __init__(self, client) -> None:
        self._client = client
        self._lock = threading.Lock()
        self._paused = threading.local()
        self.by_kind: Counter[str] = Counter()

    def install(self) -> None:
        send = self._client.send_command

        def counting_send(command, *args, **kwargs):
            if not getattr(self._paused, "on", False):
                with self._lock:
                    self.by_kind[command[:1]] += 1
            return send(command, *args, **kwargs)

        self._client.send_command = counting_send

    @property
    def calls(self) -> int:
        with self._lock:
            return sum(n for kind, n in self.by_kind.items() if kind != "m")

    @contextmanager
    def paused(self) -> Iterator[None]:
        self._paused.on = True
        try:
            yield
        finally:
            self._paused.on = False


class Tracer:
    """In-memory span recorder for one benchmark run (single-threaded)."""

    def __init__(self, run_id: str, py4j: Py4jCounter | None = None,
                 sc=None, clock: Callable[[], float] = time.perf_counter):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._py4j = py4j
        self._sc = sc
        self._clock = clock
        self._pending: list[Span] = []
        self._children: dict[int | None, list[Span]] = {}
        self.overhead_s = 0.0  # time spent on the tracer's own bookkeeping

    def _group(self, span: Span | None) -> str | None:
        return None if span is None else f"{self.run_id}.{span.span_id}"

    def _set_group(self, span: Span | None) -> None:
        if self._sc is None:
            return
        group = self._group(span)
        if group is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(group, span.name)

    @contextmanager
    def _bookkeeping(self) -> Iterator[None]:
        t0 = time.perf_counter()
        with self._py4j.paused() if self._py4j else nullcontext():
            yield
        self.overhead_s += time.perf_counter() - t0

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), parent.span_id if parent else None,
                  self.run_id, name, 0.0)
        self.spans.append(sp)
        self._children.setdefault(sp.parent_id, []).append(sp)
        self._stack.append(sp)
        with self._bookkeeping():
            self._set_group(sp)
        py4j0 = self._py4j.calls if self._py4j else 0
        sp.start = self._clock()
        try:
            yield sp
        finally:
            sp.end = self._clock()
            if self._py4j:
                sp.counts["py4j"] = self._py4j.calls - py4j0
            self._stack.pop()
            with self._bookkeeping():
                self._set_group(parent)
            self._pending.append(sp)

    def collect_spark_counts(self) -> None:
        """Attach Spark job counters to every span closed since the last
        call. Waits for the listener bus first, so that the status store
        has seen every job that already returned and the counts are exact."""
        if self._sc is None:
            self._pending.clear()
            return
        with self._bookkeeping():
            jsc = self._sc._jsc.sc()
            jsc.listenerBus().waitUntilEmpty()
            tracker = self._sc.statusTracker()
            store = jsc.statusStore()
            for sp in self._pending:
                sp.counts.update(
                    _group_counts(tracker, store, self._group(sp)))
        self._pending.clear()

    def children(self, span: Span) -> list[Span]:
        return self._children.get(span.span_id, [])

    def subtree_count(self, span: Span, key: str) -> int:
        return span.counts.get(key, 0) + sum(
            self.subtree_count(c, key) for c in self.children(span))

    def self_times(self) -> dict[str, float]:
        """Self time summed per span name."""
        out: Counter[str] = Counter()
        for sp in self.spans:
            out[sp.name] += self_time(sp, self.children(sp))
        return dict(out)

    def dump(self, path: str, **extra) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id,
                       "spans": [asdict(s) for s in self.spans],
                       "self_time_s": self.self_times(),
                       "overhead_s": self.overhead_s, **extra}, f)
            f.write("\n")


def _group_counts(tracker, store, group: str) -> dict[str, int]:
    counts = dict.fromkeys(SPARK_COUNTERS, 0)
    stage_ids: set[int] = set()
    for job in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job)
        counts["jobs"] += 1
        if info is not None:
            stage_ids.update(info.stageIds)
    for sid in stage_ids:
        data = store.lastStageAttempt(sid)
        if data.status().toString() == "SKIPPED":
            continue
        counts["stages"] += 1
        counts["tasks"] += data.numTasks()
        counts["executor_run_ms"] += data.executorRunTime()
        counts["shuffle_write_bytes"] += data.shuffleWriteBytes()
        counts["spill_bytes"] += (data.memoryBytesSpilled()
                                  + data.diskBytesSpilled())
    return counts


@contextmanager
def wrapped(tracer: Tracer, owner, attr: str, name: str,
            after: Callable[[object], None] | None = None) -> Iterator[None]:
    """Replace ``owner.attr`` with a version that runs inside a span named
    ``name`` and then passes its result to ``after``; restore the original
    on exit."""
    own = attr in vars(owner)
    original = getattr(owner, attr)

    @functools.wraps(original)
    def traced(*args, **kwargs):
        with tracer.span(name):
            result = original(*args, **kwargs)
        if after is not None:
            after(result)
        return result

    setattr(owner, attr, traced)
    try:
        yield
    finally:
        if own:
            setattr(owner, attr, original)
        else:
            delattr(owner, attr)
