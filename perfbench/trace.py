"""Spans and Spark counters taken from outside the engine.

The tracer wraps module attributes of the engine (``etl.clean``,
``Warehouse.write`` …) with functions that record a span — name, start,
end, parent span and request id — and, for every span, the Spark work
it caused: the jobs tagged with the span's job group
(``sc.setJobGroup``) and the difference of the status store's executor
counters (``statusStore().executorList``) across the call: input and
shuffle bytes, tasks and GC time. Spans stay in memory
and are written out when the run ends.

Wrappers stay installed until ``unwrap_all``. ``overhead_s`` adds up
the time the tracer itself spends around each call (counter reads,
job-group tagging), which is what tracing adds to the traced run's
latencies.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

_COUNTERS = ("input_bytes", "shuffle_write", "shuffle_read", "tasks", "gc_ms")


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    request: int | None
    end: float = 0.0
    jobs: int = 0  # jobs launched while this span was innermost
    counters: dict[str, int] = field(default_factory=dict)  # inclusive
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def executor_totals(sc) -> dict[str, int]:
    """Sum of the status store's executor counters. Waits for the
    listener bus first so every finished task is counted."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    execs = jsc.statusStore().executorList(True)
    tot = dict.fromkeys(_COUNTERS, 0)
    for i in range(execs.size()):
        e = execs.apply(i)
        tot["input_bytes"] += int(e.totalInputBytes())
        tot["shuffle_write"] += int(e.totalShuffleWrite())
        tot["shuffle_read"] += int(e.totalShuffleRead())
        tot["tasks"] += int(e.completedTasks()) + int(e.failedTasks())
        tot["gc_ms"] += int(e.totalGCTime())
    return tot


def span(tracer: "Tracer | None", name: str, **attrs):
    """A span context on ``tracer``, or nothing when not tracing."""
    return tracer.span(name, **attrs) if tracer is not None else nullcontext()


def start_op(tracer: "Tracer | None") -> None:
    """Begin the next operation of the measured loop: its spans share a
    new request id."""
    if tracer is not None:
        tracer.request = next(tracer._requests)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._requests = itertools.count()
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._groups = itertools.count()
        self._undo: list[tuple[object, str, object]] = []
        self.request: int | None = None
        self.overhead_s = 0.0

    # --- spans ----------------------------------------------------------------

    def begin(self, name: str, **attrs) -> int:
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        span = Span(name, 0.0, parent, self.request, attrs=attrs)
        span.counters = executor_totals(self.sc)
        span.attrs["group"] = f"pb-{next(self._groups)}"
        self.sc.setJobGroup(span.attrs["group"], name)
        self.spans.append(span)
        idx = len(self.spans) - 1
        self._stack.append(idx)
        span.start = time.perf_counter()
        self.overhead_s += span.start - t0
        return idx

    def end(self, idx: int) -> None:
        span = self.spans[idx]
        span.end = time.perf_counter()
        after = executor_totals(self.sc)
        span.counters = {k: after[k] - span.counters[k] for k in _COUNTERS}
        span.jobs = len(self.sc.statusTracker().getJobIdsForGroup(span.attrs["group"]))
        self._stack.pop()
        if self._stack:
            self.sc.setJobGroup(self.spans[self._stack[-1]].attrs["group"], "")
        else:
            self.sc._jsc.clearJobGroup()
        self.overhead_s += time.perf_counter() - span.end

    def span(self, name: str, **attrs):
        return _SpanCtx(self, name, attrs)

    def wrap(self, owner, attr: str, name: str, on_enter=None, on_call=None) -> None:
        """Replace ``owner.attr`` with a recording wrapper. ``on_enter``
        (args, kwargs, span) and ``on_call`` (args, kwargs, result, span)
        add attributes to the span before and after the call."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            idx = tracer.begin(name)
            if on_enter is not None:
                on_enter(args, kwargs, tracer.spans[idx])
            try:
                result = orig(*args, **kwargs)
            finally:
                tracer.end(idx)
            if on_call is not None:
                on_call(args, kwargs, result, tracer.spans[idx])
            return result

        wrapper.__wrapped__ = orig
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # --- summaries --------------------------------------------------------------

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def inclusive_jobs(self) -> list[int]:
        """Jobs of each span including those of its descendants."""
        tot = [s.jobs for s in self.spans]
        for i in range(len(self.spans) - 1, -1, -1):
            p = self.spans[i].parent
            if p is not None:
                tot[p] += tot[i]
        return tot

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "request": s.request, "jobs": s.jobs,
                    **s.counters,
                    **{k: v for k, v in s.attrs.items() if k != "group"},
                }) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.name, self.attrs = tracer, name, attrs
        self.idx = 0

    def __enter__(self) -> "_SpanCtx":
        self.idx = self.tracer.begin(self.name, **self.attrs)
        return self

    def __exit__(self, *exc) -> None:
        self.tracer.end(self.idx)
