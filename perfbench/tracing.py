"""Spans around the public calls of each layer, with Spark job counts.

A traced operation wraps every public method of the source, target and
controller objects the benchmark builds (and the reader calls of the
read-back workload) in a span: name, start, end, parent span and
operation id. Each span runs under its own Spark job group, so the jobs
and tasks a call launched are counted where they ran. Spans stay in
memory and are written out once, when the run ends.

Layers are the engine's modules: ``sources``, ``targets.<fmt>``,
``sync`` and ``read.<fmt>``; ``op`` is the benchmark's own root span.
A span's self time is its duration minus the time its children cover.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    op_id: int
    start: float
    end: float = 0.0
    jobs: int = 0
    tasks: int = 0


class NullTracer:
    """Tracing off: objects pass through, spans cost one no-op context."""

    def instrument(self, obj, layer: str):
        return obj

    def span(self, name: str):
        return contextlib.nullcontext()


class Tracer(NullTracer):
    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op_id = -1

    def _group(self, span: Span) -> str:
        return f"perfbench-span-{span.span_id}"

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        span = Span(
            span_id=len(self.spans),
            name=name,
            parent=parent.span_id if parent else None,
            op_id=self._op_id,
            start=time.perf_counter(),
        )
        self.spans.append(span)
        self._stack.append(span)
        self.sc.setJobGroup(self._group(span), name)
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(self._group(parent), parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextlib.contextmanager
    def operation(self, op_id: int):
        """Root span of one traced operation; job counts are read after
        it ends, once Spark's listener has seen every job finish."""
        self._op_id = op_id
        first = len(self.spans)
        with self.span("op") as root:
            yield root
        self._count_jobs(self.spans[first:])

    def _count_jobs(self, spans: list[Span]) -> None:
        bus = self.sc._jsc.sc().listenerBus()
        bus.waitUntilEmpty()
        tracker = self.sc.statusTracker()
        for span in spans:
            for job_id in tracker.getJobIdsForGroup(self._group(span)):
                span.jobs += 1
                job = tracker.getJobInfo(job_id)
                for stage_id in job.stageIds if job else ():
                    stage = tracker.getStageInfo(stage_id)
                    span.tasks += stage.numCompletedTasks if stage else 0

    def instrument(self, obj, layer: str):
        """Wrap every public method of ``obj`` in a ``<layer>.<method>``
        span. Only attributes the object already has are replaced, so
        ``hasattr`` probes by the controller see the same surface."""
        for name, _ in inspect.getmembers(type(obj), inspect.isfunction):
            if not name.startswith("_"):
                setattr(obj, name, self._wrap(f"{layer}.{name}", getattr(obj, name)))
        return obj

    def _wrap(self, name: str, method):
        @functools.wraps(method)
        def traced(*args, **kwargs):
            with self.span(name):
                return method(*args, **kwargs)

        return traced

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for span in self.spans:
                fh.write(json.dumps(asdict(span)) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id -> duration minus the time its direct children cover
    (children of one span run one after another, never overlapping)."""
    child_time: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child_time[s.parent] = child_time.get(s.parent, 0.0) + (s.end - s.start)
    return {s.span_id: (s.end - s.start) - child_time.get(s.span_id, 0.0) for s in spans}
