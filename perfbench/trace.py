"""Spans recorded from outside the engine, at its public call boundaries.

A span names the engine layer a call belongs to (``operators.shards``,
``plans.wand``, ...). When tracing is on, entering a span also tags the
calling thread's Spark jobs with ``setJobGroup(<layer>)``, so the event-log
aggregator (``eventlog.py``) can charge each task to the layer that caused
it. Spans are kept in memory and summarised when the run ends.
"""

from __future__ import annotations

import contextlib
import threading
import time
from dataclasses import dataclass

JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    layer: str
    start: float
    end: float
    thread: str

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans. With ``enabled`` False it still times spans (the
    workloads read their own latencies from them) but never touches Spark's
    job groups."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()

    def tag(self, layer: str) -> None:
        """Tag the calling thread's later jobs with ``layer``."""
        if self.enabled:
            self.sc.setJobGroup(layer, layer)

    def _restore(self, prev: str | None) -> None:
        if not self.enabled:
            return
        if prev is None:
            self.sc.setLocalProperty(JOB_GROUP, None)
        else:
            self.sc.setJobGroup(prev, prev)

    @contextlib.contextmanager
    def span(self, layer: str):
        prev = self.sc.getLocalProperty(JOB_GROUP) if self.enabled else None
        self.tag(layer)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._restore(prev)
            self.add(Span(layer, start, end, threading.current_thread().name))

    def add(self, span: Span) -> None:
        with self._lock:
            self.spans.append(span)

    def of(self, layer: str) -> list[Span]:
        with self._lock:
            return [s for s in self.spans if s.layer == layer]

    def wall_s(self, layer: str) -> float:
        return sum(s.wall_s for s in self.of(layer))


class _TimedFrame:
    """A lazy result frame that ends its batch's span when it, or a frame
    derived from it (``orderBy``, ``select``, ...), is collected: the
    engine's last Spark job runs in that ``collect``, not in
    ``search_batch``. Every other attribute is forwarded to the frame."""

    def __init__(self, frame, done):
        self._frame = frame
        self._done = done

    def collect(self):
        try:
            return self._frame.collect()
        finally:
            self._done()

    def __getattr__(self, name):
        from pyspark.sql import DataFrame

        attr = getattr(self._frame, name)
        if not callable(attr):
            return attr

        def call(*args, **kwargs):
            out = attr(*args, **kwargs)
            return _TimedFrame(out, self._done) if isinstance(out, DataFrame) else out

        return call


class EngineProxy:
    """Times a batch of a wrapped query engine, from ``search_batch`` until
    the caller has collected the frame it returned.

    ``SearchService``'s micro-batcher calls the engine from its own dispatch
    thread, so the job group must be set in that thread: the proxy tags it
    on every call and leaves the tag in place, which also charges the
    batcher's follow-up ``collect`` of the returned frame to the same layer.
    The proxy keeps its own spans too, so a caller can tell the batches of
    one service from another's. Every other attribute is forwarded to the
    engine."""

    def __init__(self, engine, tracer: Tracer, layer: str = "plans.wand"):
        self._engine = engine
        self._tracer = tracer
        self._layer = layer
        self.spans: list[Span] = []

    def search_batch(self, queries, *args, **kwargs):
        self._tracer.tag(self._layer)
        start, thread = time.perf_counter(), threading.current_thread().name
        ended = []

        def done() -> None:
            if not ended:
                ended.append(True)
                span = Span(self._layer, start, time.perf_counter(), thread)
                self.spans.append(span)
                self._tracer.add(span)

        try:
            res = self._engine.search_batch(queries, *args, **kwargs)
        except BaseException:
            done()
            raise
        if res is None:
            done()
            return None
        return _TimedFrame(res, done)

    def __getattr__(self, name):
        return getattr(self._engine, name)
