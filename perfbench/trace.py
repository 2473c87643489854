"""Spans recorded from outside the program, for the traced run.

Every span is recorded by the benchmark around a call into one layer:

- ``lake``: public methods of ``ParquetMaintainedTable``, through the
  :func:`traced_table_class` subclass the resolver hands out;
- ``schedule``: the schedule reads the orchestrator makes
  (``read_schedule`` as the orchestrator module sees it);
- ``stats``: the stats sink, and the partition-stats scan of the
  incremental ANALYZE;
- ``orchestrator``: one span per table task (``_execute_table``);
  its self time is what no other layer covers — lock waits, schedule
  writes, Python glue;
- ``operators``: one span per query of the curation mix.

Spans are kept in memory and written to a JSON file when the run ends.
A layer's self time is the sum over its spans of the span duration
minus the time covered by its direct child spans (children nest on the
same thread, because every Spark action blocks the calling thread).
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from dataclasses import dataclass

from trino_iceberg_maintenance_spark import orchestrator as orch_mod
from trino_iceberg_maintenance_spark.sources.lake import ParquetMaintainedTable


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    thread: int
    ref: str | None


class Tracer:
    """In-memory span recorder. With ``enabled=False`` every call is a
    no-op, so one code path serves both the timed and the traced run."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0

    @contextlib.contextmanager
    def span(self, name: str, layer: str, ref: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = self._next
            self._next += 1
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, layer, start, end, parent,
                                       threading.get_ident(), ref))

    def between(self, t0: float, t1: float) -> list[Span]:
        return [s for s in self.spans if s.start >= t0 and s.end <= t1]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


def self_times(spans: list[Span]) -> dict[str, float]:
    """Self time per layer: duration minus the direct children's."""
    child = {}
    for s in spans:
        if s.parent is not None:
            child[s.parent] = child.get(s.parent, 0.0) + (s.end - s.start)
    out: dict[str, float] = {}
    for s in spans:
        out[s.layer] = out.get(s.layer, 0.0) + (
            s.end - s.start - child.get(s.sid, 0.0)
        )
    return out


def outermost(spans: list[Span], layer: str) -> list[Span]:
    """Spans of ``layer`` whose parent is not in the same layer, so a
    lake call made inside another lake call counts once."""
    layer_of = {s.sid: s.layer for s in spans}
    return [s for s in spans
            if s.layer == layer and layer_of.get(s.parent) != layer]


# ---------------------------------------------------------------------------
# layer wrappers
# ---------------------------------------------------------------------------

def _public_methods(cls) -> list[str]:
    return [
        n for n, v in vars(cls).items()
        if not n.startswith("_") and callable(v)
        and not isinstance(v, (classmethod, staticmethod))
    ]


def traced_table_class(tracer: Tracer):
    """A ``ParquetMaintainedTable`` subclass whose public methods wrap
    the parent's in a ``lake.<method>`` span."""

    def wrap(name):
        orig = getattr(ParquetMaintainedTable, name)

        @functools.wraps(orig)
        def method(self, *args, **kwargs):
            with tracer.span(f"lake.{name}", "lake",
                             getattr(self, "bench_name", None)):
                return orig(self, *args, **kwargs)
        return method

    body = {n: wrap(n) for n in _public_methods(ParquetMaintainedTable)}
    return type("TracedTable", (ParquetMaintainedTable,), body)


class _TimedCollect:
    """Proxy for a DataFrame whose ``collect()`` is recorded as a span;
    every other attribute passes through."""

    def __init__(self, df, tracer: Tracer, name: str, layer: str, ref=None):
        self._df, self._tracer = df, tracer
        self._name, self._layer, self._ref = name, layer, ref

    def collect(self):
        with self._tracer.span(self._name, self._layer, self._ref):
            return self._df.collect()

    def __getattr__(self, attr):
        return getattr(self._df, attr)


@contextlib.contextmanager
def orchestrator_layers(tracer: Tracer):
    """For the duration of the block, route the orchestrator module's
    schedule reads and partition-stats computation through spans. The
    names are the module attributes the orchestrator calls; they are
    restored on exit."""
    orig_read = orch_mod.read_schedule
    orig_inc = orch_mod.incremental_partition_stats

    def read_schedule(spark, path):
        with tracer.span("schedule.plan", "schedule"):
            df = orig_read(spark, path)
        return _TimedCollect(df, tracer, "schedule.read", "schedule")

    def incremental_partition_stats(table, columns, prior=None):
        with tracer.span("stats.partition_plan", "stats",
                         getattr(table, "bench_name", None)):
            state, recomputed = orig_inc(table, columns, prior)
        return (_TimedCollect(state, tracer, "stats.partition_scan", "stats",
                              getattr(table, "bench_name", None)),
                recomputed)

    orch_mod.read_schedule = read_schedule
    orch_mod.incremental_partition_stats = incremental_partition_stats
    try:
        yield
    finally:
        orch_mod.read_schedule = orig_read
        orch_mod.incremental_partition_stats = orig_inc


def traced_orchestrator_class(tracer: Tracer):
    """An ``Orchestrator`` subclass that records one span per table
    task, so the orchestrator's self time is measurable."""

    class TracedOrchestrator(orch_mod.Orchestrator):
        def _execute_table(self, props):
            with tracer.span("orchestrator.task", "orchestrator",
                             props.table_name):
                return super()._execute_table(props)

    return TracedOrchestrator
