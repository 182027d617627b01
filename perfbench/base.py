"""Shared plumbing of the workloads: timed calls into the engine, per
call and per round accumulation, and the per-layer metric table."""

from __future__ import annotations

import itertools
import statistics
import time
from contextlib import contextmanager
from typing import Any, Callable, Iterator

import spans

#: per-layer metrics every workload reports in a traced run:
#: name -> (unit, aggregation). "round" values are means per measured
#: round, "run" values are totals over the measured window.
LAYER_METRICS = {
    "session.start_s": ("s", "run"),
    "engine.build_s": ("s", "round"),
    "engine.exec_s": ("s", "round"),
    "pipelines.call_s": ("s", "round"),
    "sources.scan_s": ("s", "round"),
    "sources.input_bytes": ("bytes", "round"),
    "dims.currency_dim_s": ("s", "round"),
    "caching.tracked_frames": ("count", "round"),
    "caching.release_s": ("s", "round"),
    "spark.jobs": ("count", "round"),
    "spark.stages": ("count", "round"),
    "spark.tasks": ("count", "round"),
    "spark.failed_tasks": ("count", "round"),
    "spark.executor_cpu_s": ("s", "round"),
    "spark.shuffle_write_bytes": ("bytes", "round"),
    "spark.shuffle_read_bytes": ("bytes", "round"),
    "spark.spill_bytes": ("bytes", "round"),
    "pipelines.drains": ("count", "run"),
    "streaming.batches": ("count", "run"),
    "streaming.input_rows": ("count", "run"),
    "streaming.sinks.messages": ("count", "run"),
    "streaming.sinks.connections": ("count", "run"),
}

_group_ids = itertools.count()


def noop(df) -> None:
    """Materialize every column of ``df`` through the noop sink (a
    ``count()`` would let Catalyst prune the work)."""
    df.write.format("noop").mode("overwrite").save()


class Workload:
    """One benchmark workload. Subclasses implement ``prepare`` (inputs
    and expected outputs, before Spark starts), ``setup`` (the untimed
    warm-up pass), ``measure`` and ``check`` (outputs against their
    expected values, after the memory sampler has stopped)."""

    def __init__(self, work: str, seed: int, tracer: spans.Tracer,
                 sampler: spans.RssSampler):
        self.work = work
        self.seed = seed
        self.tracer = tracer
        #: the memory sampler, to exclude helper processes from it
        self.sampler = sampler
        #: end-to-end samples: unit latencies and round trips (seconds)
        self.latencies: list[float] = []
        self.round_trips: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.diag: dict[str, Any] = {}
        self.layer: dict[str, float] = {}
        self.calls: dict[str, list[dict[str, float]]] = {}
        self._round: dict[str, float] | None = None
        self._round_totals: list[dict[str, float]] = []

    # --- lifecycle hooks -------------------------------------------------
    def prepare(self) -> None: ...
    def setup(self, spark) -> None: ...
    def measure(self, spark, seconds: float) -> None: ...
    def check(self, spark) -> None: ...
    def close(self) -> None: ...

    # --- accounting ------------------------------------------------------
    @contextmanager
    def measured_round(self) -> Iterator[None]:
        """One measured round (a drain cycle or a pass): per-layer
        values added inside it count. Its span is the parent of every
        span recorded inside; each engine call's spans carry the call's
        own id, the rest carry the round's."""
        label = f"round-{len(self._round_totals)}"
        self._round = {}
        try:
            with self.tracer.span(label, "perfbench", label):
                yield
        finally:
            self._round_totals.append(self._round)
            self._round = None

    def in_round(self) -> bool:
        return self._round is not None

    def add(self, name: str, value: float) -> None:
        """Add to the current round's per-layer total (no-op outside a
        measured round, so warm-up work is not counted)."""
        if self._round is not None:
            self._round[name] = self._round.get(name, 0.0) + value

    def call(self, spark, name: str, layer: str,
             build: Callable[[], Any], execute: Callable[[Any], Any],
             groups: Callable[[Any], list[str]] | None = None,
             round_key: str | None = None,
             exec_layer: str = "operators") -> tuple[Any, float]:
        """Time one engine call as build (the public function of
        ``layer`` returning a lazy object) plus execute (materialization,
        spent in ``exec_layer``). In a traced run also read Spark's stage
        counters for the call's job groups. Returns (execute's result,
        wall seconds)."""
        group = f"perfbench-{next(_group_ids)}"
        spark.sparkContext.setJobGroup(group, name)
        t0 = time.perf_counter()
        with self.tracer.span(name, layer, f"{name}#{group}") as sp:
            with self.tracer.span(f"{name}.build", layer):
                obj = build()
            t1 = time.perf_counter()
            with self.tracer.span(f"{name}.exec", exec_layer):
                out = execute(obj)
        t2 = time.perf_counter()
        row = {"build_s": t1 - t0, "exec_s": t2 - t1}
        self.add("engine.build_s", row["build_s"])
        self.add("engine.exec_s", row["exec_s"])
        if round_key:
            self.add(round_key, t2 - t0)
        if self.tracer.enabled:
            extra = groups(obj) if groups else []
            counters = spans.spark_counters(spark, [group, *extra])
            row.update(counters)
            for k, v in counters.items():
                self.add("sources.input_bytes" if k == "input_bytes"
                         else f"spark.{k}", v)
            sp.counters = counters
        if self._round is not None:
            self.calls.setdefault(name, []).append(row)
        return out, t2 - t0

    def note(self, name: str, **values: float) -> None:
        """Attach workload-specific numbers to the last measured call
        of ``name`` (shown in the traced run's per-call table)."""
        if self._round is not None and self.calls.get(name):
            self.calls[name][-1].update(values)

    def probe(self, name: str, layer: str, fn: Callable[[], Any]) -> None:
        """Traced runs only: time a small direct call into one layer
        that the workload's engine calls make internally."""
        if not self.tracer.enabled:
            return
        t0 = time.perf_counter()
        with self.tracer.span(name, layer):
            fn()
        self.add(name, time.perf_counter() - t0)

    # --- reporting -------------------------------------------------------
    def per_call(self) -> dict[str, dict[str, float]]:
        out = {}
        for name, rows in self.calls.items():
            keys = dict.fromkeys(k for r in rows for k in r)
            out[name] = {k: statistics.fmean(r.get(k, 0.0) for r in rows)
                         for k in keys}
        return out

    def layer_metrics(self) -> dict[str, tuple[float, str]]:
        n = max(1, len(self._round_totals))
        out = {}
        for name, (unit, agg) in LAYER_METRICS.items():
            if agg == "round":
                v = sum(r.get(name, 0.0) for r in self._round_totals) / n
            else:
                v = self.layer.get(name, 0.0)
            out[name] = (v, unit)
        return out
