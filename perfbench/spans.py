"""Benchmark-owned span recording around the calls into each layer.

Nothing here edits the package: every span comes from a wrapper that
delegates to the real object and times the call from the outside.

- :class:`TracedKernel` wraps a ``SketchKernel``. It records ``update``,
  ``pack``, ``unpack``, ``merge_packed`` and ``estimate`` (``quantile``
  counts as an estimate). ``merge_packed`` is inherited from
  ``SketchKernel``, so its inner unpack/merge/pack calls go through the
  wrapper and are recorded as their own spans too.
- :func:`traced_estimator_config` wraps a ``SketchEstimatorConfig``: its
  kernel factory returns traced kernels and its estimator is timed.
- :func:`traced_scenario` wraps a scenario's set generator factory.

Spans are kept as per-name totals (calls, nanoseconds, amount) in a
:class:`SpanLog`. A log that travels to a Python worker is pickled with its
directory only; the worker appends its totals to ``<dir>/<pid>.jsonl``
each time a state leaves the kernel (``pack``, ``estimate``), which is at
least once per partition. Spark kills its Python workers at session stop,
so nothing may wait for process exit.
"""

from __future__ import annotations

import dataclasses
import json
import os
import threading
import time
from collections import defaultdict
from typing import Any

from pyspark import TaskContext

from cardinality_estimation_evaluation_framework_spark.sketches.base import (
    SketchKernel,
    State,
)


class SpanLog:
    """Per-process span totals, appended to ``<directory>/<pid>.jsonl``."""

    def __init__(self, directory: str):
        self.directory = directory
        self._lock = threading.Lock()
        self._totals: dict[str, list[int]] = {}

    def __getstate__(self) -> dict[str, Any]:
        return {"directory": self.directory}

    def __setstate__(self, state: dict[str, Any]) -> None:
        self.__init__(state["directory"])

    def add(self, name: str, ns: int, amount: int = 0) -> None:
        with self._lock:
            tot = self._totals.setdefault(name, [0, 0, 0])
            tot[0] += 1
            tot[1] += ns
            tot[2] += amount

    def flush(self) -> None:
        with self._lock:
            totals, self._totals = self._totals, {}
        if not totals:
            return
        line = (json.dumps(totals) + "\n").encode()
        path = os.path.join(self.directory, f"{os.getpid()}.jsonl")
        fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
        try:
            os.write(fd, line)
        finally:
            os.close(fd)

    def flush_in_worker(self) -> None:
        if TaskContext.get() is not None:
            self.flush()


def read_spans(directory: str) -> dict[str, dict[str, int]]:
    """Sum every flushed line under ``directory``: name -> calls/ns/amount."""
    out: dict[str, dict[str, int]] = defaultdict(lambda: {"calls": 0, "ns": 0, "amount": 0})
    if not os.path.isdir(directory):
        return {}
    for fname in sorted(os.listdir(directory)):
        with open(os.path.join(directory, fname)) as fh:
            for line in fh:
                for name, (calls, ns, amount) in json.loads(line).items():
                    tot = out[name]
                    tot["calls"] += calls
                    tot["ns"] += ns
                    tot["amount"] += amount
    return dict(out)


class TracedKernel(SketchKernel):
    """Delegating ``SketchKernel`` that records a span per kernel call."""

    def __init__(self, inner: SketchKernel, log: SpanLog):
        self.inner = inner
        self.log = log
        self.input_dtype = inner.input_dtype
        self.associative = inner.associative

    def __getattr__(self, name: str):
        # only reached for attributes the wrapper lacks (eps, child, ...);
        # "inner" itself is excluded so unpickling cannot recurse
        if name == "inner":
            raise AttributeError(name)
        return getattr(self.inner, name)

    def spec(self) -> dict[str, Any]:
        return self.inner.spec()

    def empty(self) -> State:
        return self.inner.empty()

    def update(self, state: State, values) -> State:
        t0 = time.perf_counter_ns()
        out = self.inner.update(state, values)
        self.log.add("sketches.update", time.perf_counter_ns() - t0, len(values))
        return out

    def merge(self, a: State, b: State) -> State:
        t0 = time.perf_counter_ns()
        out = self.inner.merge(a, b)
        self.log.add("sketches.merge", time.perf_counter_ns() - t0)
        return out

    def pack(self, state: State) -> bytes:
        t0 = time.perf_counter_ns()
        raw = self.inner.pack(state)
        self.log.add("sketches.pack", time.perf_counter_ns() - t0, len(raw))
        self.log.flush_in_worker()
        return raw

    def unpack(self, raw: bytes) -> State:
        t0 = time.perf_counter_ns()
        state = self.inner.unpack(raw)
        self.log.add("sketches.unpack", time.perf_counter_ns() - t0, len(raw))
        return state

    def merge_packed(self, raws: list[bytes]) -> bytes:
        t0 = time.perf_counter_ns()
        out = super().merge_packed(raws)
        self.log.add("sketches.merge_packed", time.perf_counter_ns() - t0, len(raws))
        return out

    def estimate(self, state: State) -> list[float]:
        t0 = time.perf_counter_ns()
        out = self.inner.estimate(state)
        self.log.add("sketches.estimate", time.perf_counter_ns() - t0)
        self.log.flush_in_worker()
        return out

    def quantile(self, state: State, q):
        t0 = time.perf_counter_ns()
        out = self.inner.quantile(state, q)
        self.log.add("sketches.estimate", time.perf_counter_ns() - t0)
        self.log.flush_in_worker()
        return out


def traced_estimator_config(config, log: SpanLog):
    """Copy of a ``SketchEstimatorConfig`` whose kernels and estimator are
    traced (``estimators.estimate`` spans the whole estimator call)."""
    factory, estimator = config.kernel_factory, config.estimator

    def kernel_factory(seed):
        return TracedKernel(factory(seed), log)

    def timed_estimator(kernel, states):
        t0 = time.perf_counter_ns()
        out = estimator(kernel, states)
        log.add("estimators.estimate", time.perf_counter_ns() - t0)
        return out

    return dataclasses.replace(config, kernel_factory=kernel_factory, estimator=timed_estimator)


class _TimedSets:
    """Iterates a set generator, recording one span per generated set."""

    def __init__(self, generator, log: SpanLog):
        self.generator = generator
        self.log = log

    def __iter__(self):
        it = iter(self.generator)
        while True:
            t0 = time.perf_counter_ns()
            try:
                ids = next(it)
            except StopIteration:
                return
            self.log.add("set_generators.generate", time.perf_counter_ns() - t0, len(ids))
            yield ids


def traced_scenario(scenario, log: SpanLog):
    """Copy of a ``ScenarioConfig`` whose set generator is traced."""
    factory = scenario.set_generator_factory

    def set_generator_factory(rs):
        # some generators draw every set up front, in the constructor
        t0 = time.perf_counter_ns()
        generator = factory(rs)
        log.add("set_generators.generate", time.perf_counter_ns() - t0)
        return _TimedSets(generator, log)

    return dataclasses.replace(scenario, set_generator_factory=set_generator_factory)
