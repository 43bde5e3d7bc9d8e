"""Spans and Spark counters for the traced benchmark run.

A :class:`Tracer` records spans (name, start, end, parent, run id) around
calls into the engine's layers. The benchmark installs them from its own
code by wrapping module functions and class methods of
``basic_data_pipeline_spark`` in this process (:meth:`Tracer.wrap_function`
and :meth:`Tracer.wrap_method`); the package itself is not changed.

Each span also carries the difference of Spark's own counters between its
start and its end, read from the application status store
(:class:`SparkCounters`): jobs, tasks, input and output bytes, shuffle
bytes, spill, executor run time and executor GC time. A lazy call (one
that only builds a plan) shows zero jobs; the engine work it describes lands in the span of
the call that triggers the action.

Spans are kept in memory and written as JSON lines by :meth:`Tracer.dump`.
The time spent reading counters is the tracer's own overhead and is
accumulated in :attr:`Tracer.overhead_s`.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from contextlib import contextmanager

COUNTERS = ("jobs", "tasks", "input_bytes", "output_bytes", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes", "run_ms", "gc_ms")


class SparkCounters:
    """Cumulative per-application counters, advanced incrementally.

    Spark's status store is filled from the listener bus asynchronously,
    so every :meth:`read` first waits for the bus to drain. Job ids are
    allocated sequentially, so a read probes the ids after the last one it
    saw until one is unknown: its cost is proportional to the new work,
    not to the application's history. The driver here runs one action at
    a time, so every job seen is complete when it is read."""

    def __init__(self, spark) -> None:
        jsc = spark.sparkContext._jsc.sc()
        self._bus = jsc.listenerBus()
        self._tracker = jsc.statusTracker()
        self._store = jsc.statusStore()
        self._no_quantiles = spark.sparkContext._gateway.new_array(
            spark.sparkContext._jvm.double, 0)
        self._next_job = 0
        self.totals = dict.fromkeys(COUNTERS, 0)
        self.read()
        self.totals = dict.fromkeys(COUNTERS, 0)

    def read(self) -> dict[str, int]:
        self._bus.waitUntilEmpty()
        t = self.totals
        while True:
            info = self._tracker.getJobInfo(self._next_job)
            if info.isEmpty():
                break
            self._next_job += 1
            t["jobs"] += 1
            for sid in info.get().stageIds():
                attempts = self._store.stageData(sid, False, None, False, self._no_quantiles)
                if attempts.isEmpty():
                    continue
                s = attempts.head()
                if s.status().toString() == "SKIPPED":
                    continue
                t["tasks"] += s.numCompleteTasks()
                t["input_bytes"] += s.inputBytes()
                t["output_bytes"] += s.outputBytes()
                t["shuffle_read_bytes"] += s.shuffleReadBytes()
                t["shuffle_write_bytes"] += s.shuffleWriteBytes()
                t["spill_bytes"] += s.diskBytesSpilled() + s.memoryBytesSpilled()
                t["run_ms"] += s.executorRunTime()
                t["gc_ms"] += s.jvmGcTime()
        return dict(t)


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes every hook a
    pass-through, so the untraced run pays one attribute check per call."""

    def __init__(self, spark, run_id: str, enabled: bool = True) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0
        self._counters = SparkCounters(spark) if enabled else None
        self._patches: list[tuple[object, str, object]] = []

    def _read(self) -> dict[str, int]:
        t0 = time.perf_counter()
        c = self._counters.read()
        self.overhead_s += time.perf_counter() - t0
        return c

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id, **attrs}
        self.spans.append(rec)
        before = self._read()
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            after = self._read()
            rec["counters"] = {k: after[k] - before[k] for k in COUNTERS}

    def _traced(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)
        return wrapper

    def wrap_function(self, module, attr: str, name: str) -> None:
        """Trace ``module.attr`` and every alias of the same function object
        bound in a loaded module of the package (``from x import f``)."""
        orig = getattr(module, attr)
        wrapper = self._traced(orig, name)
        for mname, mod in list(sys.modules.items()):
            if mod is None or not mname.startswith("basic_data_pipeline_spark"):
                continue
            for k, v in list(vars(mod).items()):
                if v is orig:
                    self._patches.append((mod, k, orig))
                    setattr(mod, k, wrapper)

    def wrap_method(self, cls, attr: str, name: str) -> None:
        orig = cls.__dict__[attr]
        self._patches.append((cls, attr, orig))
        setattr(cls, attr, self._traced(orig, name))

    def unwrap(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it covered by its child spans
        (children of one span never overlap: the driver is sequential)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child[s["id"]]
                for s in self.spans if "end" in s}

    def by_name(self, prefix: str) -> list[dict]:
        return [s for s in self.spans if s["name"].startswith(prefix) and "end" in s]

    def dump(self, path: str) -> None:
        selft = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                if "end" in s:
                    f.write(json.dumps({**s, "self_s": selft[s["id"]]}) + "\n")
