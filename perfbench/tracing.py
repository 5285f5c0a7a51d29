"""Tracing for the traced run: spans around each call the benchmark makes
into a layer of the program, plus Spark's own counters read back from
its status store. Spans stay in memory and are reduced to per-layer
metrics when the run ends; an untraced run records none of them.
"""

from __future__ import annotations

import contextlib
import itertools
import statistics
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    sid: int
    parent: int | None

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """Collects spans when ``enabled``; otherwise every call is a no-op,
    so the untraced run pays only an attribute check."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()

    def add(self, name: str, start: float, end: float,
            parent: int | None = None) -> int | None:
        if not self.enabled:
            return None
        with self._lock:
            sid = next(self._ids)
            self.spans.append(Span(name, start, end, sid, parent))
        return sid

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None):
        """Time the block as one span; yields the span id for children."""
        if not self.enabled:
            yield None
            return
        with self._lock:
            sid = next(self._ids)
        start = time.time()
        try:
            yield sid
        finally:
            with self._lock:
                self.spans.append(Span(name, start, time.time(), sid, parent))

    def median_ms(self, name: str) -> float:
        d = [s.ms for s in self.spans if s.name == name]
        return statistics.median(d) if d else 0.0

    def self_ms(self, layer: str) -> float:
        """Median self time of the spans named ``layer``: each span's
        duration minus the part of its interval its children cover."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        own = []
        for s in self.spans:
            if s.name != layer:
                continue
            covered, edge = 0.0, s.start
            for c in sorted(kids.get(s.sid, []), key=lambda c: c.start):
                lo, hi = max(c.start, edge), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            own.append((s.end - s.start - covered) * 1000.0)
        return statistics.median(own) if own else 0.0


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def spark_counters(spark, start: float, end: float, cores: int,
                   group_prefix: str | None = None) -> dict[str, float]:
    """Jobs, stages, tasks, shuffle, spill and executor time of the jobs
    submitted in [start, end], from the driver's status store. With
    ``group_prefix``, only jobs whose job group starts with it count.
    ``busy_share`` is executor run time over the cores' wall time."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    stage_ids: set[int] = set()
    n_jobs = 0
    for i in range(jobs.size()):
        j = jobs.apply(i)
        t = _opt_ms(j.submissionTime())
        if t is None or not (start <= t <= end):
            continue
        if group_prefix is not None:
            g = j.jobGroup()
            if not (g.isDefined() and g.get().startswith(group_prefix)):
                continue
        n_jobs += 1
        ids = j.stageIds()
        stage_ids.update(ids.apply(k) for k in range(ids.size()))
    gw = sc._gateway
    stages = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
    out = dict(stages=0, tasks=0, shuffle_read_bytes=0, shuffle_write_bytes=0,
               spill_bytes=0, executor_run_ms=0)
    for i in range(stages.size()):
        s = stages.apply(i)
        if s.stageId() not in stage_ids or s.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += s.numTasks()
        out["shuffle_read_bytes"] += s.shuffleReadBytes()
        out["shuffle_write_bytes"] += s.shuffleWriteBytes()
        out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        out["executor_run_ms"] += s.executorRunTime()
    out["jobs"] = n_jobs
    wall_ms = max(end - start, 1e-9) * 1000.0 * cores
    out["busy_share"] = out["executor_run_ms"] / wall_ms
    return {f"spark.{k}": float(v) for k, v in out.items()}
