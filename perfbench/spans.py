"""Spans and per-call Spark counters, taken from outside the program.

A span wraps one call the benchmark makes into an ``igd_spark`` module. In a
traced run every span records wall time, its parent span and the request it
belongs to; spans opened with ``counters=True`` also put the call under its
own ``setJobGroup`` tag and read, from the driver's status store, the jobs
and stages the call ran. Jobs are attributed by job-id range (every job
submitted between the span's start and end), not by group, because some
operators submit jobs from their own thread pools, whose threads do not
inherit the caller's job group. The benchmark has one client thread, so the
range holds exactly the call's jobs.

An untraced run creates no spans, sets no job group and never touches the
status store: ``Tracer(spark, enabled=False).span(...)`` is a no-op.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

CORES = 4


class Span(dict):
    """name, start, end, parent, request_id and any counters, as one dict."""

    @property
    def wall_s(self) -> float:
        return self["end"] - self["start"]


class _NoSpan(dict):
    wall_s = 0.0


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._sc = spark.sparkContext
        self._t0 = time.time()
        self._groups: list[str] = []

    # -- status store ------------------------------------------------------
    def _store(self):
        return self._sc._jsc.sc().statusStore()

    def _drain(self) -> None:
        """Wait until the listener bus has applied every event to the store."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)

    def _last_job_id(self) -> int:
        jobs = self._store().jobsList(None)  # newest first
        return int(jobs.head().jobId()) if jobs.nonEmpty() else -1

    def persisted_rdds(self) -> int:
        return int(self._sc._jsc.getPersistentRDDs().size())

    def _counters(self, first_job: int, t_start: float, t_end: float) -> dict:
        self._drain()
        store = self._store()
        last = self._last_job_id()
        conv = self._sc._jvm.scala.jdk.javaapi.CollectionConverters
        intervals, stage_ids = [], set()
        for jid in range(first_job, last + 1):
            job = store.job(jid)
            stage_ids.update(int(s) for s in conv.asJava(job.stageIds()))
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined():
                end = done.get().getTime() / 1000 if done.isDefined() else t_end
                intervals.append((sub.get().getTime() / 1000, end))
        stages = task_ms = shuffle = spill = 0
        for sid in sorted(stage_ids):
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            stages += 1
            task_ms += int(sd.executorRunTime())
            shuffle += int(sd.shuffleWriteBytes())
            spill += int(sd.diskBytesSpilled())
        wall = t_end - t_start
        task_s = task_ms / 1000
        return {
            "jobs": max(0, last - first_job + 1),
            "stages": stages,
            "task_s": task_s,
            "shuffle_write_bytes": shuffle,
            "spill_bytes": spill,
            "driver_s": max(0.0, wall - _covered(intervals, t_start, t_end)),
            "utilization": task_s / (wall * CORES) if wall > 0 else 0.0,
        }

    # -- spans -------------------------------------------------------------
    @contextmanager
    def span(self, name: str, request_id: str | None = None, counters: bool = False,
             persisted: bool = False):
        """Record one call. ``counters`` adds Spark job/stage counters;
        ``persisted`` adds ``leaked_persisted``, the change in the number of
        persisted RDDs across the call."""
        if not self.enabled:
            yield _NoSpan()
            return
        parent = self._stack[-1] if self._stack else None
        if request_id is None and parent is not None:
            request_id = self.spans[parent]["request_id"]
        sp = Span(name=name, parent=parent, request_id=request_id)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        if counters:
            self._drain()
            first_job = self._last_job_id() + 1
            self._groups.append(f"perfbench-{len(self.spans)}-{name}")
            self._sc.setJobGroup(self._groups[-1], name)
        if persisted:
            rdds_before = self.persisted_rdds()
        sp["start"] = time.time() - self._t0
        try:
            yield sp
        finally:
            sp["end"] = time.time() - self._t0
            self._stack.pop()
            if counters:
                self._groups.pop()
                outer = self._groups[-1] if self._groups else "perfbench-idle"
                self._sc.setJobGroup(outer, outer)
                sp.update(self._counters(first_job, self._t0 + sp["start"],
                                         self._t0 + sp["end"]))
            if persisted:
                sp["leaked_persisted"] = self.persisted_rdds() - rdds_before

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"unit": "s since tracer start", "spans": self.spans}, f)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of the intervals, clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
