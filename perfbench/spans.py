"""Spans and Spark counters for the traced benchmark run.

``Tracer.call(layer, name, fn)`` times one call into the package from
the benchmark's own code and tags every Spark job it launches with a
job group. ``Tracer.collect()``, which the workloads call between timed
operations, waits for the listener bus to drain into the status store,
then reads the jobs of each new group through Spark's public status
tracker and the REST endpoints
``/api/v1/applications/<id>/{jobs,stages}/<n>``. Groups are read soon
after their call, because the UI keeps only the most recent jobs
(``spark.ui.retainedJobs``, 1000 by default).

Untraced runs use the same ``Tracer`` with ``enabled=False``: the call
is timed with the same clock, and no job group is set or read.
Spans stay in memory until the run writes its artifact.
"""

from __future__ import annotations

import itertools
import json
import time
import urllib.error
import urllib.request
from dataclasses import dataclass, field
from datetime import datetime

#: counters summed over the stages of a group's jobs
STAGE_COUNTERS = {
    "tasks": "numTasks",
    "failed_tasks": "numFailedTasks",
    "task_run_ms": "executorRunTime",
    "task_cpu_ns": "executorCpuTime",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_memory_bytes": "memoryBytesSpilled",
    "spill_disk_bytes": "diskBytesSpilled",
}


def _rest_time(s: str | None) -> float | None:
    """Epoch seconds of a REST timestamp like ``2026-10-17T04:10:12.345GMT``."""
    if not s:
        return None
    return datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


@dataclass
class GroupStats:
    """Spark work launched under one job group."""

    jobs: int = 0
    stages: int = 0
    job_spans: list = field(default_factory=list)
    counters: dict = field(default_factory=lambda: dict.fromkeys(STAGE_COUNTERS, 0))

    @property
    def job_s(self) -> float:
        return union_s(self.job_spans)


class Collector:
    """Reads a job group's jobs and stages from the status tracker and REST API."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._tracker = sc.statusTracker()
        self._listener_bus = sc._jsc.sc().listenerBus()
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        # a shuffle stage keeps its id when a later job reuses its output
        # (the later job lists it as skipped): count each stage once
        self._seen: set[int] = set()

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=30) as resp:
            return json.load(resp)

    def sync(self) -> None:
        """Wait until the status store has seen every event posted so far:
        listeners fill it asynchronously, so a call's last job can still
        be missing, or running, right after the call returns."""
        self._listener_bus.waitUntilEmpty()

    def group(self, group_id: str) -> GroupStats:
        out = GroupStats()
        for job_id in sorted(self._tracker.getJobIdsForGroup(group_id)):
            job = self._get(f"/jobs/{job_id}")
            start = _rest_time(job.get("submissionTime"))
            end = _rest_time(job.get("completionTime"))
            out.jobs += 1
            if start is not None and end is not None:
                out.job_spans.append((start, end))
            for stage_id in job.get("stageIds", []):
                if stage_id in self._seen:
                    continue
                try:
                    attempts = self._get(f"/stages/{stage_id}?details=false")
                except urllib.error.HTTPError as exc:
                    # the UI store keeps only the newest stages
                    # (spark.ui.retainedStages): a stage it dropped is an
                    # old one whose output this job reused, not ran
                    if exc.code != 404:
                        raise
                    continue
                if all(a.get("status") == "SKIPPED" for a in attempts):
                    continue
                self._seen.add(stage_id)
                out.stages += 1
                for a in attempts:
                    for key, rest_key in STAGE_COUNTERS.items():
                        out.counters[key] += a.get(rest_key, 0) or 0
        return out


@dataclass
class Span:
    layer: str
    name: str
    start: float
    end: float
    group: str | None = None
    stats: GroupStats | None = None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Times calls; when enabled, also tags and reads their Spark jobs."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._sc = spark.sparkContext
        self._ids = itertools.count()
        self._collector = Collector(spark) if enabled else None

    def call(self, layer: str, name: str, fn, *args, **kwargs):
        group = f"{layer}:{name}:{next(self._ids)}" if self.enabled else None
        if group:
            self._sc.setJobGroup(group, name)
        t0 = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.time()
            if group:
                self._sc.setJobGroup("perfbench:untraced", "")
            self.spans.append(Span(layer, name, t0, t1, group))

    def collect(self) -> None:
        """Read the Spark work of every span not read yet. Callers run
        this between timed operations, never inside one."""
        if not self.enabled:
            return
        self._collector.sync()
        for span in reversed(self.spans):
            if span.stats is not None:
                break
            span.stats = self._collector.group(span.group)

    def dump(self) -> list[dict]:
        rows = []
        for s in self.spans:
            row = {"layer": s.layer, "name": s.name, "start": s.start, "end": s.end}
            if s.stats is not None:
                row.update(
                    jobs=s.stats.jobs,
                    stages=s.stats.stages,
                    job_s=round(s.stats.job_s, 6),
                    **s.stats.counters,
                )
            rows.append(row)
        return rows
