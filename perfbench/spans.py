"""Spans, job groups and Spark event-log accounting for the traced run.

The benchmark records spans around its own calls into the package:
name, start, end, parent span and request id (one query execution or
one micro-batch). With tracing on, each span that may start Spark jobs
runs under its own job group, so the status tracker attributes jobs to
the layer that started them. Task CPU, GC, shuffle and spill come from
Spark's event log, which ``run.py`` turns on for the traced run through
submit arguments. Spans stay in memory and are written out at the end.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: prefix of every job group the benchmark sets; jobs outside such a
#: group escaped it (helper threads, streaming micro-batches)
GROUP_PREFIX = "perfbench:"


def union_length(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    request: str
    jobs: list[int] = field(default_factory=list)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """In-memory span recorder. Disabled, ``span`` only yields."""

    def __init__(self, spark=None, enabled: bool = False) -> None:
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._groups: list[tuple[str, str]] = []

    @contextmanager
    def span(self, name: str, request: str = "", jobs: bool = False):
        if not self.enabled:
            yield None
            return
        idx = len(self.spans)
        group = f"{GROUP_PREFIX}{request}:{name}:{idx}" if jobs else None
        sc = self.spark.sparkContext if jobs else None
        if group:
            sc.setJobGroup(group, name)
            self._groups.append((group, name))
        sp = Span(name, time.time(), 0.0, self._stack[-1] if self._stack else None, request)
        self.spans.append(sp)
        self._stack.append(idx)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if group:
                sp.jobs = sorted(sc.statusTracker().getJobIdsForGroup(group))
                self._groups.pop()
                if self._groups:
                    sc.setJobGroup(*self._groups[-1])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for i, sp in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": sp.name, "start": sp.start, "end": sp.end,
                    "parent": sp.parent, "request": sp.request, "jobs": sp.jobs,
                }) + "\n")


@dataclass
class JobRecord:
    group: str | None
    submit_ms: int
    declared: set[int]
    end_ms: int = 0
    #: stages this job ran (a stage skipped because an earlier job
    #: already wrote its shuffle output belongs to that earlier job)
    stages: set[int] = field(default_factory=set)


@dataclass
class EventLog:
    """Job, stage and task facts from one application's event log."""

    jobs: dict[int, JobRecord] = field(default_factory=dict)
    #: stage id -> [tasks, cpu_ns, gc_ms, shuffle_read, shuffle_write, spill]
    stages: dict[int, list[int]] = field(default_factory=dict)

    @classmethod
    def read(cls, log_dir: str) -> "EventLog":
        log = cls()
        paths = sorted(p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
                       if os.path.isfile(p))
        for path in paths:
            with open(path) as f:
                for line in f:
                    log._feed(json.loads(line))
        return log

    def _feed(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            self.jobs[ev["Job ID"]] = JobRecord(
                props.get("spark.jobGroup.id"), ev.get("Submission Time", 0),
                set(ev.get("Stage IDs") or ()))
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(ev["Job ID"])
            if job is not None:
                job.end_ms = ev.get("Completion Time", 0)
        elif kind == "SparkListenerStageSubmitted":
            stage = (ev.get("Stage Info") or {}).get("Stage ID")
            running = [j for j, r in self.jobs.items() if not r.end_ms and stage in r.declared]
            if running:
                self.jobs[max(running)].stages.add(stage)
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            st = self.stages.setdefault(ev["Stage ID"], [0, 0, 0, 0, 0, 0])
            st[0] += 1
            st[1] += m.get("Executor CPU Time", 0)
            st[2] += m.get("JVM GC Time", 0)
            st[3] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            st[4] += wr.get("Shuffle Bytes Written", 0)
            st[5] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)

    def totals(self, job_ids) -> dict[str, float]:
        """Stage, task and task-metric totals over ``job_ids``."""
        stages = set()
        for j in job_ids:
            if j in self.jobs:
                stages |= self.jobs[j].stages
        ran = [self.stages[s] for s in stages if s in self.stages]
        return {
            "stages": len(ran),
            "tasks": sum(s[0] for s in ran),
            "cpu_ms": sum(s[1] for s in ran) / 1e6,
            "gc_ms": float(sum(s[2] for s in ran)),
            "shuffle_read_bytes": sum(s[3] for s in ran),
            "shuffle_write_bytes": sum(s[4] for s in ran),
            "spill_bytes": sum(s[5] for s in ran),
        }

    def job_wall_ms(self, job_ids) -> float:
        """Wall time covered by the union of the jobs' lifetimes."""
        return float(union_length((self.jobs[j].submit_ms, self.jobs[j].end_ms)
                                  for j in job_ids if j in self.jobs))

    def ungrouped_jobs(self) -> list[int]:
        return sorted(j for j, r in self.jobs.items()
                      if not (r.group or "").startswith(GROUP_PREFIX))
