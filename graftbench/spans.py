"""Spans around the benchmark's calls into engine layers, and a rollup of
Spark's own event log per span.

A span records its name, wall interval and parent, and sets the
SparkContext job group to ``graftbench-<span id>`` while it is open, so
every Spark job submitted inside it carries ``spark.jobGroup.id`` in the
event log. Jobs submitted from threads the engine starts itself carry no
group (PySpark's pinned threads do not inherit local properties); those
are attributed to the innermost span whose wall interval contains their
submission time. Task metrics reach a job through the stage IDs listed
in its ``SparkListenerJobStart`` event.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "graftbench-"

# Per-job sums of SparkListenerTaskEnd metrics.
TASK_FIELDS = (
    "tasks",
    "executor_run_ms",
    "executor_cpu_ms",
    "input_bytes",
    "input_records",
    "shuffle_write_bytes",
    "shuffle_write_records",
    "shuffle_read_records",
    "spill_bytes",
    "gc_ms",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Keeps spans in memory. A disabled tracer records nothing and never
    touches Spark, so untraced runs pay only a context-manager call."""

    def __init__(self, sc=None, enabled: bool = True):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self._tag(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._tag(parent)

    def _tag(self, s: Span | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{s.id}", s.name)

    def wrap(self, name: str, fn):
        """`fn` run inside a span called `name`."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


@dataclass
class Job:
    id: int
    group: str | None
    submit: float
    call_site: str
    end: float | None = None
    m: dict[str, float] = field(default_factory=lambda: dict.fromkeys(TASK_FIELDS, 0))


def read_events(log_dir: str) -> list[dict]:
    """Every event of every log under `log_dir`, rolling
    (``eventlog_v2_*/events_*``) or single-file, in file order."""
    events = []
    for root, _, files in sorted(os.walk(log_dir)):
        for name in sorted(files):
            if name.startswith(("appstatus", ".")):
                continue
            with open(os.path.join(root, name), encoding="utf-8") as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
    return events


def jobs_from_events(events: list[dict]) -> list[Job]:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = Job(
                ev["Job ID"],
                props.get("spark.jobGroup.id"),
                ev["Submission Time"] / 1000,
                props.get("callSite.short", ""),
            )
            jobs[job.id] = job
            # A stage belongs to the first job that lists it; later jobs
            # list it again only as a skipped, already-computed parent.
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, job.id)
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000
        elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_job:
            tm = ev.get("Task Metrics") or {}
            m = jobs[stage_job[ev["Stage ID"]]].m
            inp = tm.get("Input Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            m["tasks"] += 1
            m["executor_run_ms"] += tm.get("Executor Run Time", 0)
            m["executor_cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
            m["input_bytes"] += inp.get("Bytes Read", 0)
            m["input_records"] += inp.get("Records Read", 0)
            m["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            m["shuffle_write_records"] += sw.get("Shuffle Records Written", 0)
            m["shuffle_read_records"] += sr.get("Total Records Read", 0)
            m["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
            m["gc_ms"] += tm.get("JVM GC Time", 0)
    return list(jobs.values())


class Rollup:
    """Jobs and task metrics per span, children included."""

    def __init__(self, spans: list[Span], jobs: list[Job]):
        self.spans = spans
        self._own: dict[int, list[Job]] = {s.id: [] for s in spans}
        self._children: dict[int, list[int]] = {s.id: [] for s in spans}
        for s in spans:
            if s.parent is not None:
                self._children[s.parent].append(s.id)
        for job in jobs:
            sid = self._span_of(job)
            if sid is not None:
                self._own[sid].append(job)

    def _span_of(self, job: Job) -> int | None:
        if job.group and job.group.startswith(GROUP_PREFIX):
            sid = int(job.group[len(GROUP_PREFIX) :])
            return sid if sid in self._own else None
        inside = [s for s in self.spans if s.start <= job.submit <= s.end]
        return max(inside, key=lambda s: s.start).id if inside else None

    def jobs(self, span: Span) -> list[Job]:
        out, todo = [], [span.id]
        while todo:
            sid = todo.pop()
            out.extend(self._own[sid])
            todo.extend(self._children[sid])
        return out

    def metrics(self, span: Span) -> dict[str, float]:
        jobs = self.jobs(span)
        out = {f: sum(j.m[f] for j in jobs) for f in TASK_FIELDS}
        out["jobs"] = len(jobs)
        return out

    def driver_only_s(self, span: Span) -> float:
        """Span wall time not covered by any of its Spark jobs."""
        ivs = sorted(
            (max(j.submit, span.start), min(j.end or span.end, span.end))
            for j in self.jobs(span)
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in ivs:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return max(0.0, span.seconds - covered)

    def descendants(self, span: Span, name: str) -> list[Span]:
        """Spans called `name` below `span`, in start order."""
        out, todo = [], list(self._children[span.id])
        while todo:
            s = self.spans[todo.pop()]
            if s.name == name:
                out.append(s)
            todo.extend(self._children[s.id])
        return sorted(out, key=lambda s: s.start)
