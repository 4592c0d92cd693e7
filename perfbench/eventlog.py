"""Spark event-log parser: per-span job, task, CPU, shuffle and
Python-worker totals.

A job belongs to the span whose id it carries in the ``perfbench.span``
local property (set by ``spans.Tracer`` in the submitting thread). A job
without one (a streaming ``foreachBatch`` callback runs on Spark's own
thread) goes to the innermost span open when it was submitted. Tasks
belong to the job that first listed their stage.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from spans import SPAN_PROPERTY, Span, clip, union_length

_PY_TIMES = ("time to start Python workers", "time to initialize Python workers",
             "time to run Python workers")


@dataclass
class Job:
    id: int
    submit: float  # epoch seconds
    end: float | None = None
    span: int | None = None
    group: str | None = None
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    shuffle_bytes: int = 0
    python_worker_s: float = 0.0
    stages: list[int] = field(default_factory=list)


def parse(lines) -> dict[int, Job]:
    """Jobs with their task totals, from the event log's JSON lines."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            span = props.get(SPAN_PROPERTY)
            job = Job(ev["Job ID"], ev["Submission Time"] / 1000.0,
                      span=int(span) if span not in (None, "") else None,
                      group=props.get("spark.jobGroup.id"), stages=list(ev.get("Stage IDs", [])))
            jobs[job.id] = job
            for st in job.stages:
                stage_job.setdefault(st, job.id)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev.get("Stage ID")))
            if job is None:
                continue
            tm = ev.get("Task Metrics") or {}
            job.tasks += 1
            job.executor_run_s += tm.get("Executor Run Time", 0) / 1000.0
            job.executor_cpu_s += tm.get("Executor CPU Time", 0) / 1e9
            job.shuffle_bytes += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Name") in _PY_TIMES:
                    job.python_worker_s += float(acc.get("Update") or 0) / 1000.0
    return jobs


def read(path: str) -> dict[int, Job]:
    with open(path) as f:
        return parse(f)


def assign(jobs: dict[int, Job], spans: list[Span]) -> None:
    """Give every job without a span tag the innermost span open at its
    submission time."""
    closed = [s for s in spans if s.end is not None]
    for job in jobs.values():
        if job.span is not None:
            continue
        open_then = [s for s in closed if s.start <= job.submit <= s.end]
        if open_then:
            job.span = max(open_then, key=lambda s: s.start).id


COUNTERS = ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "shuffle_bytes",
            "python_worker_s", "driver_residual_s")


def span_counters(jobs: dict[int, Job], spans: list[Span]) -> dict[int, dict]:
    """Per span: its own jobs' totals, and the driver residual — span
    wall time minus the part its child spans and its own jobs cover."""
    by_span: dict[int, list[Job]] = {}
    for job in jobs.values():
        if job.span is not None:
            by_span.setdefault(job.span, []).append(job)
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None and s.end is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        if s.end is None:
            continue
        own = by_span.get(s.id, [])
        covered = kids.get(s.id, []) + [(j.submit, j.end if j.end is not None else j.submit) for j in own]
        out[s.id] = {
            "jobs": len(own),
            "tasks": sum(j.tasks for j in own),
            "executor_run_s": sum(j.executor_run_s for j in own),
            "executor_cpu_s": sum(j.executor_cpu_s for j in own),
            "shuffle_bytes": sum(j.shuffle_bytes for j in own),
            "python_worker_s": sum(j.python_worker_s for j in own),
            "driver_residual_s": (s.end - s.start) - union_length(clip(covered, s.start, s.end)),
        }
    return out
