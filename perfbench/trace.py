"""In-memory spans plus Spark's own event log, joined by time.

Spans are recorded by the benchmark around its calls into each engine
module; nothing inside the engine is instrumented.  Spark jobs are
attributed to the innermost span whose wall interval contains the job's
submission time.  Job groups cannot be used: ``crawl_round`` submits its
writes from a thread pool, and PySpark pins local properties to the
submitting Python thread.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from dataclasses import dataclass, field

MIB = 1024 * 1024


@dataclass
class Span:
    name: str
    start: float  # epoch seconds (comparable with event-log timestamps)
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans in memory; ``enabled=False`` records nothing, so the
    timed runs pay one ``if`` per boundary."""

    def __init__(self, run_id: str, enabled: bool = True) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.time(), parent=parent, run_id=self.run_id, attrs=attrs)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def to_json(self) -> list[dict]:
        return [
            {
                "id": i,
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "parent": s.parent,
                "run_id": s.run_id,
                **({"attrs": s.attrs} if s.attrs else {}),
            }
            for i, s in enumerate(self.spans)
        ]


@dataclass
class Job:
    job_id: int
    submitted: float  # epoch seconds
    stage_ids: list[int]
    tasks: list[dict] = field(default_factory=list)


def read_event_log(log_dir: str) -> list[Job]:
    """Jobs with their task metrics from the (finished) event log in
    ``log_dir``; call after ``spark.stop()`` so the file is complete."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(paths[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                job = Job(ev["Job ID"], ev["Submission Time"] / 1000.0, ev["Stage IDs"])
                jobs[job.job_id] = job
                for sid in job.stage_ids:
                    stage_job[sid] = job.job_id
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                if jid is not None and ev.get("Task Metrics"):
                    jobs[jid].tasks.append(_task_row(ev))
    return sorted(jobs.values(), key=lambda j: j.job_id)


_PY_ACCUMS = ("data sent to Python workers", "data returned from Python workers")


def _task_row(ev: dict) -> dict:
    m = ev["Task Metrics"]
    info = ev["Task Info"]
    sr = m.get("Shuffle Read Metrics", {})
    sw = m.get("Shuffle Write Metrics", {})
    py = sum(
        int(a.get("Update", 0) or 0)
        for a in info.get("Accumulables", [])
        if a.get("Name") in _PY_ACCUMS
    )
    return {
        "stage": ev["Stage ID"],
        "run_ms": m.get("Executor Run Time", 0),
        "cpu_ns": m.get("Executor CPU Time", 0),
        "gc_ms": m.get("JVM GC Time", 0),
        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "peak_exec": m.get("Peak Execution Memory", 0),
        "python": py,
    }


def attribute(jobs: list[Job], spans: list[Span]) -> dict[int, list[Job]]:
    """span index -> jobs submitted inside it (innermost span wins)."""
    out: dict[int, list[Job]] = {i: [] for i in range(len(spans))}
    for job in jobs:
        best = None
        for i, s in enumerate(spans):
            if s.start <= job.submitted <= s.end and (
                best is None or s.start >= spans[best].start
            ):
                best = i
        if best is not None:
            out[best].append(job)
    return out


def engine_metrics(jobs: list[Job], wall_s: float, cores: int) -> dict[str, float]:
    """The ``spark.*`` per-layer metrics over a set of jobs."""
    tasks = [t for j in jobs for t in j.tasks]
    run_s = sum(t["run_ms"] for t in tasks) / 1000.0
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len({t["stage"] for t in tasks}),
        "spark.tasks": len(tasks),
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "spark.gc_s": sum(t["gc_ms"] for t in tasks) / 1000.0,
        "spark.core_busy_ratio": run_s / (wall_s * cores) if wall_s > 0 else 0.0,
        "spark.shuffle_write_mib": sum(t["shuffle_write"] for t in tasks) / MIB,
        "spark.shuffle_read_mib": sum(t["shuffle_read"] for t in tasks) / MIB,
        "spark.spill_mib": sum(t["spill"] for t in tasks) / MIB,
        "spark.peak_execution_mib": max((t["peak_exec"] for t in tasks), default=0) / MIB,
        "spark.python_udf_mib": sum(t["python"] for t in tasks) / MIB,
    }


def span_jobs(
    tracer: Tracer, by_span: dict[int, list[Job]], root: int
) -> list[Job]:
    """Jobs attributed to span ``root`` or any of its descendants."""
    children: dict[int, list[int]] = {}
    for i, s in enumerate(tracer.spans):
        if s.parent is not None:
            children.setdefault(s.parent, []).append(i)
    out, todo = [], [root]
    while todo:
        i = todo.pop()
        out.extend(by_span.get(i, []))
        todo.extend(children.get(i, []))
    return out
