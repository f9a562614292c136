"""Spans recorded around each layer call, and Spark jobs from the event log.

Spans nest as operation -> module call -> Spark job. The benchmark records
the first two levels in memory around its calls into the program; the
Spark jobs come from the event log, which only the traced run enables.
Jobs are attributed to the span whose time window holds their submission:
the benchmark runs one operation at a time, and job groups would not reach
the jobs that ``runner.run_scan`` submits from its own thread pool.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# Event-log timestamps are whole milliseconds, truncated.
_CLOCK_SLACK_S = 0.002

# Per-task counters summed per operation: metric -> (task-metrics path, scale)
_TASK_SUMS = {
    "spark.executor_run_s": (("Executor Run Time",), 1e-3),
    "spark.executor_cpu_s": (("Executor CPU Time",), 1e-9),
    "spark.gc_s": (("JVM GC Time",), 1e-3),
    "spark.result_bytes": (("Result Size",), 1),
    "spark.input_bytes": (("Input Metrics", "Bytes Read"), 1),
    "spark.input_records": (("Input Metrics", "Records Read"), 1),
    "spark.shuffle_read_bytes": (("Shuffle Read Metrics", "Local Bytes Read"), 1),
    "spark.shuffle_write_bytes": (
        ("Shuffle Write Metrics", "Shuffle Bytes Written"), 1),
    "spark.spill_bytes": (("Disk Bytes Spilled",), 1),
}
_REMOTE_READ = ("Shuffle Read Metrics", "Remote Bytes Read")


@dataclass
class Span:
    name: str
    op: int
    parent: str | None
    start: float  # epoch seconds, comparable with event-log times
    end: float


@dataclass
class Job:
    id: int
    start: float
    end: float
    stages: int = 0
    metrics: dict[str, float] = field(default_factory=dict)


class Tracer:
    """Records spans in memory when enabled; a no-op otherwise."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str, op: int):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        start = time.time()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(Span(name, op, parent, start, time.time()))


def _dig(d: dict, path: tuple[str, ...]) -> float:
    for k in path:
        d = d.get(k) or {}
    return d if isinstance(d, (int, float)) else 0


def read_event_log(log_dir: str) -> list[Job]:
    """Jobs with their stages' task counters summed, from every event-log
    file under ``log_dir`` (plain or rolling v2 layout, uncompressed)."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    stage_sums: dict[int, dict[str, float]] = {}
    stage_heap: dict[int, int] = {}
    paths = [p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
             if os.path.isfile(p)]
    for path in sorted(paths):
        with open(path, errors="replace") as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue  # the v2 layout's binary appstatus snapshot
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    start = ev["Submission Time"] / 1000.0
                    jobs[jid] = Job(jid, start, start)
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    sums = stage_sums.setdefault(ev["Stage ID"], {})
                    tm = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    for name, (path_, scale) in _TASK_SUMS.items():
                        sums[name] = sums.get(name, 0) + _dig(tm, path_) * scale
                    sums["spark.shuffle_read_bytes"] += _dig(tm, _REMOTE_READ)
                    wall_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    overhead = max(0, wall_ms - tm.get("Executor Run Time", 0))
                    sums["spark.task_overhead_s"] = (
                        sums.get("spark.task_overhead_s", 0) + overhead / 1000.0)
                    sums["spark.tasks"] = sums.get("spark.tasks", 0) + 1
                    heap = _dig(ev, ("Task Executor Metrics", "JVMHeapMemory"))
                    stage_heap[ev["Stage ID"]] = max(
                        stage_heap.get(ev["Stage ID"], 0), int(heap))
                elif kind == "SparkListenerStageExecutorMetrics":
                    heap = _dig(ev, ("Executor Metrics", "JVMHeapMemory"))
                    stage_heap[ev["Stage ID"]] = max(
                        stage_heap.get(ev["Stage ID"], 0), int(heap))
    for sid, sums in stage_sums.items():
        job = jobs.get(stage_job.get(sid, -1))
        if job is None:
            continue
        job.stages += 1
        for name, v in sums.items():
            job.metrics[name] = job.metrics.get(name, 0) + v
        job.metrics["spark.peak_heap_bytes"] = max(
            job.metrics.get("spark.peak_heap_bytes", 0), stage_heap.get(sid, 0))
    return sorted(jobs.values(), key=lambda j: j.start)


def _owner(spans: list[Span], t: float) -> Span | None:
    """The latest-starting span that holds time ``t``."""
    best = None
    for s in spans:
        if s.start <= t + _CLOCK_SLACK_S and t <= s.end + _CLOCK_SLACK_S:
            if best is None or s.start > best.start:
                best = s
    return best


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total


def per_op_layers(spans: list[Span], jobs: list[Job]) -> dict[int, dict[str, float]]:
    """Per operation: each module span's duration (``<name>_s``) and self
    time (``<name>.self_s``, minus the Spark jobs it waited on), plus the
    Spark counters of every job the operation submitted."""
    ops = [s for s in spans if s.parent is None]
    modules = [s for s in spans if s.parent is not None]
    out: dict[int, dict[str, float]] = {s.op: {"spark.jobs": 0} for s in ops}
    job_spans: dict[int, list[tuple[float, float]]] = {}
    for job in jobs:
        op = _owner(ops, job.start)
        if op is None:
            continue  # warm-up or set-up jobs
        acc = out[op.op]
        acc["spark.jobs"] += 1
        acc["spark.stages"] = acc.get("spark.stages", 0) + job.stages
        for name, v in job.metrics.items():
            if name == "spark.peak_heap_bytes":
                acc[name] = max(acc.get(name, 0), v)
            else:
                acc[name] = acc.get(name, 0) + v
        mod = _owner([m for m in modules if m.op == op.op], job.start)
        if mod is not None:
            job_spans.setdefault(id(mod), []).append((job.start, job.end))
    for m in modules:
        acc = out.setdefault(m.op, {})
        dur = m.end - m.start
        waited = _covered(job_spans.get(id(m), []), m.start, m.end)
        acc[f"{m.name}_s"] = acc.get(f"{m.name}_s", 0) + dur
        acc[f"{m.name}.self_s"] = acc.get(f"{m.name}.self_s", 0) + dur - waited
    return out


def write_trace(path: str, spans: list[Span], jobs: list[Job]) -> None:
    with open(path, "w") as fh:
        json.dump({"spans": [asdict(s) for s in spans],
                   "jobs": [asdict(j) for j in jobs]}, fh)
