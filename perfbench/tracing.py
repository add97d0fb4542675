"""Tracing for the per-layer run: spans around each call into an engine
layer, per-job counters from Spark's event log, micro-batch timings from a
streaming listener, and memory high-water marks from ``/proc``.

Spans are kept in memory and written out once, at the end of a run.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import threading
import time
from dataclasses import asdict, dataclass, field

PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Tracer:
    """Records ``(name, start, end, parent, op)`` spans.  Disabled, it only
    times: ``span`` still yields, and nothing is stored."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        span_id = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(span_id)
        start = time.time()
        try:
            yield
        finally:
            stack.pop()
            self.spans.append(Span(span_id, name, start, time.time(), parent, op))

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its child spans cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, cursor = 0.0, s.start
            for c in sorted(children.get(s.span_id, []), key=lambda c: c.start):
                lo, hi = max(c.start, cursor), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s.span_id] = (s.end - s.start) - covered
        return out

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps({**asdict(s), "self_s": selfs[s.span_id]}) + "\n")


@dataclass
class Job:
    """One Spark job with the counters of all its tasks."""

    job_id: int
    group: str | None
    submit: float
    end: float = 0.0
    stages: set[int] = field(default_factory=set)
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    gc_s: float = 0.0
    scheduler_delay_s: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    input_read: int = 0
    py_sent: int = 0
    py_received: int = 0


def read_event_log(log_dir: str) -> list[Job]:
    """Parse the (single) event log under ``log_dir`` into jobs.  Times are
    epoch seconds; sizes bytes."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, Job] = {}
    stage_job: dict[int, Job] = {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                job = Job(ev["Job ID"], (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                          ev["Submission Time"] / 1000.0, stages=set(ev["Stage IDs"]))
                jobs[job.job_id] = job
                for sid in job.stages:
                    stage_job[sid] = job
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                job = stage_job.get(ev["Stage ID"])
                if job is not None:
                    _add_task(job, ev)
    return sorted(jobs.values(), key=lambda j: j.submit)


def _add_task(job: Job, ev: dict) -> None:
    info = ev["Task Info"]
    m = ev.get("Task Metrics") or {}
    job.tasks += 1
    job.failed_tasks += bool(info.get("Failed"))
    run_ms = m.get("Executor Run Time", 0)
    job.run_s += run_ms / 1000.0
    job.gc_s += m.get("JVM GC Time", 0) / 1000.0
    # Spark UI definition: task wall time not spent deserializing, running,
    # serializing the result or fetching it.
    overhead = m.get("Executor Deserialize Time", 0) + m.get("Result Serialization Time", 0)
    wall = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    job.scheduler_delay_s += max(0, wall - run_ms - overhead - info.get("Getting Result Time", 0)) / 1000.0
    sr = m.get("Shuffle Read Metrics") or {}
    job.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    job.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    job.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    job.input_read += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    for acc in info.get("Accumulables") or []:
        if acc.get("Name") == PY_SENT:
            job.py_sent += int(acc.get("Update") or 0)
        elif acc.get("Name") == PY_RECEIVED:
            job.py_received += int(acc.get("Update") or 0)


def stream_listener():
    """A ``StreamingQueryListener`` that keeps each micro-batch's start time
    and phase durations (ms) in ``.batches``."""
    from datetime import datetime

    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.batches: list[tuple[float, dict]] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            ts = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
            self.batches.append((ts, dict(p.durationMs)))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Progress()


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the processes' resident-set high-water marks (``VmHWM``)."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except FileNotFoundError:
            continue
    return total_kb / 1024.0
