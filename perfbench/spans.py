"""Spans, Spark event-log parsing and the statistics helpers of the
benchmark. Standard library only, so the tests need no Spark session.

A span is a named wall-clock interval recorded by the benchmark around a
call into the engine. While a span is open it is the Spark job group of
the calling thread, so every job the call submits carries the span's id in
its ``spark.jobGroup.id`` property and the event log attributes the job's
stages and tasks back to the span. Jobs submitted under another group (a
streaming query's micro-batches) go to the innermost span open when they
were submitted.
"""

from __future__ import annotations

import contextlib
import functools
import json
import math
import time
from collections.abc import Iterable
from dataclasses import dataclass, field


# ------------------------------------------------------------------ helpers

def geomean(values: Iterable[float]) -> float:
    vals = list(values)
    if not vals or min(vals) <= 0:
        raise ValueError(f"geomean needs positive values, got {vals}")
    return math.exp(sum(math.log(v) for v in vals) / len(vals))


def median(values: Iterable[float]) -> float:
    vals = sorted(values)
    if not vals:
        raise ValueError("median of no values")
    mid = len(vals) // 2
    return vals[mid] if len(vals) % 2 else (vals[mid - 1] + vals[mid]) / 2


TAIL_BEYOND = 10  # samples a reported tail percentile must leave above it


def tail_percentile(values: Iterable[float]) -> tuple[float, float] | None:
    """``(p, value)``: the highest percentile that leaves at least
    ``TAIL_BEYOND`` samples above it, by nearest rank, or None when there
    are too few samples for any percentile above the median to be
    supported."""
    vals = sorted(values)
    rank = len(vals) - TAIL_BEYOND  # 1-based rank with TAIL_BEYOND above
    if rank < 1 or rank <= len(vals) // 2:
        return None
    return 100.0 * rank / len(vals), vals[rank - 1]


def interval_union(intervals: Iterable[tuple[float, float]],
                   lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by ``intervals``, each clipped to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# -------------------------------------------------------------------- spans

@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0


class Tracer:
    """Records spans in memory; each open span is the calling thread's
    Spark job group (``sc`` may be None to record wall time only)."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1].sid if self._stack else None
        span = Span(len(self.spans), name, parent, time.time())
        self.spans.append(span)
        self._stack.append(span)
        self._set_group(span)
        try:
            yield span
        finally:
            self._stack.pop()
            span.end = time.time()
            self._set_group(self._stack[-1] if self._stack else None)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            for key in ("spark.jobGroup.id", "spark.job.description"):
                self.sc.setLocalProperty(key, None)
        else:
            self.sc.setJobGroup(str(span.sid), span.name)


def children(spans: list[Span]) -> dict[int, list[Span]]:
    out: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            out.setdefault(s.parent, []).append(s)
    return out


def subtree(spans: list[Span], root: int) -> set[int]:
    kids = children(spans)
    out, todo = set(), [root]
    while todo:
        sid = todo.pop()
        out.add(sid)
        todo.extend(k.sid for k in kids.get(sid, []))
    return out


def self_time(spans: list[Span], sid: int) -> float:
    """A span's duration minus the part its child spans cover."""
    s = spans[sid]
    kids = children(spans).get(sid, [])
    return (s.end - s.start) - interval_union(
        ((k.start, k.end) for k in kids), s.start, s.end
    )


# ---------------------------------------------------------------- event log

@dataclass
class StageStats:
    stage_id: int
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    completed: bool = False


@dataclass
class JobStats:
    job_id: int
    group: str | None
    start: float
    end: float = 0.0
    succeeded: bool = False
    stage_ids: list[int] = field(default_factory=list)
    span: int | None = None  # set by attribute_jobs


@dataclass
class EventLog:
    jobs: dict[int, JobStats] = field(default_factory=dict)
    stages: dict[int, StageStats] = field(default_factory=dict)

    def stage_of_job(self) -> dict[int, int]:
        out = {}
        for job in self.jobs.values():
            for sid in job.stage_ids:
                out.setdefault(sid, job.job_id)
        return out

    def totals(self, job_ids: Iterable[int]) -> dict[str, float]:
        """Sums over the completed stages of ``job_ids``. A stage shared by
        several jobs (a reused shuffle) counts once, under its first job."""
        ids = set(job_ids)
        owner = self.stage_of_job()
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
             "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
             "spill_bytes", "input_bytes"), 0.0)
        out["jobs"] = float(len(ids & set(self.jobs)))
        for st in self.stages.values():
            if not st.completed or owner.get(st.stage_id) not in ids:
                continue
            out["stages"] += 1
            for k in ("tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                      "shuffle_read_bytes", "shuffle_write_bytes",
                      "spill_bytes", "input_bytes"):
                out[k] += getattr(st, k)
        return out


def parse_event_log(lines: Iterable[str]) -> EventLog:
    """Jobs, stages and task metrics from a Spark JSON event log. Times are
    epoch seconds; executor times are summed over tasks."""
    log = EventLog()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = JobStats(
                ev["Job ID"], props.get("spark.jobGroup.id"),
                ev["Submission Time"] / 1000.0,
                stage_ids=list(ev.get("Stage IDs", [])),
            )
            log.jobs[job.job_id] = job
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job is not None:
                job.end = ev["Completion Time"] / 1000.0
                job.succeeded = (ev.get("Job Result") or {}).get("Result") == "JobSucceeded"
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            log.stages.setdefault(sid, StageStats(sid)).completed = True
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:
                continue
            st = log.stages.setdefault(ev["Stage ID"], StageStats(ev["Stage ID"]))
            st.tasks += 1
            st.executor_run_s += m.get("Executor Run Time", 0) / 1000.0
            st.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            st.gc_s += m.get("JVM GC Time", 0) / 1000.0
            st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            st.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    return log


def attribute_jobs(log: EventLog, spans: list[Span]) -> None:
    """Give each job the span that submitted it: the span whose id is the
    job's group; or, for a job whose group is not a span id, the innermost
    span open at its submission time. Structured Streaming sets its own
    job group (the query's run id) on the micro-batch thread, so the jobs
    of a stream drain are found by time, inside the span that drains it."""
    ids = {s.sid for s in spans}
    for j in log.jobs.values():
        if j.group is not None and j.group.isdigit() and int(j.group) in ids:
            j.span = int(j.group)
            continue
        open_at = [s for s in spans if s.start <= j.start <= s.end]
        j.span = max(open_at, key=lambda s: (s.start, s.sid)).sid if open_at else None


def jobs_in(log: EventLog, span_ids: set[int]) -> list[JobStats]:
    """The jobs attributed (``attribute_jobs``) to any of ``span_ids``."""
    return [j for j in log.jobs.values() if j.span in span_ids]


def driver_only_s(log: EventLog, spans: list[Span], sid: int) -> float:
    """Wall time of span ``sid`` during which none of its (or its
    descendants') jobs was running."""
    s = spans[sid]
    jobs = jobs_in(log, subtree(spans, sid))
    busy = interval_union(((j.start, j.end) for j in jobs), s.start, s.end)
    return (s.end - s.start) - busy
