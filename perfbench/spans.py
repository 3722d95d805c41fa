"""Spans recorded around calls into the engine's layers, and a parser for
Spark's own event log.

A span has a name, a start, an end, a parent span and the run id every span
of one benchmark run shares. Spans stay in memory until the run ends. The
timing itself is taken whether or not tracing is on, because the untraced
run needs the same wall times; only the recording is conditional.
"""

from __future__ import annotations

import glob
import json
import os
import time
import uuid
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; always times them."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._next_id = 0

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(self._next_id, name, time.perf_counter(), parent=parent,
                 attrs=attrs)
        self._next_id += 1
        if self.enabled:
            self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def to_json(self) -> list[dict]:
        return [dict(asdict(s), run_id=self.run_id) for s in self.spans]


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover (the
    union of the children's intervals, clipped to the parent)."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children[s.id], key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
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
        out[s.id] = s.duration - covered
    return out


def tail(xs) -> tuple[float, float] | None:
    """(percentile, value) at the highest percentile that leaves at least
    ten samples beyond it (nearest-rank), or None with fewer than 11."""
    xs = sorted(xs)
    n = len(xs)
    if n < 11:
        return None
    rank = n - 10  # 1-based rank of the value that leaves 10 above it
    return 100.0 * rank / n, xs[rank - 1]


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


@dataclass
class JobRecord:
    job_id: int
    group: str | None
    submit_ms: int
    stage_ids: list[int]


@dataclass
class StageRecord:
    stage_id: int
    attempt: int
    tasks: int = 0
    run_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    records_read: int = 0
    records_written: int = 0
    completed: bool = False


@dataclass
class EventLog:
    jobs: dict[int, JobRecord]
    stages: dict[tuple[int, int], StageRecord]

    def totals(self, job_ids) -> dict:
        """Engine counters summed over ``job_ids`` and their stages."""
        job_ids = set(job_ids)
        stage_ids = {sid for j in job_ids if j in self.jobs
                     for sid in self.jobs[j].stage_ids}
        stages = [s for (sid, _), s in self.stages.items()
                  if sid in stage_ids]
        return {
            "jobs": len(job_ids & self.jobs.keys()),
            "stages": sum(s.completed for s in stages),
            "tasks": sum(s.tasks for s in stages),
            "task_run_s": sum(s.run_ms for s in stages) / 1000.0,
            "shuffle_write_bytes": sum(s.shuffle_write_bytes for s in stages),
            "spill_bytes": sum(s.spill_bytes for s in stages),
            "records_read": sum(s.records_read for s in stages),
            "records_written": sum(s.records_written for s in stages),
        }

    def jobs_in_groups(self, groups) -> list[int]:
        groups = set(groups)
        return [j.job_id for j in self.jobs.values() if j.group in groups]

    def jobs_between(self, lo_ms: float, hi_ms: float) -> list[int]:
        return [j.job_id for j in self.jobs.values()
                if lo_ms <= j.submit_ms <= hi_ms]


def parse_event_log(paths) -> EventLog:
    """Read uncompressed, non-rolling Spark event log files (JSON lines).

    Jobs keep their job group (``spark.jobGroup.id``) and stage ids; task
    metrics are summed per stage attempt from SparkListenerTaskEnd.
    """
    jobs: dict[int, JobRecord] = {}
    stages: dict[tuple[int, int], StageRecord] = {}
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = JobRecord(
                        ev["Job ID"], props.get("spark.jobGroup.id"),
                        ev.get("Submission Time", 0),
                        list(ev.get("Stage IDs", [])))
                elif kind == "SparkListenerTaskEnd":
                    key = (ev["Stage ID"], ev["Stage Attempt ID"])
                    st = stages.setdefault(key, StageRecord(*key))
                    st.tasks += 1
                    m = ev.get("Task Metrics") or {}
                    st.run_ms += m.get("Executor Run Time", 0)
                    st.shuffle_write_bytes += (
                        m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0)
                    st.spill_bytes += (m.get("Memory Bytes Spilled", 0)
                                       + m.get("Disk Bytes Spilled", 0))
                    st.records_read += (m.get("Input Metrics") or {}).get(
                        "Records Read", 0)
                    st.records_written += (
                        m.get("Output Metrics") or {}).get(
                            "Records Written", 0)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    key = (info["Stage ID"], info["Stage Attempt ID"])
                    stages.setdefault(key, StageRecord(*key)).completed = True
    return EventLog(jobs, stages)


def event_log_files(log_dir: str, app_id: str) -> list[str]:
    """The event log files of application ``app_id`` in ``log_dir``."""
    return sorted(p for p in glob.glob(os.path.join(log_dir, app_id + "*"))
                  if os.path.isfile(p))
