"""Spans, summary statistics and the Spark event-log reader.

Spans are recorded from the benchmark's own code, around calls into the
engine's public functions; they stay in memory and are written out once,
when the run ends.  Span times are wall-clock epoch seconds so that they
line up with the millisecond timestamps in Spark's event log.
"""

from __future__ import annotations

import glob
import json
import math
import os
import re
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    round_id: str = ""

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool, workload: str):
        self.enabled = enabled
        self.workload = workload
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, round_id: str = ""):
        if not self.enabled:
            yield None
            return
        s = Span(
            len(self.spans),
            name,
            time.time(),
            parent=self._stack[-1] if self._stack else None,
            round_id=round_id,
        )
        self.spans.append(s)
        self._stack.append(s.sid)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                {
                    "workload": self.workload,
                    "spans": [s.__dict__ for s in self.spans],
                },
                fh,
            )


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def covered_within(lo: float, hi: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [lo, hi] covered by ``intervals`` (each clipped to it)."""
    return union_length(
        [(max(lo, a), min(hi, b)) for a, b in intervals if min(hi, b) > max(lo, a)]
    )


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    return {s.sid: s.wall - covered_within(s.start, s.end, kids[s.sid]) for s in spans}


def tail_percentile(samples: list[float], beyond: int = 10) -> tuple[int, float] | None:
    """The highest whole percentile that leaves at least ``beyond`` samples
    above it, with its nearest-rank value; None when there are too few
    samples for any such percentile."""
    xs = sorted(samples)
    n = len(xs)
    for p in range(99, 0, -1):
        k = math.ceil(p * n / 100)  # nearest rank, 1-based
        if k >= 1 and n - k >= beyond:
            return p, xs[k - 1]
    return None


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

_PART = re.compile(r"events_(\d+)_")


def event_log_files(log_dir: str) -> list[str]:
    """Every file of every application log under ``log_dir``, in order.

    A rolling log is a directory ``eventlog_v2_<app>`` of parts
    ``events_1_<app>``, ``events_2_<app>``, ...; all parts must be read,
    not only the first.  A non-rolling log is one file."""
    out: list[str] = []
    for entry in sorted(os.listdir(log_dir)):
        p = os.path.join(log_dir, entry)
        if os.path.isdir(p):
            parts = [f for f in glob.glob(os.path.join(p, "events_*")) if _PART.search(f)]
            out.extend(sorted(parts, key=lambda f: int(_PART.search(os.path.basename(f)).group(1))))
        elif not entry.startswith("."):
            out.append(p)
    return out


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_cpu_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    gc_s: float = 0.0
    job_intervals: list[tuple[float, float]] = field(default_factory=list)


def read_event_log(log_dir: str) -> dict[str, GroupStats]:
    """Per job group: job, stage and task counts, job intervals (epoch s),
    executor CPU, shuffle bytes written, bytes spilled to disk and GC."""
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    for path in event_log_files(log_dir):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is None:
                        continue
                    jid = ev["Job ID"]
                    job_group[jid] = g
                    job_start[jid] = ev["Submission Time"] / 1000.0
                    groups[g].jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_group:
                        groups[job_group[jid]].job_intervals.append(
                            (job_start[jid], ev["Completion Time"] / 1000.0)
                        )
                elif kind == "SparkListenerStageCompleted":
                    g = stage_group.get(ev["Stage Info"]["Stage ID"])
                    if g is not None:
                        groups[g].stages += 1
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if g is None or not m:
                        continue
                    st = groups[g]
                    st.tasks += 1
                    st.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    st.gc_s += m.get("JVM GC Time", 0) / 1000.0
                    st.spill_bytes += m.get("Disk Bytes Spilled", 0)
                    st.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
    return dict(groups)


def gap_split(span: Span, stats: GroupStats | None) -> tuple[float, float]:
    """(time inside the call's Spark jobs, driver time outside them).

    In-job time is the union of the call's job intervals; the gap is the
    part of the span no job covers.  Computed independently, the two sum
    to the span's wall time only when every job of the call's group lies
    inside the span — the self-check relies on that."""
    iv = stats.job_intervals if stats else []
    in_job = union_length(iv)
    gap = span.wall - covered_within(span.start, span.end, iv)
    return in_job, gap
