"""Spans recorded around calls into the engine's public functions, the
Spark event-log reducer, and process memory read from ``/proc``.

Spans stay in memory while the benchmark runs and are written out
once at the end. Spark's own counters are read from the event log
after the session stops, never from inside the engine.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
from collections.abc import Iterable, Iterator
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    parent: str | None
    trace_id: str

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """In-memory span recorder. Spans opened on one thread nest under
    that thread's innermost open span (foreachBatch handlers run on a
    py4j callback thread, queries on the main thread)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, trace_id: str = "") -> Iterator[None]:
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        stack.append(name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(Span(name, start, end, parent, trace_id))

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


@dataclass
class Job:
    submit_ms: int
    end_ms: int = 0
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    # stage id -> number of tasks, for stages that actually ran
    stages: dict[int, int] = field(default_factory=dict)
    # stage id -> [run ms, cpu ms, shuffle bytes written] summed over tasks
    stage_cost: dict[int, list[float]] = field(default_factory=dict)


_WANTED = (
    "SparkListenerJobStart",
    "SparkListenerJobEnd",
    "SparkListenerStageCompleted",
    "SparkListenerTaskEnd",
)


def event_files(log_dir: str) -> list[str]:
    """Every event file under ``log_dir``: plain single-file logs and
    the rolling ``eventlog_v2_*/events_<n>_*`` layout, in write order."""

    def roll_index(path: str) -> int:
        return int(os.path.basename(path).split("_")[1])

    out = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if entry.startswith("eventlog_v2_") and os.path.isdir(path):
            out += sorted(
                glob.glob(os.path.join(path, "events_*")), key=roll_index
            )
        elif os.path.isfile(path) and not entry.startswith("."):
            out.append(path)
    return out


def read_event_log(log_dir: str) -> EventLog:
    """Parse the job, stage and task events of an uncompressed Spark
    event log (``spark.eventLog.compress=false``)."""
    log = EventLog()
    for path in event_files(log_dir):
        with open(path) as f:
            for line in f:
                # cheap prefix test: most of the log is SQL/accumulator
                # events this reducer never reads
                head = line[:48]
                if not any(w in head for w in _WANTED):
                    continue
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    log.jobs[e["Job ID"]] = Job(
                        e["Submission Time"], stage_ids=e["Stage IDs"]
                    )
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in log.jobs:
                        log.jobs[e["Job ID"]].end_ms = e["Completion Time"]
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    log.stages[info["Stage ID"]] = info["Number of Tasks"]
                else:
                    m = e.get("Task Metrics") or {}
                    cost = log.stage_cost.setdefault(e["Stage ID"], [0, 0, 0])
                    cost[0] += m.get("Executor Run Time", 0)
                    cost[1] += m.get("Executor CPU Time", 0) / 1e6
                    cost[2] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
    return log


def _union_ms(intervals: Iterable[tuple[float, float]]) -> float:
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


def reduce_jobs(
    log: EventLog, windows: Iterable[tuple[float, float]]
) -> dict[str, float]:
    """Spark's counters for the jobs submitted inside any of the given
    (start, end) windows, in epoch seconds. ``outside_jobs_ms`` is the
    windows' total length minus the part covered by those jobs:
    driver time that runs no Spark job (planning, Python, py4j)."""
    windows = [(a * 1000.0, b * 1000.0) for a, b in windows]
    owner: dict[int, int] = {}  # stage -> first job that ran it
    for jid in sorted(log.jobs):
        for sid in log.jobs[jid].stage_ids:
            if sid in log.stages:
                owner.setdefault(sid, jid)
    out = dict.fromkeys(
        (
            "jobs",
            "stages",
            "tasks",
            "executor_run_ms",
            "executor_wait_ms",
            "shuffle_write_bytes",
        ),
        0.0,
    )
    busy = []
    for jid, job in log.jobs.items():
        hit = [w for w in windows if w[0] <= job.submit_ms <= w[1]]
        if not hit:
            continue
        out["jobs"] += 1
        lo, hi = hit[0]
        busy.append((job.submit_ms, min(job.end_ms or hi, hi)))
        for sid in job.stage_ids:
            if owner.get(sid) != jid:
                continue
            run, cpu, shuffle = log.stage_cost.get(sid, (0, 0, 0))
            out["stages"] += 1
            out["tasks"] += log.stages[sid]
            out["executor_run_ms"] += run
            out["executor_wait_ms"] += max(0.0, run - cpu)
            out["shuffle_write_bytes"] += shuffle
    out["outside_jobs_ms"] = max(
        0.0, sum(b - a for a, b in windows) - _union_ms(busy)
    )
    return out


def reset_peak_rss() -> None:
    """Reset this process's VmHWM to its current resident set, so the
    benchmark's own set-up (feed strings, DuckDB oracle runs) does not
    hide the engine's Python-side peak."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def peak_rss_mb(pids: Iterable[int]) -> float:
    """Sum of the peak resident set (VmHWM) of the given processes."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0
