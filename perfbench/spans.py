"""Spans, Spark event-log parsing and the resource probes.

Spans are recorded by the benchmark around its calls into each layer
(name, start, end, parent, request id), kept in memory and written
once at the end. The Spark event log is switched on for a traced run
only; ``spark_summary`` folds it into per-window job/stage/task
figures: by job group (a workload phase) or by wall-clock window (a
span's interval).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    req: int | None


@dataclass
class Tracer:
    """Collects spans while ``enabled``; a disabled tracer records
    nothing, so an untraced iteration pays only the ``with`` overhead."""

    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str, req: int | None = None):
        if not self.enabled:
            yield None
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), 0.0, parent, req))
        self._stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_times(self) -> dict[str, float]:
        """Summed self time (duration minus the time child spans cover)
        per span name. Children of one span never overlap (one thread)."""
        child_cover = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child_cover[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child_cover[i]
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


@dataclass
class Job:
    job_id: int
    submit: float  # epoch seconds
    end: float
    stages: list[int]
    group: str | None  # the job group set while the job was submitted
    description: str | None


@dataclass
class EventLog:
    jobs: list[Job]
    stage_done: dict[int, dict]  # stage id -> {"tasks", "metrics"}


def read_event_log(log_dir: str) -> EventLog:
    """Parse the single application log under ``log_dir``."""
    files = sorted(p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
                   if os.path.isfile(p))
    jobs: dict[int, Job] = {}
    stage_done: dict[int, dict] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = Job(
                        ev["Job ID"], ev["Submission Time"] / 1000.0, 0.0,
                        list(ev.get("Stage IDs", [])),
                        props.get("spark.jobGroup.id"), props.get("spark.job.description"))
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    acc = {a.get("Name"): a.get("Value") for a in info.get("Accumulables", [])}
                    stage_done[info["Stage ID"]] = {"tasks": info.get("Number of Tasks", 0), "acc": acc}
    return EventLog(sorted(jobs.values(), key=lambda j: j.job_id), stage_done)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _union_len(intervals: list[tuple[float, float]]) -> float:
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


def jobs_in(log: EventLog, windows: list[tuple[float, float]]) -> list[Job]:
    """Jobs submitted inside any of the wall-clock windows."""
    return [j for j in log.jobs if any(s <= j.submit <= e for s, e in windows)]


def jobs_of(log: EventLog, group: str) -> list[Job]:
    """Jobs submitted under the job group ``group``."""
    return [j for j in log.jobs if j.group == group]


def spark_summary(log: EventLog, jobs: list[Job], windows: list[tuple[float, float]]) -> dict[str, float]:
    """Job/stage/task figures of ``jobs``, whose wall is ``windows``.

    ``job_active_s`` is the union of the jobs' [submit, end] intervals
    clipped to the windows, ``driver_gap_s`` the rest of the windows'
    wall: time the driver spent planning, collecting or idle."""
    wall = sum(e - s for s, e in windows)
    clipped = []
    for j in jobs:
        for s, e in windows:
            if s <= j.submit <= e:
                clipped.append((j.submit, min(j.end or e, e)))
    active = _union_len(clipped)
    planned = sum(len(j.stages) for j in jobs)
    ran = [log.stage_done[s] for j in jobs for s in j.stages if s in log.stage_done]
    acc = lambda key: sum(_num(st["acc"].get(key)) for st in ran)  # noqa: E731
    mb = 1 / (1 << 20)
    return {
        "jobs": float(len(jobs)),
        "stages_planned": float(planned),
        "stages_skipped_frac": (planned - len(ran)) / planned if planned else 0.0,
        "tasks": float(sum(st["tasks"] for st in ran)),
        "job_active_s": active,
        "driver_gap_s": max(wall - active, 0.0),
        "wall_s": wall,
        "exec_cpu_s": acc("internal.metrics.executorCpuTime") / 1e9,
        "gc_s": acc("internal.metrics.jvmGCTime") / 1e3,
        "shuffle_write_mb": acc("internal.metrics.shuffle.write.bytesWritten") * mb,
        "spill_mb": (acc("internal.metrics.memoryBytesSpilled")
                     + acc("internal.metrics.diskBytesSpilled")) * mb,
        "input_mb": acc("internal.metrics.input.bytesRead") * mb,
        "output_mb": acc("internal.metrics.output.bytesWritten") * mb,
    }


def window_summary(log: EventLog, windows: list[tuple[float, float]]) -> dict[str, float]:
    """``spark_summary`` of the jobs submitted inside ``windows``."""
    return spark_summary(log, jobs_in(log, windows), windows)


def marker_window(log: EventLog, group: str) -> tuple[float, float] | None:
    """The phase as the event log saw it: from the end of the job
    described ``begin`` to the submission of the job described ``end``,
    both submitted under ``group``. None if either is missing."""
    marks = {j.description: j for j in jobs_of(log, group)}
    if "begin" not in marks or "end" not in marks or not marks["begin"].end:
        return None
    return marks["begin"].end, marks["end"].submit


def first_job_delay(log: EventLog, window: tuple[float, float]) -> float | None:
    """Seconds from a window's start to its first job submission."""
    starts = [j.submit for j in log.jobs if window[0] <= j.submit <= window[1]]
    return min(starts) - window[0] if starts else None


# ---------------------------------------------------------------------------
# Host and process probes
# ---------------------------------------------------------------------------


def host_probe_s() -> float:
    """Best of three timings of a fixed single-thread loop: a contended
    (CPU-stolen) host shows up as a larger value."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc += i * i
        best = min(best, time.perf_counter() - t0)
    return best


def peak_rss_mb(pids: list[int]) -> float:
    """Summed peak resident set (VmHWM) of ``pids``, in MiB."""
    total = 0.0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) / 1024
        except OSError:
            pass
    return total


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 4096
