"""Tracing and process accounting for the traced run: in-memory spans,
the Spark event log, and /proc readers."""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


class Tracer:
    """Spans kept in memory (name, start, end, parent, attributes) and
    written out once at the end. Disabled, it records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = self.add(name, time.time(), 0.0, **attrs)
        self._stack.append(sid)
        try:
            yield self.spans[sid]
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append(
            {"id": len(self.spans), "parent": parent, "name": name,
             "start": start, "end": end, **attrs}
        )
        return len(self.spans) - 1

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


@dataclass
class Stage:
    tasks: int = 0
    run_ms: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


@dataclass
class Job:
    start_ms: int
    end_ms: int = 0
    group: str | None = None
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: dict[int, Stage]

    def jobs_between(self, start_s: float, end_s: float) -> list[Job]:
        lo, hi = start_s * 1000.0, end_s * 1000.0
        return [j for j in self.jobs.values() if lo <= j.start_ms <= hi]

    def jobs_in_group(self, group: str) -> list[Job]:
        return [j for j in self.jobs.values() if j.group == group]

    def result_stages(self, jobs) -> list[Stage]:
        """Each job's last stage (the one that produces its result)."""
        ids = {max(j.stage_ids) for j in jobs if j.stage_ids}
        return [self.stages[s] for s in sorted(ids) if s in self.stages]

    def completed_stages(self, jobs) -> list[Stage]:
        ids = {s for j in jobs for s in j.stage_ids}
        return [self.stages[s] for s in sorted(ids) if s in self.stages]


def read_event_log(log_dir: str) -> EventLog:
    """Parse the newest Spark event log under ``log_dir`` (JSON lines):
    job intervals and groups, and per-stage task metrics summed over
    the stage's tasks. Stages skipped by reuse never complete and are
    absent."""
    paths = sorted(glob.glob(os.path.join(log_dir, "*")), key=os.path.getmtime)
    if not paths:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    newest = paths[-1]
    if os.path.isdir(newest):
        # Rolling log (the Spark 4 default): events_<n>_<app> parts.
        parts = glob.glob(os.path.join(newest, "events_*"))
        files = sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))
    else:
        files = [newest]
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    for line in _lines(files):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = Job(
                start_ms=ev["Submission Time"],
                group=props.get("spark.jobGroup.id"),
                stage_ids=list(ev.get("Stage IDs", [])),
            )
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            stages.setdefault(info["Stage ID"], Stage()).tasks = info.get("Number of Tasks", 0)
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            st = stages.setdefault(ev["Stage ID"], Stage())
            st.run_ms += m.get("Executor Run Time", 0)
            st.gc_ms += m.get("JVM GC Time", 0)
            st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
    # A stage that never completed (skipped, or cut off) has no task count.
    stages = {sid: s for sid, s in stages.items() if s.tasks}
    return EventLog(jobs, stages)


def _lines(files):
    for path in files:
        with open(path) as f:
            yield from f


def busy_union_s(jobs, start_s: float, end_s: float) -> float:
    """Seconds of [start, end] covered by at least one job interval."""
    iv = sorted(
        (max(j.start_ms / 1000.0, start_s), min((j.end_ms or j.start_ms) / 1000.0, end_s))
        for j in jobs
    )
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in iv:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


# --- /proc -------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces; fields resume after the closing paren.
    return raw[raw.rindex(")") + 2:].split()


def descendants(pid: int) -> list[int]:
    """``pid`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def cpu_seconds(pids) -> float:
    """User+system CPU of the given processes, including their reaped
    children."""
    total = 0
    for pid in pids:
        fields = _stat_fields(pid)
        if fields:
            # utime, stime, cutime, cstime are stat fields 14-17.
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(pids) -> float:
    """Sum of VmHWM (peak resident set) over the given processes, MiB."""
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0


def rss_mb(pid: int) -> float:
    return _status_kb(pid, "VmRSS") / 1024.0
