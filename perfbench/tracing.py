"""Traced-run tooling: the Spark event-log stage table, the Catalyst
phase timings of a Dataset, and the ``durationMs`` breakdown of
Structured Streaming progress.

Every traced query or cycle step runs under its own job group. The event
log maps job group -> job -> stage ids -> TaskEnd metrics, so each
executed stage is attributed to exactly one query or step, and a stage
attributed to none or to several is reported rather than dropped.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

# Catalyst phases reported by QueryExecution.tracker().
TRACKER_PHASES = ("analysis", "optimization", "planning")


@dataclass
class StageRow:
    stage_id: int
    groups: set[str] = field(default_factory=set)
    submitted_ms: int | None = None
    completed_ms: int | None = None
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill: int = 0
    jobs: set[int] = field(default_factory=set)


@dataclass
class StageTable:
    stages: dict[int, StageRow]

    def executed(self) -> list[StageRow]:
        return [s for s in self.stages.values() if s.tasks > 0 or s.completed_ms]

    def unattributed(self) -> list[int]:
        """Executed stages attributed to no group or to several groups."""
        return sorted(s.stage_id for s in self.executed() if len(s.groups) != 1)

    def for_group(self, group: str) -> list[StageRow]:
        return [s for s in self.executed() if s.groups == {group}]


def _read_events(event_log_dir: str):
    paths = [
        p
        for p in glob.glob(os.path.join(event_log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not p.endswith(".inprogress.crc")
    ]
    for path in sorted(paths):
        with open(path, encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:
                    continue  # a torn last line of a log still being written


def parse_event_log(event_log_dir: str) -> StageTable:
    """Build the stage table from every event-log file under the directory."""
    stages: dict[int, StageRow] = {}

    def row(sid: int) -> StageRow:
        return stages.setdefault(sid, StageRow(sid))

    for ev in _read_events(event_log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            for sid in ev.get("Stage IDs", []):
                r = row(sid)
                r.jobs.add(ev["Job ID"])
                if group is not None:
                    r.groups.add(group)
        elif kind == "SparkListenerStageCompleted":
            info = ev.get("Stage Info", {})
            r = row(info["Stage ID"])
            if info.get("Submission Time") is not None:
                r.submitted_ms = info["Submission Time"]
            if info.get("Completion Time") is not None:
                r.completed_ms = info["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            r = row(ev["Stage ID"])
            m = ev.get("Task Metrics") or {}
            r.tasks += 1
            r.run_ms += m.get("Executor Run Time", 0)
            r.cpu_ns += m.get("Executor CPU Time", 0)
            r.gc_ms += m.get("JVM GC Time", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            r.shuffle_write += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            r.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            r.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return StageTable(stages)


def covered_ms(stages: list[StageRow], lo_ms: float, hi_ms: float) -> float:
    """Milliseconds of [lo, hi] covered by at least one stage's
    submission-to-completion interval."""
    spans = sorted(
        (max(s.submitted_ms, lo_ms), min(s.completed_ms, hi_ms))
        for s in stages
        if s.submitted_ms is not None and s.completed_ms is not None
    )
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in spans:
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def exec_totals(stages: list[StageRow]) -> dict[str, float]:
    """Summed task metrics of a set of stages, in seconds and bytes."""
    return {
        "jobs": float(len(set().union(*[s.jobs for s in stages]))) if stages else 0.0,
        "stages": float(len(stages)),
        "tasks": float(sum(s.tasks for s in stages)),
        "task_run_s": sum(s.run_ms for s in stages) / 1e3,
        "task_cpu_s": sum(s.cpu_ns for s in stages) / 1e9,
        "gc_s": sum(s.gc_ms for s in stages) / 1e3,
        "shuffle_write": float(sum(s.shuffle_write for s in stages)),
        "shuffle_read": float(sum(s.shuffle_read for s in stages)),
        "spill": float(sum(s.spill for s in stages)),
    }


def tracker_phases(df) -> dict[str, float]:
    """Seconds each Catalyst phase took for the Dataset's own
    QueryExecution (after an action ran on it)."""
    tracker = df._jdf.queryExecution().tracker()
    phases = tracker.phases()
    out = {}
    for name in TRACKER_PHASES:
        opt = phases.get(name)
        out[name] = opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
    return out


def progress_durations(query) -> dict[str, float]:
    """Summed ``durationMs`` of every recorded progress of a streaming
    query, in seconds, keyed by Spark's phase names."""
    out: dict[str, float] = {}
    for p in query.recentProgress:
        for k, v in (p.durationMs or {}).items():
            out[k] = out.get(k, 0.0) + v / 1e3
    return out
