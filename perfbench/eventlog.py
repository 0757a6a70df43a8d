"""Attribute Spark's own event log to the benchmark's spans (stdlib only).

The traced run's session writes an uncompressed event log, and every span
sets Spark's job description to its own name (`tracer.py`). Each stage is
attributed to the description of the job that submitted it, and each
finished task to its stage. For every description this gives the job
count, the summed task run time and CPU time, shuffle bytes written, disk
spill, and the per-stage task times that skew is read from.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field

from spec import SPAN_FIELDS
from tracer import ROUND, Span

GAP = "crawl.driver_gap"


@dataclass
class Usage:
    """Spark work done under one job description."""

    jobs: int = 0
    task_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    stage_task_s: dict[int, list[float]] = field(default_factory=dict)

    def add(self, other: "Usage") -> None:
        self.jobs += other.jobs
        self.task_s += other.task_s
        self.cpu_s += other.cpu_s
        self.shuffle_write_bytes += other.shuffle_write_bytes
        self.spill_bytes += other.spill_bytes
        for sid, ts in other.stage_task_s.items():
            self.stage_task_s.setdefault(sid, []).extend(ts)

    @property
    def task_skew(self) -> float:
        """Max over median task time of the heaviest stage (by summed task
        time): the stage a straggler actually delays. 0.0 with no tasks."""
        if not self.stage_task_s:
            return 0.0
        heavy = max(self.stage_task_s.values(), key=sum)
        med = statistics.median(heavy)
        return max(heavy) / med if med > 0 else 1.0


def event_files(log_dir: str) -> list[str]:
    """Event files under `spark.eventLog.dir`, in write order. Handles both
    the single-file layout and the rolling `eventlog_v2_<app>/events_<n>_*`
    layout."""
    out: list[str] = []
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if os.path.isdir(path) and name.startswith("eventlog_v2_"):
            parts = [p for p in os.listdir(path) if p.startswith("events_")]
            parts.sort(key=lambda p: int(p.split("_")[1]))
            out.extend(os.path.join(path, p) for p in parts)
        elif os.path.isfile(path):
            out.append(path)
    return out


def read_events(log_dir: str):
    for path in event_files(log_dir):
        with open(path, encoding="utf-8") as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def usage_by_description(events) -> dict[str | None, Usage]:
    """Fold an event stream into per-job-description usage."""
    usage: dict[str | None, Usage] = {}
    stage_desc: dict[int, str | None] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description")
            usage.setdefault(desc, Usage()).jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_desc.setdefault(sid, desc)
        elif kind == "SparkListenerStageSubmitted":
            # the submitting job's properties: authoritative for a stage
            # that several jobs list (a reused shuffle stage runs once)
            sid = ev["Stage Info"]["Stage ID"]
            stage_desc[sid] = (ev.get("Properties") or {}).get("spark.job.description")
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:
                continue
            sid = ev["Stage ID"]
            u = usage.setdefault(stage_desc.get(sid), Usage())
            run_s = m.get("Executor Run Time", 0) / 1e3
            u.task_s += run_s
            u.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            u.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            u.spill_bytes += m.get("Disk Bytes Spilled", 0)
            u.stage_task_s.setdefault(sid, []).append(run_s)
    return usage


def layer_metrics(
    spans: list[Span], usage: dict[str | None, Usage], names: list[str]
) -> dict[str, float]:
    """Per-span metrics as means per occurrence, for every name in `names`
    (0.0 where the span never ran) plus `crawl.driver_gap`.

    A round's own figures include its children's; the driver gap is the
    round's wall minus its children's walls, and its jobs are the ones
    the round ran while no child span was open."""
    walls: dict[str, list[float]] = {}
    for s in spans:
        walls.setdefault(s.name, []).append(s.end - s.start)
    child_names = {s.name for s in spans if s.parent is not None and spans[s.parent].name == ROUND}
    out: dict[str, float] = {}
    for name in names:
        n = len(walls.get(name, []))
        u = Usage()
        for desc in [name, *(sorted(child_names) if name == ROUND else [])]:
            if desc in usage:
                u.add(usage[desc])
        vals = {
            "wall_s": sum(walls.get(name, [])),
            "task_s": u.task_s,
            "cpu_s": u.cpu_s,
            "shuffle_write_bytes": u.shuffle_write_bytes,
            "spill_bytes": u.spill_bytes,
            "jobs": u.jobs,
        }
        for f in SPAN_FIELDS:
            if f == "task_skew":
                out[f"{name}.{f}"] = u.task_skew if n else 0.0
            else:
                out[f"{name}.{f}"] = vals[f] / n if n else 0.0
    rounds = [s for s in spans if s.name == ROUND]
    gaps = [
        (r.end - r.start)
        - sum(c.end - c.start for c in spans if c.parent == r.id)
        for r in rounds
    ]
    gap_jobs = usage[ROUND].jobs if ROUND in usage else 0
    out[f"{GAP}.wall_s"] = sum(gaps) / len(gaps) if gaps else 0.0
    out[f"{GAP}.jobs"] = gap_jobs / len(gaps) if gaps else 0.0
    return out
