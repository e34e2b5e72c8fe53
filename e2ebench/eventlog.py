"""Fold Spark's event log by span.

A span is the job description the benchmark sets around each call into a
layer (``SparkContext.setJobDescription``). Every job started under it
carries the description in its ``SparkListenerJobStart`` properties; its
stages and tasks are summed into one ``Span`` row. Read after the session
stopped, when the log is complete.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field
from pathlib import Path

_PY_START = "time to start Python workers"
_PY_TIMES = (_PY_START, "time to initialize Python workers",
             "time to run Python workers")


@dataclass
class Span:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    python_s: float = 0.0        # start + initialize + run Python workers
    python_start_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0         # memory + disk bytes spilled
    #: max / median task duration of the span's longest stage
    task_skew: float = 0.0
    _stage_ids: set = field(default_factory=set, repr=False)


def _events(log_dir: Path):
    """Events of the rolling log(s) under ``log_dir``, parts in order
    (``eventlog_v2_<app>/events_<n>_<app>``)."""
    parts = sorted(log_dir.glob("eventlog_v2_*/events_*"),
                   key=lambda p: (p.parent.name, int(p.name.split("_")[1])))
    for p in parts:
        with open(p) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def fold(log_dir: Path) -> dict[str, Span]:
    """span name -> summed engine metrics of every job run under it."""
    stage_span: dict[int, str] = {}
    spans: dict[str, Span] = {}
    task_walls: dict[int, list[float]] = {}
    stage_wall: dict[int, float] = {}
    for e in _events(log_dir):
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            name = (e.get("Properties") or {}).get("spark.job.description")
            if not name:
                continue
            sp = spans.setdefault(name, Span())
            sp.jobs += 1
            for sid in e.get("Stage IDs", []):
                stage_span[sid] = name
        elif kind == "SparkListenerTaskEnd":
            name = stage_span.get(e["Stage ID"])
            if name is None:
                continue
            sp = spans[name]
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            sp.tasks += 1
            sp.task_s += m.get("Executor Run Time", 0) / 1e3
            sp.gc_s += m.get("JVM GC Time", 0) / 1e3
            sp.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            sp.spill_bytes += (m.get("Memory Bytes Spilled", 0)
                               + m.get("Disk Bytes Spilled", 0))
            for acc in info.get("Accumulables", []):
                if acc.get("Name") in _PY_TIMES:
                    ms = float(acc.get("Update") or 0) / 1e3
                    sp.python_s += ms
                    if acc["Name"] == _PY_START:
                        sp.python_start_s += ms
            task_walls.setdefault(e["Stage ID"], []).append(
                (info["Finish Time"] - info["Launch Time"]) / 1e3)
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            name = stage_span.get(si["Stage ID"])
            if name is None or "Completion Time" not in si:
                continue
            spans[name]._stage_ids.add(si["Stage ID"])
            stage_wall[si["Stage ID"]] = (si["Completion Time"]
                                          - si.get("Submission Time",
                                                   si["Completion Time"])) / 1e3
    for name, sp in spans.items():
        sp.stages = len(sp._stage_ids)
        if sp._stage_ids:
            slowest = max(sp._stage_ids, key=lambda s: stage_wall.get(s, 0.0))
            walls = task_walls.get(slowest, [])
            med = statistics.median(walls) if walls else 0.0
            sp.task_skew = max(walls) / med if med > 0 else 0.0
    return spans


def merge(spans: list[Span]) -> Span:
    """Sum of several spans (one operation run as several calls)."""
    out = Span()
    for sp in spans:
        for f in ("jobs", "stages", "tasks", "task_s", "gc_s", "python_s",
                  "python_start_s", "shuffle_write_bytes", "spill_bytes"):
            setattr(out, f, getattr(out, f) + getattr(sp, f))
        out.task_skew = max(out.task_skew, sp.task_skew)
    return out
