"""Per-job-group costs from Spark's event log, and span arithmetic.

Spark 4 writes a rolling event log: a directory ``eventlog_v2_<app>``
holding ``events_<n>_<app>[.zstd]`` parts, zstd-compressed by default.
pyarrow decodes zstd, so no extra package is needed.

The benchmark sets a job group around every span; every job inherits
its group as the ``spark.jobGroup.id`` property, and every stage and
task belongs to one job. So the task metrics of a span are the sums over
the stages of the jobs in its group.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
from collections import defaultdict
from collections.abc import Iterator
from dataclasses import dataclass, field

import pyarrow as pa

MB = float(1 << 20)
PY_SENT = "data sent to Python workers"
PY_INIT = "time to initialize Python workers"  # milliseconds


def log_parts(log_dir: str) -> list[str]:
    """The parts of the one rolling event log under ``log_dir``, in order."""
    dirs = glob.glob(os.path.join(log_dir, "eventlog_v2_*"))
    if len(dirs) != 1:
        raise FileNotFoundError(
            f"expected one eventlog_v2_* directory in {log_dir}, "
            f"found {len(dirs)}"
        )
    parts = [
        p for p in glob.glob(os.path.join(dirs[0], "events_*"))
        if not p.endswith(".crc")
    ]

    def index(path: str) -> int:
        m = re.match(r"events_(\d+)_", os.path.basename(path))
        return int(m.group(1)) if m else 0

    return sorted(parts, key=index)


def read_events(log_dir: str) -> Iterator[dict]:
    for part in log_parts(log_dir):
        codec = "zstd" if part.endswith(".zstd") else None
        with pa.input_stream(part, compression=codec) as stream:
            text = stream.read().decode("utf-8")
        for line in text.splitlines():
            if line.strip():
                yield json.loads(line)


@dataclass
class StageCost:
    group: str | None
    submitted_ms: int = 0
    completed_ms: int = 0
    run_ms: list[int] = field(default_factory=list)
    cpu_ns: int = 0
    shuffle_write: int = 0
    spill: int = 0
    py_init_ms: int = 0
    py_sent: int = 0


@dataclass
class GroupCost:
    """The task metrics of every stage run under one job group."""

    tasks: int = 0
    cpu_s: float = 0.0
    py_init_s: float = 0.0
    py_sent_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    task_skew: float = 0.0  # max / median task run time, slowest stage

    def as_metrics(self) -> dict[str, float]:
        return {
            "tasks": self.tasks, "cpu_s": self.cpu_s,
            "py_init_s": self.py_init_s, "py_sent_mb": self.py_sent_mb,
            "shuffle_write_mb": self.shuffle_write_mb,
            "spill_mb": self.spill_mb, "task_skew": self.task_skew,
        }


def _num(v) -> int:
    return int(v) if isinstance(v, (int, float)) else int(str(v) or 0)


def stage_costs(events) -> dict[tuple[int, int], StageCost]:
    """Per (stage, attempt) sums of the task metrics, tagged with the job
    group that ran the stage."""
    group_of_stage: dict[int, str | None] = {}
    stages: dict[tuple[int, int], StageCost] = {}

    def stage(sid: int, attempt: int) -> StageCost:
        key = (sid, attempt)
        if key not in stages:
            stages[key] = StageCost(group_of_stage.get(sid))
        return stages[key]

    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in e.get("Stage IDs", []):
                group_of_stage[sid] = group
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            s = stage(info["Stage ID"], info.get("Stage Attempt ID", 0))
            s.submitted_ms = info.get("Submission Time") or 0
            s.completed_ms = info.get("Completion Time") or 0
        elif kind == "SparkListenerTaskEnd":
            s = stage(e["Stage ID"], e.get("Stage Attempt ID", 0))
            m = e.get("Task Metrics") or {}
            s.run_ms.append(m.get("Executor Run Time", 0))
            s.cpu_ns += m.get("Executor CPU Time", 0)
            s.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            s.spill += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0)
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Name") == PY_SENT:
                    s.py_sent += _num(acc.get("Update", 0))
                elif acc.get("Name") == PY_INIT:
                    s.py_init_ms += _num(acc.get("Update", 0))
    return stages


def group_costs(
    stages: dict[tuple[int, int], StageCost],
) -> dict[str, GroupCost]:
    by_group: dict[str, list[StageCost]] = defaultdict(list)
    for s in stages.values():
        if s.group is not None:
            by_group[s.group].append(s)
    out = {}
    for group, ss in by_group.items():
        slowest = max(ss, key=lambda s: (s.completed_ms - s.submitted_ms,
                                         sum(s.run_ms)))
        median = statistics.median(slowest.run_ms) if slowest.run_ms else 0
        out[group] = GroupCost(
            tasks=sum(len(s.run_ms) for s in ss),
            cpu_s=sum(s.cpu_ns for s in ss) / 1e9,
            py_init_s=sum(s.py_init_ms for s in ss) / 1e3,
            py_sent_mb=sum(s.py_sent for s in ss) / MB,
            shuffle_write_mb=sum(s.shuffle_write for s in ss) / MB,
            spill_mb=sum(s.spill for s in ss) / MB,
            task_skew=max(slowest.run_ms) / median if median else 1.0,
        )
    return out


def prefix_self_times(walls: list[float]) -> list[float]:
    """Self time of each span when span ``i`` runs the pipeline prefix
    up to layer ``i``: its wall time minus the previous prefix's. The
    self times sum to the last span's wall time."""
    return [w - (walls[i - 1] if i else 0.0) for i, w in enumerate(walls)]
