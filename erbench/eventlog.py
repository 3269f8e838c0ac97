"""Fold a Spark event log into per-job-group task metrics.

Spark writes one JSON object per line. The benchmark sets the job group
to a span id before each traced call, so every stage carries that id in
its submission properties. This module reads the log with the standard
library (the benchmark turns off compression and rolling) and sums the
task metrics of each group.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field

#: SQL metric that PySpark's Python-running plan nodes update per task
PYTHON_TIME_METRIC = "time to run Python workers"


@dataclass
class GroupMetrics:
    """Task-level totals for one job group."""

    jobs: int = 0
    tasks: int = 0
    task_ms: int = 0          # executor run time
    gc_ms: int = 0
    python_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0      # memory + disk spill
    output_bytes: int = 0
    task_run_ms: list[int] = field(default_factory=list)

    def add(self, other: "GroupMetrics") -> None:
        for k in ("jobs", "tasks", "task_ms", "gc_ms", "python_ms",
                  "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                  "output_bytes"):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        self.task_run_ms.extend(other.task_run_ms)

    @property
    def shuffle_mb(self) -> float:
        return (self.shuffle_read_bytes + self.shuffle_write_bytes) / 1e6

    @property
    def task_skew(self) -> float:
        """Max task run time over the median task run time (0 when the
        group ran no task or every task took 0 ms)."""
        if not self.task_run_ms:
            return 0.0
        med = statistics.median(self.task_run_ms)
        return max(self.task_run_ms) / med if med else 0.0


def _group_of(props: dict | None) -> str | None:
    return (props or {}).get("spark.jobGroup.id")


def _python_ms(task_info: dict) -> int:
    return sum(int(acc.get("Update") or 0)
               for acc in task_info.get("Accumulables") or []
               if acc.get("Name") == PYTHON_TIME_METRIC)


def fold(lines) -> dict[str | None, GroupMetrics]:
    """Sum the metrics of every finished task by job group.

    ``lines`` is any iterable of event-log lines. Tasks of a stage whose
    submission carried no job group fold under ``None``.
    """
    groups: dict[str | None, GroupMetrics] = {}
    stage_group: dict[int, str | None] = {}

    def g(key):
        return groups.setdefault(key, GroupMetrics())

    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            key = _group_of(ev.get("Properties"))
            g(key).jobs += 1
            for sid in ev.get("Stage IDs") or []:
                stage_group.setdefault(sid, key)
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            stage_group[sid] = _group_of(ev.get("Properties"))
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:
                continue
            rec = g(stage_group.get(ev.get("Stage ID")))
            run_ms = int(m.get("Executor Run Time") or 0)
            rec.tasks += 1
            rec.task_ms += run_ms
            rec.task_run_ms.append(run_ms)
            rec.gc_ms += int(m.get("JVM GC Time") or 0)
            rec.spill_bytes += int(m.get("Memory Bytes Spilled") or 0)
            rec.spill_bytes += int(m.get("Disk Bytes Spilled") or 0)
            sr = m.get("Shuffle Read Metrics") or {}
            rec.shuffle_read_bytes += int(sr.get("Remote Bytes Read") or 0)
            rec.shuffle_read_bytes += int(sr.get("Local Bytes Read") or 0)
            sw = m.get("Shuffle Write Metrics") or {}
            rec.shuffle_write_bytes += int(sw.get("Shuffle Bytes Written") or 0)
            out = m.get("Output Metrics") or {}
            rec.output_bytes += int(out.get("Bytes Written") or 0)
            rec.python_ms += _python_ms(ev.get("Task Info") or {})
    return groups


def fold_file(path: str) -> dict[str | None, GroupMetrics]:
    with open(path, encoding="utf-8") as f:
        return fold(f)
