"""Folding a recorded Spark event log into per-job-group metrics.

``data/eventlog_two_groups.jsonl`` is a trimmed log of a real Spark 4.1
session on local[2]: two untagged jobs, then job group ``s1`` (a pandas
UDF, so it carries Python worker time) and job group ``s2`` (a
group-by, so it shuffles). Every job has a skipped stage that never
runs a task.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from erbench.eventlog import GroupMetrics, fold, fold_file  # noqa: E402

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                   "eventlog_two_groups.jsonl")


def test_fold_recorded_log_by_job_group():
    groups = fold_file(LOG)
    assert set(groups) == {None, "s1", "s2"}
    s1, s2, untagged = groups["s1"], groups["s2"], groups[None]
    assert (s1.jobs, s1.tasks, s1.task_ms) == (2, 3, 2093 + 2212 + 19)
    assert s1.python_ms == 1801 + 1944
    assert s1.gc_ms == 70
    assert (s1.shuffle_write_bytes, s1.shuffle_read_bytes) == (118, 118)
    assert (s2.jobs, s2.tasks, s2.task_ms) == (2, 3, 161 + 155 + 62)
    assert s2.python_ms == 0
    assert (s2.shuffle_write_bytes, s2.shuffle_read_bytes) == (339, 339)
    assert s2.shuffle_mb == 678 / 1e6
    assert s2.task_skew == 161 / 155
    assert (untagged.jobs, untagged.tasks, untagged.task_ms) == (2, 3, 294)


def test_stage_submission_properties_decide_the_group():
    """A stage listed by a tagged job but submitted under another group
    (or none) counts for the group it was submitted under."""
    lines = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "a"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": {"spark.jobGroup.id": "b"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Info": {},
         "Task Metrics": {"Executor Run Time": 5, "Memory Bytes Spilled": 3,
                          "Disk Bytes Spilled": 4,
                          "Output Metrics": {"Bytes Written": 9}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Info": {}},
    ]
    groups = fold(json.dumps(e) for e in lines)
    assert groups["a"].jobs == 1 and groups["a"].tasks == 0
    b = groups["b"]
    assert (b.tasks, b.task_ms, b.spill_bytes, b.output_bytes) == (1, 5, 7, 9)


def test_group_metrics_add_and_empty_skew():
    total = GroupMetrics()
    assert total.task_skew == 0.0
    total.add(GroupMetrics(jobs=1, tasks=2, task_ms=30, task_run_ms=[10, 20]))
    total.add(GroupMetrics(jobs=2, tasks=1, task_ms=40, task_run_ms=[40]))
    assert (total.jobs, total.tasks, total.task_ms) == (3, 3, 70)
    assert total.task_skew == 40 / 20
