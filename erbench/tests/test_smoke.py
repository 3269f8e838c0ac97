"""Smoke mode: every workload end to end at tiny size, traced, in one
command. Slow (a few minutes: one Spark session per workload)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.mark.slow
def test_smoke_runs_every_workload_correctly():
    sys.path.insert(0, ROOT)
    from erbench.workloads import PER_LAYER_UNITS, WORKLOADS

    proc = subprocess.run(
        [sys.executable, os.path.join("erbench", "run.py"), "--smoke", "--seed", "3"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    results = [json.loads(line) for line in proc.stdout.splitlines()
               if line.startswith('{"workload"') and '"correct"' in line]
    assert [r["workload"] for r in results] == list(WORKLOADS)
    for r in results:
        assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1
        assert set(r["metrics"]) == set(PER_LAYER_UNITS)


def test_refuses_to_run_without_the_library(tmp_path):
    """A directory holding only the benchmark must fail without a result."""
    import shutil

    shutil.copytree(os.path.join(ROOT, "erbench"), tmp_path / "erbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, os.path.join("erbench", "run.py"), "--workload",
         "batch_files", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
