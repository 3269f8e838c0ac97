"""The machine a result came from, and a fixed CPU calibration probe.

The probe does the same pure-Python and NumPy work every time, so its
wall time tracks the box's speed (thermal or frequency drift, noisy
neighbours) independently of the engine. The benchmark runs it before
and after each workload and reports both.
"""

from __future__ import annotations

import hashlib
import os
import platform
import time


def _mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def describe(spark) -> dict:
    import pyarrow
    import pyspark

    system = spark.sparkContext._jvm.java.lang.System
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": round(_mem_total_mb()),
        "java": f"{system.getProperty('java.vm.name')} "
                f"{system.getProperty('java.version')}",
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "pyarrow": pyarrow.__version__,
        "machine": platform.machine(),
    }


def calibrate() -> float:
    """Median wall seconds of five fixed hashing + NumPy sort rounds."""
    import statistics

    import numpy as np

    data = np.random.RandomState(7).rand(400_000)
    walls = []
    for _ in range(5):
        t0 = time.perf_counter()
        h = b"calibrate"
        for _ in range(20_000):
            h = hashlib.sha256(h).digest()
        np.sort(data, kind="mergesort")
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM (peak resident set) of the Spark driver JVM, from /proc."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")
