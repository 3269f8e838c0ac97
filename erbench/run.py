"""Same-box benchmark for the resolve_spark entity-resolution engine.

Run from the repository root:

    python3 erbench/run.py --workload batch_files --seed 1 --seconds 20 --trace 0
    python3 erbench/run.py --smoke        # every workload at tiny size, traced

One run starts one Spark session on ``local[<nproc>]``, builds the
workload's inputs from ``--seed``, repeats the workload's operation for
``--seconds`` seconds, checks the outputs (untimed) and prints, as the
last line of standard output, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones (tracing off).
With ``--trace 1`` they are the per-layer ones: spans around the
benchmark's calls into each layer, with the Spark job group set to the
span id and Spark's event log folded into each span. The line before
the result carries the details: every per-mode latency with its
sample count, the box description and the calibration probe. Spans are
written to ``.erbench_out/``; working files live in ``.erbench_work/``
and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _fail(msg: str) -> None:
    print(f"erbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``,
    and let Spark's Python workers import the repository's packages."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    paths = [ROOT, os.path.join(ROOT, "tools")]
    if os.environ.get("PYTHONPATH"):
        paths.append(os.environ["PYTHONPATH"])
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    for p in paths[:2]:
        if p not in sys.path:
            sys.path.insert(0, p)


def _stop_jvm() -> None:
    """End the Spark JVM (and with it its Python workers) and wait for it:
    the JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is None or proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


def session_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": "file://" + os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            # the stdlib cannot read Spark 4's default zstd rolling logs
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def run_workload(name: str, seed: int, seconds: float, trace: bool,
                 size: str, work: str) -> dict:
    from erbench import box, trace as tr, workloads as W
    from erbench.eventlog import fold_file
    from resolve_spark.session import build_session

    calib_before = box.calibrate()
    nproc = len(os.sched_getaffinity(0))

    t0 = time.perf_counter()
    spark = build_session(app_name=f"erbench_{name}", master=f"local[{nproc}]",
                          extra_conf=session_conf(work, trace))
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    session_s = time.perf_counter() - t0
    box_info = box.describe(spark)

    tracer = tr.Tracer(spark.sparkContext, enabled=False)
    wl = W.WORKLOADS[name](spark, tracer, work, seed, W.SIZES[size][name])
    ops: list[W.OpResult] = []
    try:
        setup_walls = []
        for rep in range(wl.setup_reps):
            t = time.perf_counter()
            wl.setup(rep)
            setup_walls.append(time.perf_counter() - t)

        # warm-up operations run first and are checked but not timed. The
        # window then repeats the operation for `seconds`; a traced run
        # alternates traced and untraced operations, so the difference
        # of their medians is the tracing overhead
        warmup = wl.warmup_ops
        start = None
        i = 0
        while True:
            if i == warmup:
                start = time.perf_counter()
            traced = trace and i >= warmup and (i - warmup) % 2 == 0
            tracer.enabled = traced
            t = time.perf_counter()
            try:
                res = wl.op(i)
            except Exception as e:  # noqa: BLE001 - a failed op is counted
                res = W.OpResult(requests=[("op", 0.0, False)], error=repr(e))
            res.wall = time.perf_counter() - t
            res.traced = traced
            res.warmup = i < warmup
            tracer.enabled = False
            ops.append(res)
            i += 1
            if start is None:
                continue
            timed = [o for o in ops if not o.warmup]
            done = time.perf_counter() - start >= seconds
            if done and (not trace or len(timed) >= 2):
                break
        try:
            check_failures = wl.check()
        except Exception as e:  # noqa: BLE001 - a failed check is counted
            check_failures = [f"check raised {e!r}"]
        rss = box.jvm_peak_rss_mb(spark)
    finally:
        try:
            wl.close()
        finally:
            spark.stop()
    calib_after = box.calibrate()

    failures = [o.error for o in ops if o.error] + check_failures
    attempted = sum(len(o.requests) for o in ops)
    failed = min(attempted, len(check_failures) + sum(
        1 for o in ops for (_, _, ok) in o.requests if not ok))
    untraced = [o for o in ops if not o.traced and not o.warmup]
    op_s = statistics.median(o.wall / len(o.requests) for o in untraced)
    setup_s = session_s + statistics.median(setup_walls)

    detail = {
        "workload": name, "seed": seed, "size": size, "trace": int(trace),
        "box": box_info,
        "calibration_s": {"before": calib_before, "after": calib_after},
        "session_start_s": session_s,
        "setup_walls_s": setup_walls,
        "ops": len(ops),
        "failures": failures[:20],
        "metrics": {
            "setup_s": {"value": setup_s, "unit": "s"},
            "jvm_peak_rss_mb": {"value": rss, "unit": "MB"},
            "failed_ops_share": {"value": failed / attempted if attempted else 1.0,
                                 "unit": "ratio"},
            **wl.detail(untraced),
        },
    }
    if trace:
        (log,) = os.listdir(os.path.join(work, "eventlog"))
        groups = fold_file(os.path.join(work, "eventlog", log))
        traced_ops = [o for o in ops if o.traced]
        layer = dict.fromkeys(W.PER_LAYER_UNITS, 0)
        layer.update(wl.layer_metrics(tracer, groups, traced_ops))
        layer["trace.overhead_s"] = (
            statistics.median(o.wall / len(o.requests) for o in traced_ops) - op_s
        )
        layer["calib.before_s"] = calib_before
        layer["calib.after_s"] = calib_after
        layer["jvm.peak_rss_mb"] = rss
        out_dir = os.path.join(ROOT, ".erbench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"trace-{name}-{seed}.json"), "w") as f:
            json.dump({"detail": detail, "per_layer": layer,
                       "spans": tracer.to_json()}, f, indent=1)
        metrics = {k: {"value": v, "unit": W.PER_LAYER_UNITS[k]}
                   for k, v in layer.items() if k in W.PER_LAYER_UNITS}
        detail["per_layer_extra"] = {k: v for k, v in layer.items()
                                     if k not in W.PER_LAYER_UNITS}
    else:
        metrics = {
            "op_s": {"value": op_s, "unit": "s"},
            "setup_s": {"value": setup_s, "unit": "s"},
        }
    return {
        "detail": detail,
        "result": {"correct": not failures and failed == 0,
                   "attempted": attempted, "failed": failed,
                   "metrics": metrics},
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload at tiny size, traced, and fail "
                         "unless all of them are correct")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "resolve_spark", "__init__.py")):
        _fail("resolve_spark is not next to the benchmark; run from a "
              "checkout of the repository")
    work = os.path.join(ROOT, ".erbench_work", f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        _prepare_env(work)
        from erbench import workloads as W

        if args.smoke:
            ok = True
            for name in W.WORKLOADS:
                out = run_workload(name, args.seed, 0, True, "tiny",
                                   os.path.join(work, name))
                print(json.dumps(out["detail"]))
                print(json.dumps({"workload": name, **out["result"]}))
                ok = ok and out["result"]["correct"]
            sys.exit(0 if ok else 1)
        if args.workload not in W.WORKLOADS:
            _fail(f"--workload must be one of {sorted(W.WORKLOADS)}")
        out = run_workload(args.workload, args.seed, args.seconds,
                           bool(args.trace), "full", work)
        print(json.dumps(out["detail"]))
        print(json.dumps(out["result"]))
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    main()
