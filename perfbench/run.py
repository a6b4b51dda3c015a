"""Benchmark of record for the engine.

    python3 perfbench/run.py --workload serve|curate --seed N \
        --seconds S --trace 0|1

Run from the repository root. The run builds its inputs from the seed,
starts one Spark session through the engine's own session factory,
sets the workload up (untimed warm-up included), measures for S
seconds, checks every output, and prints as its last stdout line one
JSON object {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones, read from spans and the Spark event log. The line
before it carries workload-specific detail. Everything the run writes
goes under .perfbench/ in the current directory; its run root is
deleted at exit.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shlex
import shutil
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORKLOADS = ("serve", "curate")
DRIVER_MEM = "4g"  # the session factory's 16g default exceeds small hosts
END_TO_END = {  # name -> unit; README.md defines each per workload
    "setup_s": "s",
    "request_ms": "ms",
    "items_per_s": "1/s",
    "recall": "ratio",
    "ok_ratio": "ratio",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def pin_environment(root: str, trace: bool) -> None:
    """Same knobs on every run: all cores, a bounded driver heap, and
    every temporary path (Spark local dirs, temp files, warehouse, event
    log) inside this run's root. The event log is a launch-time conf,
    so the engine's session factory is used unchanged."""
    local, tmp, events = (os.path.join(root, d) for d in ("local", "tmp", "events"))
    for d in (local, tmp, events):
        os.makedirs(d)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + events,
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()) + " pyspark-shell"


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(REPO, "muopdb_spark")):
        print(f"perfbench: no engine sources next to {HERE}", file=sys.stderr)
        return 2
    # import the package, not this directory's modules, by their plain names
    sys.path[:] = [REPO] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]
    out_dir = os.path.join(os.getcwd(), ".perfbench")
    root = os.path.join(out_dir, f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    os.makedirs(root)
    try:
        return _run(args, root, out_dir)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _run(args, root: str, out_dir: str) -> int:
    pin_environment(root, bool(args.trace))
    t0 = time.perf_counter()
    import importlib

    from muopdb_spark.session import get_spark

    from perfbench import layers
    from perfbench.common import Run
    from perfbench.stats import percentile, tail_percentile, weighted_median_mix
    from perfbench.tracing import EventLog

    wl = importlib.import_module(f"perfbench.{args.workload}")
    spark = get_spark(f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        run = Run(spark, os.path.join(root, "data"), args.seed, args.seconds, bool(args.trace))
        os.makedirs(run.root)
        state = wl.setup(run)
        setup_s = time.perf_counter() - t0
        res = wl.measure(run, state)
    finally:
        stop_spark(spark)

    detail = {"setup_s": setup_s, **res["detail"]}
    pooled = [x for k, xs in run.samples.items() if k in wl.MIX for x in xs]
    detail["requests_timed"] = len(pooled)
    q = tail_percentile(len(pooled))
    if q is not None:
        detail[f"request_p{q:g}_ms"] = percentile(pooled, q)
    detail["fail_ratio"] = run.failed / max(1, run.attempted)

    if args.trace:
        log = EventLog.from_file(glob.glob(os.path.join(root, "events", "*"))[0])
        extra = dict(run.extra)
        if any(run.untraced.values()) and any(run.samples.values()):
            extra["trace.overhead_ms"] = (weighted_median_mix(run.samples, wl.MIX)
                                          - weighted_median_mix(run.untraced, wl.MIX))
        values = layers.per_layer(run.tr.spans, log, extra)
        metrics = {k: metric(values[k], u) for k, u in layers.catalogue().items()}
        # the two job sources must agree, or the attribution is suspect
        detail["jobs_status_tracker"] = len({j for s in run.tr.spans for j in s["tracker_jobs"]})
        detail["jobs_event_log"] = int(log.profile(
            g for s in run.tr.spans for g in [s["group"], *s["extra_groups"]])["jobs"])
        run.tr.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
    else:
        values = {"setup_s": setup_s, "request_ms": res["request_ms"],
                  "items_per_s": res["items_per_s"], "recall": res["recall"],
                  "ok_ratio": 1.0 - run.failed / max(1, run.attempted)}
        metrics = {k: metric(values[k], u) for k, u in END_TO_END.items()}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                      "detail": detail, "failures": run.failures}))
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
