"""Ingest-lifecycle benchmark: one run of one workload.

    python3 perfbench/run.py --workload cdc_trickle --seed 7 --seconds 10 --trace 0

Run from the root of a checkout. The run starts one Spark session
(``local[nproc]``), builds its inputs from ``--seed``, sets the workload up,
runs its timed region, checks every commit and the final table, and prints as
the last line of standard output one JSON object::

    {"correct": true, "attempted": 41, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics; with ``--trace 1``
Spark's event log is enabled and the per-layer metrics are computed from it.
Everything the run writes goes under ``.perfbench/`` in the checkout and is
removed at the end, except a traced run's spans, which are kept in
``.perfbench/trace-<workload>-<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("snapshot_daily", "cdc_trickle", "table_reads")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def session_conf(work: str, event_log: str | None) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def stop_session(spark) -> None:
    """Stop the session and wait for its JVM to exit: the gateway JVM ends
    when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def log_phase(name: str, t0: float) -> None:
    print(f"perfbench: {name} done at {time.perf_counter() - t0:.1f}s", file=sys.stderr, flush=True)


def run(args, work: str) -> dict:
    from iceberg_ingestion_spark.session import build_session

    import layers
    import spans
    from workloads import WORKLOADS, Bench

    event_log = os.path.join(work, "eventlog") if args.trace else None
    if event_log:
        os.makedirs(event_log)
    t0 = time.perf_counter()
    spark = build_session(app_name=f"perfbench-{args.workload}",
                          extra_conf=session_conf(work, event_log))
    session_start = time.perf_counter() - t0
    try:
        from pyspark import SparkContext

        tracer = spans.Tracer(spark, run_id=f"{args.workload}-{args.seed}", enabled=bool(args.trace),
                              cpu_clock=spans.CpuClock(SparkContext._gateway.proc.pid))
        bench = Bench(spark, tracer, work, args.seed, args.seconds, bool(args.trace))
        workload = WORKLOADS[args.workload](bench)
        t1 = time.perf_counter()
        workload.setup()
        setup_wall = time.perf_counter() - t1
        log_phase("setup", t0)
        workload.run()
        log_phase("run", t0)
        gc_s = spans.jvm_gc_seconds(spark)
        cores = spark.sparkContext.defaultParallelism
    finally:
        stop_session(spark)
        log_phase("stop", t0)

    if args.trace:
        log = spans.parse_event_log(event_log)
        bad = log.self_check()
        bench.check(not bad, f"event-log task time differs from stage totals: {bad}")
        metrics = layers.per_layer(bench, log, session_start, gc_s, cores)
        tracer.write(os.path.join(ROOT, ".perfbench", f"trace-{args.workload}-{args.seed}.jsonl"))
        units = layers.PER_LAYER
    else:
        metrics = layers.end_to_end(bench, session_start, setup_wall)
        units = layers.END_TO_END
    for what in bench.failures:
        print(f"check failed: {what}", file=sys.stderr)
    return {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import iceberg_ingestion_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    try:
        result = run(args, work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
