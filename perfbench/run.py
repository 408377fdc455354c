#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload cdr_backlog --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of this repository. Builds its inputs
from ``--seed`` under ``.perfbench_work/`` in that checkout, measures for
``--seconds`` seconds, checks the outputs against a batch reference and
prints one JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` installs the
span wrappers and reports the per-layer metrics instead. Exits 2 when
the outputs are wrong, 1 on any other failure (nothing is printed).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEMORY = "3g"


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["cdr_backlog", "cdr_live"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def start_spark(work: str):
    """A session from the package's ``get_spark`` with every scratch
    path inside ``work``; returns (spark, seconds taken)."""
    from flink_application_spark.session import get_spark

    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # spark-submit's launcher JVM: no hsperfdata file in the system temp directory
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # no hsperfdata file in the system temp directory
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM child to exit (it exits
    when its stdin, the gateway's lifeline, closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import flink_application_spark  # noqa: F401 — fail fast outside a checkout

    import report
    import tracing
    import workloads

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    spark = None
    try:
        spark, session_s = start_spark(work)
        tracer = None
        if args.trace:
            tracer = tracing.Tracer()
            tracer.install(workloads.TRACE_TARGETS, workloads.TRACE_FACTORIES)
        res = workloads.WORKLOADS[args.workload](
            spark, work, args.seed, args.seconds, session_s, tracer
        )
        e2e = report.end_to_end(res)
        if args.trace:
            from pyspark import SparkContext

            rss = report.peak_rss_mb(["self", SparkContext._gateway.proc.pid])
            values = report.per_layer(spark, res, tracer, e2e, rss)
            units = report.PER_LAYER_UNITS
        else:
            values = e2e
            units = report.END_TO_END_UNITS
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's directory is still there
            pass
    correct = res.failed == 0 and res.malformed == 0
    for note in res.notes:
        print(note, file=sys.stderr)
    print(json.dumps({
        "correct": correct,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))
    return 0 if correct else 2


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
