#!/usr/bin/env python3
"""Benchmark of the full-text engine: BM25 search, and updates beside searches.

    python3 perfbench/run.py --workload {search,update} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. One Python process drives one local[nproc]
Spark session with one closed-loop client (each call waits for the previous
one). Inputs are generated from --seed; every output is checked untimed
against DuckDB or the expected rows. The last stdout line is one JSON object:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1. Details
(query terms with their df, per-operation times, phase timeline) go to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
DEADLINE_S = 140  # set-up, loop and checks; stopping the JVM may take ~30 s more
WORKLOAD_NAMES = ["search", "update"]


# ------------------------------------------------------------------ session
def start_spark(work: Path):
    """local[nproc] session whose temporary files all stay under `work`."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["TZ"] = "UTC"
    time.tzset()
    from elasticsearch_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": str(tmp),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cores


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)


# --------------------------------------------------------------------- main
def _deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "elasticsearch_spark" / "__init__.py").is_file():
        print(f"perfbench: no elasticsearch_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    spark = None
    try:
        spark, cores = start_spark(work)
        import workloads

        bench = workloads.Bench(spark, cores, work, args.seed, args.seconds, bool(args.trace))
        try:
            result = workloads.WORKLOADS[args.workload](bench)
        finally:
            bench.oracle.close()
    finally:
        signal.alarm(0)
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()  # only when no other run is using it
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
