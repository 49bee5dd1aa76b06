"""SparkSession factory tuned for the engine.

Defaults chosen for local[N] testing but scale-aware: AQE on (runtime re-plan,
skew-join splitting), shuffle partitions sized to cores (overridable for real
clusters), Arrow enabled for every pandas-UDF kernel. `spark_jobs` counts
the Spark jobs a call starts, for tests and `bench.py`.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import SparkSession

# the directory that holds the `elasticsearch_spark` package
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tune_worker_malloc() -> None:
    """Keep glibc from mmap'ing/munmap'ing large numpy buffers in the Python
    workers. On paravirtual/sandboxed hosts, first-touch faults on fresh
    mmap'd pages are pathologically expensive (measured 0.2+ s/MB here —
    a 32 MB numpy temporary cost 12 s; the same allocation via the sbrk heap
    costs 0.03 s), and glibc munmaps every block above its dynamic threshold,
    so each Arrow batch re-pays the cost. Raising MALLOC_MMAP_THRESHOLD_ /
    MALLOC_TRIM_THRESHOLD_ routes large buffers through the retained heap —
    the standard glibc tuning for allocation-heavy numerical workers. Set
    before the JVM launches so executors and their Python workers inherit."""
    for k in ("MALLOC_MMAP_THRESHOLD_", "MALLOC_TRIM_THRESHOLD_"):
        os.environ.setdefault(k, str(1 << 30))


def get_spark(
    app_name: str = "elasticsearch-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    _tune_worker_malloc()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            n = int(master.split("[")[1].rstrip("]*")) if "[" in master else 32
        except ValueError:
            n = 32
        shuffle_partitions = max(n, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # multi-executor deployments: ship the malloc tuning to executors'
        # Python workers too (local mode inherits the driver env instead)
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", str(1 << 30))
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", str(1 << 30))
        # the Python workers import this package to run the build's and the
        # kernel's functions; put its root on their path, wherever the
        # driver script runs from (Spark adds the worker's own PYTHONPATH)
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def spark_jobs(spark, fn):
    """Run `fn()` and count the Spark jobs it started: returns (result, jobs).

    The jobs are tagged with a fresh job group and counted from the status
    tracker once the listener bus has delivered their events."""
    sc = spark.sparkContext
    group = f"spark-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "counted by spark_jobs")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
