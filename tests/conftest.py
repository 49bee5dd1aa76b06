from __future__ import annotations

import uuid

import pytest


def spark_jobs(spark, fn):
    """Run `fn()` and count the Spark jobs it started: returns (result, jobs).

    The jobs are tagged with a fresh job group and counted from the status
    tracker once the listener bus has delivered their events. Import it in a
    test module with `from conftest import spark_jobs`."""
    sc = spark.sparkContext
    group = f"spark-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "counted by spark_jobs")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    from elasticsearch_spark.session import get_spark

    s = get_spark(app_name="es-spark-tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def transcripts(spark, sf_dir):
    from elasticsearch_spark.sources import transcripts as TR

    df = TR.transcripts_view(spark, sf_dir).cache()
    df.count()
    return df
