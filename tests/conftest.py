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


def assert_ordinal_layout(store, meta):
    """Assert what the segment's build path guarantees of its docs ordinals.
    Both paths: part files in key order with disjoint key ranges, each
    part's ordinals consecutive from a multiple of BLOCK_RANGE. The driver
    path writes one part, so its ordinals are dense. Returns the path."""
    import pyarrow.parquet as pq

    from elasticsearch_spark.operators.index_build import BLOCK_RANGE
    from elasticsearch_spark.sources.segment_store import _data_files

    path = meta.metrics["build_path"]
    files = _data_files(store.docs_path(meta.segment_id))
    if path == "driver":
        assert len(files) == 1
    last_key = None
    for f in files:
        t = pq.read_table(f, columns=["ordinal", "conv_id", "turn_idx"])
        if not t.num_rows:
            continue
        ords = t["ordinal"].to_pylist()
        assert ords[0] % BLOCK_RANGE == 0, f
        assert ords == list(range(ords[0], ords[0] + len(ords))), f
        keys = list(zip(t["conv_id"].to_pylist(), t["turn_idx"].to_pylist()))
        assert keys == sorted(keys) and (last_key is None or last_key < keys[0]), f
        last_key = keys[-1]
        if path == "driver":
            assert ords == list(range(meta.n_docs))
    return path


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
