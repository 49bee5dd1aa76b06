"""Scale-property tests: hot-term salting across blocks, multi-index search,
sampler aggs, CLI smoke."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from elasticsearch_spark.operators import aggs, index_build, topk
from elasticsearch_spark.plans import query_dsl as Q
from elasticsearch_spark.sources.transcripts import generate_transcripts

KEYS = ["conv_id", "turn_idx"]


def test_hot_term_spreads_across_block_keys(spark, tmp_path_factory, monkeypatch):
    """The north rule's skew handling: a term present in most docs spreads
    over multiple (term, bk) postings rows, each block bounded by
    BLOCK_RANGE postings — the build's key ranges each encode their own
    blocks, so no single task owns a whole hot term. A zero driver cap sends
    this slice to the Spark tasks."""
    monkeypatch.setattr(index_build, "LOCAL_BUILD_MAX_ROWS", 0)
    root = str(tmp_path_factory.mktemp("skew_idx"))
    df = generate_transcripts(spark, 10000, partitions=8)
    store = index_build.build_index(spark, df, root, n_slices=1, partitions=8)
    snap = store.snapshot()
    assert snap.segments[0].metrics["build_path"] == "spark"
    assert snap.segments[0].metrics["partitions"] > 1
    postings = spark.read.parquet(store.postings_path(snap.segments[0].segment_id))
    hot = (
        postings.groupBy("term")
        .agg(F.sum("n").alias("df"), F.count(F.lit(1)).alias("n_blocks"), F.max("n").alias("max_n"))
        .orderBy(F.col("df").desc())
        .first()
    )
    assert hot.n_blocks >= 2, "hot term must span multiple block keys"
    assert hot.max_n <= index_build.BLOCK_RANGE


def test_multi_store_search_per_index_stats(spark, transcripts, tmp_path_factory):
    """Two indices searched together: results merge by score; per-index stats
    (ES query_then_fetch default) mean each half scores with its own idf."""
    half1 = transcripts.where("conv_id < 'conv_000012'")
    half2 = transcripts.where("conv_id >= 'conv_000012'")
    s1 = index_build.build_index(spark, half1, str(tmp_path_factory.mktemp("i1")), partitions=4)
    s2 = index_build.build_index(spark, half2, str(tmp_path_factory.mktemp("i2")), partitions=4)
    qd = {"match": {"text": "spark query"}}
    merged = topk.multi_store_search(spark, [s1, s2], qd, k=10).collect()
    assert len(merged) == 10
    want1 = {(r.conv_id, r.turn_idx, r.score) for r in Q.search(half1, qd, KEYS, k=10).collect()}
    want2 = {(r.conv_id, r.turn_idx, r.score) for r in Q.search(half2, qd, KEYS, k=10).collect()}
    got = {(r.conv_id, r.turn_idx, r.score) for r in merged}
    assert got <= (want1 | want2)
    scores = [r.score for r in merged]
    assert scores == sorted(scores, reverse=True)


def test_sampler_and_diversified(spark, transcripts):
    scored = Q.compile_query({"match": {"text": "query"}}, transcripts, KEYS).join(
        transcripts.select(*KEYS, "role"), KEYS
    )
    top = aggs.sampler(scored, shard_size=20)
    assert top.count() == 20
    div = aggs.diversified_sampler(scored, "role", max_docs_per_value=2, shard_size=20)
    rows = div.groupBy("role").count().collect()
    assert all(r["count"] <= 2 for r in rows)


def test_cli_build_and_search(spark, transcripts, tmp_path_factory):
    from elasticsearch_spark import cli

    base = tmp_path_factory.mktemp("cli")
    inp, store = str(base / "in"), str(base / "store")
    transcripts.write.parquet(inp)
    assert cli.main(["build", "--input", inp, "--store", store, "--slices", "2", "--partitions", "4"]) == 0
    assert cli.main([
        "search", "--store", store,
        "--query", json.dumps({"match": {"text": "spark query fast"}}), "--k", "5",
    ]) == 0
    assert cli.main(["merge", "--store", store]) == 0
    assert cli.main(["delete-by-query", "--store", store, "--where", "role = 'tool'"]) == 0
