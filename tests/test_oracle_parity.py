"""Spark engine vs DuckDB oracle — mirrors the driver's CORRECTNESS gate:
every query in the shared query set must produce identical (rounded) rows."""

from __future__ import annotations

import duckdb
import pytest

from elasticsearch_spark import oracle
from elasticsearch_spark.plans import query_dsl as Q
from elasticsearch_spark.queryset import (
    DEFAULT_K,
    INTERVALS_QUERIES,
    JOIN_QUERIES,
    SEARCH_QUERIES,
    SPAN_QUERIES,
)

KEYS = ["conv_id", "turn_idx"]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    return con


ALL_QUERIES = {**SEARCH_QUERIES, **INTERVALS_QUERIES, **SPAN_QUERIES}


@pytest.mark.parametrize("name", sorted(ALL_QUERIES))
def test_query_matches_oracle(name, spark, transcripts, duck):
    qd = ALL_QUERIES[name]
    got = {
        (r.conv_id, r.turn_idx, r.score)
        for r in Q.search(transcripts, qd, KEYS, k=DEFAULT_K).collect()
    }
    want = {
        (c, int(t), float(s))
        for c, t, s in duck.execute(oracle.search_sql(qd, DEFAULT_K)).fetchall()
    }
    assert got == want, f"{name}: spark={sorted(got)} oracle={sorted(want)}"


# parent-join family (modules/parent-join): compared at the driver gate's 4dp
# (score_mode=sum adds up to 19 BM25 doubles in engine-dependent order, so
# exact float equality is not guaranteed across Spark and DuckDB)
@pytest.mark.parametrize("name", sorted(JOIN_QUERIES))
def test_join_query_matches_oracle(name, spark, transcripts, duck):
    qd = JOIN_QUERIES[name]
    got = {
        (r.conv_id, r.turn_idx, round(r.score, 4))
        for r in Q.search(transcripts, qd, KEYS, k=DEFAULT_K).collect()
    }
    want = {
        (c, int(t), round(float(s), 4))
        for c, t, s in duck.execute(oracle.search_sql(qd, DEFAULT_K)).fetchall()
    }
    assert got == want, f"{name}: spark={sorted(got)} oracle={sorted(want)}"


def test_cross_fields_percent_msm_matches_oracle(spark, transcripts, duck):
    """cross_fields minimum_should_match as a percentage: "75%" of the 3
    query terms is 2 on the logical plan and the oracle alike, the same
    answer as the integer msm of the `multi_match_cross_msm` fixture."""
    body = dict(SEARCH_QUERIES["multi_match_cross_msm"]["multi_match"])
    body["minimum_should_match"] = "75%"
    qd = {"multi_match": body}
    got = {
        (r.conv_id, r.turn_idx, r.score)
        for r in Q.search(transcripts, qd, KEYS, k=DEFAULT_K).collect()
    }
    want = {
        (c, int(t), float(s))
        for c, t, s in duck.execute(oracle.search_sql(qd, DEFAULT_K)).fetchall()
    }
    fixture = {
        (r.conv_id, r.turn_idx, r.score)
        for r in Q.search(
            transcripts, SEARCH_QUERIES["multi_match_cross_msm"], KEYS, k=DEFAULT_K
        ).collect()
    }
    assert got and got == want == fixture
