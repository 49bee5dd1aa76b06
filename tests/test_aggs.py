"""Aggregation compiler vs hand-written DuckDB oracle SQL (sf0.001).

Same comparison the driver's correctness gate runs: collect both engines'
rows as sorted string tuples over name-sorted columns.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from elasticsearch_spark import aggset
from elasticsearch_spark.operators import aggs


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb.connect()
    c.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    return c


def _spark_rows(df):
    return sorted(tuple(str(x) for x in r) for r in df.select(*sorted(df.columns)).collect())


def _duck_rows(con, sql):
    od = con.execute(sql).df()
    return sorted(tuple(str(x) for x in r) for r in od[sorted(od.columns)].itertuples(index=False))


@pytest.mark.parametrize("name", sorted(aggset.AGG_QUERIES))
def test_agg_oracle_parity(spark, sf_dir, con, name):
    fn = aggset.agg_query_fns()[name]
    got = _spark_rows(fn(spark, sf_dir))
    want = _duck_rows(con, aggset.agg_oracle_sql()[name])
    assert got == want, f"{name}: {got[:3]} vs {want[:3]}"
    if name not in ("agg_significant_terms",):
        assert got, f"{name} vacuous (0 rows both sides)"


def test_terms_order_by_metric(spark, transcripts):
    out = aggs.aggregate(
        transcripts,
        {
            "aggs": {
                "role": {
                    "terms": {"field": "role", "size": 2, "order": {"avg_turn": "desc"}},
                    "aggs": {"avg_turn": {"avg": {"field": "turn_idx"}}},
                }
            }
        },
    ).collect()
    assert len(out) == 2
    assert out[0]["avg_turn"] >= out[1]["avg_turn"]


def test_bucket_sort_pipeline(spark, transcripts):
    out2 = aggs.aggregate(
        transcripts,
        {
            "aggs": {
                "role": {
                    "terms": {"field": "role", "size": 10},
                    "aggs": {"srt": {"bucket_sort": {"sort": [{"doc_count": "asc"}], "size": 3}}},
                }
            }
        },
    ).collect()
    assert len(out2) == 3
    assert [r.doc_count for r in out2] == sorted(r.doc_count for r in out2)


def test_rare_terms(spark, transcripts):
    out = aggs.aggregate(
        transcripts,
        {"aggs": {"cid": {"rare_terms": {"field": "conv_id", "max_doc_count": 20}}}},
    ).collect()
    assert all(r.doc_count <= 20 for r in out)
    assert len(out) > 0


def test_missing_bucket(spark, transcripts):
    docs = transcripts.withColumn("tool_n", F.expr("nullif(tool, '')"))
    out = aggs.aggregate(
        docs, {"aggs": {"m": {"missing": {"field": "tool_n"}}}}
    ).collect()
    want = transcripts.where("tool = ''").count()
    assert out[0].doc_count == want


def test_adjacency_matrix(spark, transcripts):
    out = {r.key: r.doc_count for r in aggs.adjacency_matrix(
        transcripts,
        {"users": "role = 'user'", "early": "turn_idx < 4", "search": "tool = 'search'"},
    ).collect()}
    n_users = transcripts.where("role = 'user'").count()
    n_both = transcripts.where("role = 'user' and turn_idx < 4").count()
    assert out["users"] == n_users
    assert out["early&users"] == n_both
    assert "search&users" not in out or out["search&users"] == transcripts.where(
        "role = 'user' and tool = 'search'"
    ).count()


def test_scripted_metric(spark, transcripts):
    import pandas as pd

    def mr(key, pdf: "pd.DataFrame") -> "pd.DataFrame":
        # example "script": sum of squared turn_idx per role
        return pd.DataFrame({"role": [key[0]], "sumsq": [float((pdf.turn_idx ** 2).sum())]})

    out = aggs.scripted_metric(transcripts, ["role"], mr, "role string, sumsq double")
    got = {r.role: r.sumsq for r in out.collect()}
    for role in got:
        want = transcripts.where(F.col("role") == role).agg(
            F.sum(F.col("turn_idx") * F.col("turn_idx"))
        ).first()[0]
        assert got[role] == float(want)


def test_significant_text(spark, transcripts):
    fg = transcripts.where("tool = 'search'")
    out = aggs.significant_text(fg, transcripts, size=5).collect()
    assert all(r.score > 0 for r in out)
    scores = [r.score for r in out]
    assert scores == sorted(scores, reverse=True)


def _moving_fn(transcripts, script):
    return aggs.aggregate(
        transcripts,
        {
            "aggs": {
                "turn": {
                    "histogram": {"field": "turn_idx", "interval": 1},
                    "aggs": {"mov": {"moving_fn": {"buckets_path": "_count", "window": 2, "script": script}}},
                }
            }
        },
    )


def test_moving_fn_exact_scripts(spark, transcripts):
    counts = [r.doc_count for r in _moving_fn(transcripts, "MovingFunctions.sum(values)").orderBy("turn").collect()]
    for script, fn in [
        ("MovingFunctions.max(values)", max),
        ("MovingFunctions.min(values)", min),
        ("MovingFunctions.sum(values)", sum),
        ("MovingFunctions.unweightedAvg(values)", lambda w: sum(w) / len(w)),
    ]:
        got = [r.mov for r in _moving_fn(transcripts, script).orderBy("turn").collect()]
        want = [None] + [fn(counts[max(0, i - 2) : i]) for i in range(1, len(counts))]
        assert got == pytest.approx(want), script


@pytest.mark.parametrize(
    "script",
    ["MovingFunctions.stdDev(values, MovingFunctions.unweightedAvg(values))", "MovingFunctions.ewma(values, 0.3)", "values.max()"],
)
def test_moving_fn_unknown_script_raises(spark, transcripts, script):
    with pytest.raises(ValueError, match="moving_fn script"):
        _moving_fn(transcripts, script)
