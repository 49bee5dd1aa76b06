"""Differential fuzzing: seeded random query trees from the supported DSL
grammar, executed by THREE independent paths — the logical plan compiler, the
segment-store kernel, and the DuckDB oracle — which must all agree on
(doc, score-at-4dp) sets. This is the same triangle the driver's correctness
gate checks, over a much wider slice of the query space than the hand-written
fixtures."""

from __future__ import annotations

import random

import duckdb
import pytest

from elasticsearch_spark import oracle
from elasticsearch_spark.plans import query_dsl as Q

KEYS = ["conv_id", "turn_idx"]
N_QUERIES = 26
K = 10


@pytest.fixture(scope="module")
def vocab(transcripts):
    from pyspark.sql import functions as F

    from elasticsearch_spark.functions import analysis

    rows = (
        transcripts.select(F.explode(analysis.tokens("text")).alias("t"))
        .groupBy("t").count().orderBy(F.desc("count"), "t").limit(60).collect()
    )
    return [r.t for r in rows]


@pytest.fixture(scope="module")
def store(spark, transcripts, tmp_path_factory):
    from elasticsearch_spark.operators import index_build

    root = tmp_path_factory.mktemp("fuzzidx")
    return index_build.build_index(spark, transcripts, str(root), n_slices=1, partitions=4)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    return con


def _gen_leaf(rng: random.Random, vocab: list[str]) -> dict:
    kind = rng.choice(
        ["match", "match", "match", "match_phrase", "term", "range", "exists",
         "prefix", "span_near", "span_first", "intervals_src"]
    )
    if kind == "intervals_src":
        # IntervalsSourceProvider sources beyond match: any_of over single
        # terms, all_of ordered/unordered chains mixing concrete / any_of /
        # prefix / fuzzy steps, standalone prefix/wildcard/fuzzy
        def child():
            r = rng.random()
            if r < 0.45:
                return {"match": {"query": rng.choice(vocab)}}
            if r < 0.65:
                return {"any_of": {"intervals": [
                    {"match": {"query": t}} for t in rng.sample(vocab, 2)]}}
            if r < 0.85:
                return {"prefix": {"prefix": rng.choice(vocab)[:2]}}
            return {"fuzzy": {"term": rng.choice(vocab),
                              "fuzziness": rng.randint(1, 2)}}

        r = rng.random()
        if r < 0.6:
            src = {"all_of": {
                "ordered": rng.random() < 0.6,
                "max_gaps": rng.randint(0, 6),
                "intervals": [child() for _ in range(2)],
            }}
            # unordered non-plain pairs are allowed; unordered arity>2 with
            # composite steps raises, so keep all_of at arity 2
        elif r < 0.75:
            src = {"any_of": {"intervals": [
                {"match": {"query": t}} for t in rng.sample(vocab, rng.randint(2, 3))]}}
        elif r < 0.9:
            src = {"prefix": {"prefix": rng.choice(vocab)[:2]}}
        else:
            src = {"wildcard": {"pattern": rng.choice(vocab)[:2] + "*"}}
        return {"intervals": {"text": src}}
    if kind == "span_near":
        # ordered any arity; unordered pairs incl. the non-plain shapes
        # (masked / prefix-expanded / duplicate-term — the per-end
        # minimal-window path); ~1/3 masked, occasional span_multi prefix
        # step and duplicate-term pair (overlapping occurrence sets)
        n = rng.randint(2, 3)
        terms = rng.sample(vocab, n)
        if n == 2 and rng.random() < 0.15:
            terms[1] = terms[0]  # duplicate-term pair
        clauses: list[dict] = [{"span_term": {"text": t}} for t in terms]
        if rng.random() < 0.35:
            clauses[-1] = {
                "field_masking_span": {
                    "query": {"span_term": {"tool": rng.choice(["search", "code", "browser"])}},
                    "field": "text",
                }
            }
        elif n == 2 and rng.random() < 0.25:
            clauses[-1] = {
                "span_multi": {
                    "match": {"prefix": {"text": terms[-1][:2]}}
                }
            }
        # unordered arity 3 rides the merged-stream minimal-window kernel,
        # but only for plain span_term steps (masked steps stay arity 2)
        in_order = rng.random() < 0.5
        if n > 2 and not in_order and rng.random() < 0.5:
            in_order = True
        if in_order and rng.random() < 0.3:
            # span_gap between two adjacent steps (ordered chains only)
            clauses.insert(1, {"span_gap": {"text": rng.randint(1, 2)}})
        return {
            "span_near": {
                "clauses": clauses,
                "slop": rng.randint(0, 6),
                "in_order": in_order,
            }
        }
    if kind == "span_first":
        return {
            "span_first": {
                "match": {"span_term": {"text": rng.choice(vocab)}},
                "end": rng.randint(1, 6),
            }
        }
    if kind == "match":
        terms = rng.sample(vocab, rng.randint(1, 3))
        spec: dict = {"query": " ".join(terms)}
        if len(terms) > 1 and rng.random() < 0.3:
            spec["operator"] = "and"
        elif len(terms) > 2 and rng.random() < 0.3:
            spec["minimum_should_match"] = 2
        return {"match": {"text": spec}}
    if kind == "match_phrase":
        return {"match_phrase": {"text": " ".join(rng.sample(vocab, 2))}}
    if kind == "term":
        f, vs = rng.choice(
            [("role", ["user", "assistant", "system", "tool"]),
             ("tool", ["search", "code", "browser"])]
        )
        return {"term": {f: rng.choice(vs)}}
    if kind == "range":
        lo = rng.randint(0, 10)
        return {"range": {"turn_idx": {"gte": lo, "lt": lo + rng.randint(2, 9)}}}
    if kind == "exists":
        return {"exists": {"field": "tool"}}
    return {"prefix": {"text": rng.choice(vocab)[:2]}}


def _gen_query(rng: random.Random, vocab: list[str], depth: int = 0) -> dict:
    child = _gen_leaf if depth >= 1 else (
        lambda r, v: _gen_query(r, v, depth + 1) if r.random() < 0.5 else _gen_leaf(r, v)
    )
    shape = rng.choice(
        ["leaf", "bool", "bool", "dis_max", "constant_score", "boosting",
         "terms_set", "function_score", "script_score"]
    )
    if shape == "script_score":
        return {
            "script_score": {
                "query": _gen_leaf(rng, vocab),
                "script": {
                    "source": rng.choice(
                        ["Math.log(2 + doc['turn_idx'].value) * params.w",
                         "Math.sqrt(1 + doc['turn_idx'].value) * params.w",
                         "doc['turn_idx'].value + params.w"]
                    ),
                    "params": {"w": rng.choice([1, 2.5])},
                },
            }
        }
    if shape == "leaf":
        return _gen_leaf(rng, vocab)
    if shape == "dis_max":
        return {
            "dis_max": {
                "queries": [child(rng, vocab) for _ in range(rng.randint(2, 3))],
                "tie_breaker": rng.choice([0.0, 0.3]),
            }
        }
    if shape == "constant_score":
        return {"constant_score": {"filter": _gen_leaf(rng, vocab), "boost": rng.choice([1.0, 2.5])}}
    if shape == "boosting":
        return {
            "boosting": {
                "positive": child(rng, vocab),
                "negative": _gen_leaf(rng, vocab),
                "negative_boost": rng.choice([0.2, 0.5]),
            }
        }
    if shape == "terms_set":
        return {
            "terms_set": {
                "text": {
                    "terms": rng.sample(vocab, rng.randint(2, 4)),
                    "minimum_should_match_script": "least(turn_idx, 2)",
                }
            }
        }
    if shape == "function_score":
        return {
            "function_score": {
                "query": _gen_leaf(rng, vocab),
                "functions": [
                    {
                        "field_value_factor": {
                            "field": "turn_idx",
                            "factor": 0.5,
                            "missing": 1.0,
                            "modifier": rng.choice(["none", "log1p", "sqrt"]),
                        }
                    }
                ],
                "boost_mode": rng.choice(["multiply", "sum"]),
            }
        }
    body: dict = {}
    if rng.random() < 0.7:
        body["must"] = [child(rng, vocab)]
    if rng.random() < 0.6:
        body["should"] = [child(rng, vocab) for _ in range(rng.randint(1, 2))]
        if rng.random() < 0.4:
            body["minimum_should_match"] = 1
    if rng.random() < 0.4:
        body["filter"] = [_gen_leaf(rng, vocab)]
    if rng.random() < 0.3:
        body["must_not"] = [_gen_leaf(rng, vocab)]
    if not body:
        body["must"] = [_gen_leaf(rng, vocab)]
    return {"bool": body}


def _rows(df):
    return sorted((r.conv_id, r.turn_idx, round(r.score, 4)) for r in df.collect())


def _oracle_rows(duck, qd) -> list:
    try:
        return sorted(
            (c, int(t), round(float(s), 4))
            for c, t, s in duck.execute(oracle.search_sql(qd, K)).fetchall()
        )
    except ValueError as e:
        pytest.skip(f"oracle cannot express generated query: {e}")


@pytest.mark.parametrize("seed", range(N_QUERIES))
def test_three_engines_agree(seed, spark, transcripts, store, vocab, duck):
    from elasticsearch_spark.operators import topk

    rng = random.Random(1000 + seed)
    qd = _gen_query(rng, vocab)
    want = _oracle_rows(duck, qd)
    got_logical = _rows(Q.search(transcripts, qd, KEYS, k=K))
    got_indexed = _rows(topk.search_indexed(spark, store, qd, k=K))
    assert got_logical == want, f"logical vs oracle for {qd}"
    assert got_indexed == want, f"indexed vs oracle for {qd}"


@pytest.mark.parametrize("seed", range(N_QUERIES))
def test_spark_kernel_agrees_with_oracle(seed, spark, store, vocab, duck, monkeypatch):
    """The same queries with the kernel forced onto Spark (a zero driver
    cap): the fuzz store has no deletes, so it is under the cap otherwise."""
    from elasticsearch_spark.operators import topk

    monkeypatch.setattr(topk, "MAX_DRIVER_KERNEL_POSTINGS", 0)
    qd = _gen_query(random.Random(1000 + seed), vocab)
    want = _oracle_rows(duck, qd)
    assert _rows(topk.search_indexed(spark, store, qd, k=K)) == want, f"indexed vs oracle for {qd}"
