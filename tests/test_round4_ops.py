"""Round-4 operators: numeric doc-value block index (docs-only range pruning),
indexed->logical fallback visibility, and related fixes.

Reference parity notes live in the operator docstrings; here we assert the
round-3 VERDICT "do this" items: a turn_idx range must prune its docs scan
via the dv block index (#3) and the result must match the logical path.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from elasticsearch_spark.plans import query_dsl as Q

KEYS = ["conv_id", "turn_idx"]


@pytest.fixture(scope="module")
def dv_store(spark, transcripts, tmp_path_factory):
    from elasticsearch_spark.operators import index_build

    root = str(tmp_path_factory.mktemp("dvidx"))
    return index_build.build_index(spark, transcripts, root, n_slices=2, partitions=4)


class TestDvConstraints:
    def _c(self, qd):
        from elasticsearch_spark.operators.topk import _dv_conjunctive_constraints

        return _dv_conjunctive_constraints(Q.normalize_query(qd))

    def test_range_bounds(self):
        assert self._c({"range": {"turn_idx": {"gte": 3, "lt": 8}}}) == [
            ("turn_idx", 3, 7)
        ]
        assert self._c({"range": {"turn_idx": {"gt": 3}}}) == [
            ("turn_idx", 4, 1 << 62)
        ]

    def test_term_and_nested_bool(self):
        qd = {
            "bool": {
                "must": [{"term": {"turn_idx": 5}}],
                "filter": [
                    {"bool": {"filter": [{"range": {"turn_idx": {"lte": 9}}}]}}
                ],
            }
        }
        assert sorted(self._c(qd)) == [("turn_idx", -(1 << 62), 9), ("turn_idx", 5, 5)]

    def test_disjunctive_context_never_contributes(self):
        # a doc can match via the OTHER should clause, so should/dis_max must
        # not produce required constraints
        assert self._c(
            {
                "bool": {
                    "should": [
                        {"range": {"turn_idx": {"lte": 2}}},
                        {"term": {"role": "user"}},
                    ]
                }
            }
        ) == []

    def test_non_dv_and_non_int_rejected(self):
        assert self._c({"range": {"ts": {"gte": 3}}}) == []
        assert self._c({"range": {"turn_idx": {"gte": "2020"}}}) == []
        assert self._c({"term": {"turn_idx": True}}) == []


class TestAdviceFixes:
    """Round-3 ADVICE findings: wildcard metachar escaping, percolate
    msm<=0 soundness, script_score _score word-boundary guard, single-job
    dead-delete pruning (covered by the existing merge tests)."""

    def test_wildcard_regex_escapes_metachars(self):
        import re as _re

        from elasticsearch_spark.functions.analysis import wildcard_regex

        assert _re.fullmatch(wildcard_regex("c++*")[1:-1], "c++11")
        assert not _re.fullmatch(wildcard_regex("c++*")[1:-1], "cc11")
        assert _re.fullmatch(wildcard_regex("a(b?")[1:-1], "a(bc")
        assert _re.fullmatch(wildcard_regex("qu?ry*")[1:-1], "query42")

    def test_wildcard_metachars_safe_on_all_paths(self, spark, transcripts, dv_store):
        # WildcardQuery treats non-wildcard chars literally: 'c++*' must run
        # (not crash with a regex syntax error) and match nothing in an
        # alnum-token corpus, on logical, indexed, and percolate paths
        from elasticsearch_spark.operators import percolate, topk

        qd = {"wildcard": {"text": "c++*"}}
        assert Q.search(transcripts, qd, KEYS, k=5).count() == 0
        assert topk.search_indexed(spark, dv_store, qd, k=5).count() == 0
        got = percolate.percolate(transcripts.limit(50), {"q1": qd})
        assert got.count() == 0

    def test_percolate_msm_zero_takes_exact_scan_arm(self, spark, transcripts):
        """Round 5: msm<=0 no longer refuses — term pruning is still unsound
        for it, so it routes through the SCAN arm and is evaluated exactly.
        Lucene semantics: a should-only bool needs >=1 should match even
        with minimumNumberShouldMatch=0 (BooleanWeight's no-required-clauses
        rule), so the result equals the plain disjunction."""
        from elasticsearch_spark.operators import percolate
        from elasticsearch_spark.plans import query_dsl as Q

        batch = transcripts.where("turn_idx <= 1")
        qd = {
            "bool": {
                "should": [{"match": {"text": "query"}}],
                "minimum_should_match": 0,
            }
        }
        got = sorted(
            (r.conv_id, r.turn_idx)
            for r in percolate.percolate(batch, {"q1": qd}).collect()
        )
        want = sorted(
            (r.conv_id, r.turn_idx)
            for r in Q.compile_query(qd, batch, ["conv_id", "turn_idx"]).collect()
        )
        assert got == want and len(got) > 0

    def test_script_score_benign_score_identifiers_accepted(self):
        # params.risk_score / doc['quality_score'] must not trip the _score
        # guard (word-boundary, not substring); bare _score still refuses
        ok = {
            "script_score": {
                "query": {"match_all": {}},
                "script": {"source": "params.risk_score + 1", "params": {"risk_score": 2}},
            }
        }
        Q.normalize_query(ok)
        with pytest.raises(ValueError, match="_score"):
            Q.normalize_query(
                {
                    "script_score": {
                        "query": {"match_all": {}},
                        "script": {"source": "_score * 2"},
                    }
                }
            )


class TestMatrixStats:
    """matrix_stats agg vs numpy (ES RunningStats semantics: sample var/cov,
    population skewness, non-excess kurtosis)."""

    def test_against_numpy(self, spark):
        import numpy as np

        rng = np.random.default_rng(7)
        a = rng.integers(0, 30, 200).astype(float)
        b = a * 3.0 + rng.normal(0, 5, 200)
        rows = [(float(x), float(y)) for x, y in zip(a, b)]
        df = spark.createDataFrame(rows, "x double, y double")

        from elasticsearch_spark.operators.aggs import matrix_stats

        out = {
            (r["name"], r["other"]): r
            for r in matrix_stats(df, ["x", "y"]).collect()
        }
        m2 = ((a - a.mean()) ** 2).mean()
        m3 = ((a - a.mean()) ** 3).mean()
        m4 = ((a - a.mean()) ** 4).mean()
        xx = out[("x", "x")]
        assert xx["count"] == 200
        assert abs(xx["mean"] - a.mean()) < 1e-9
        assert abs(xx["variance"] - a.var(ddof=1)) < 1e-9
        assert abs(xx["skewness"] - m3 / m2**1.5) < 1e-9
        assert abs(xx["kurtosis"] - m4 / m2**2) < 1e-9  # NON-excess
        xy = out[("x", "y")]
        assert abs(xy["covariance"] - np.cov(a, b, ddof=1)[0, 1]) < 1e-9
        assert abs(xy["correlation"] - np.corrcoef(a, b)[0, 1]) < 1e-9

    def test_skips_docs_missing_any_field(self, spark):
        from elasticsearch_spark.operators.aggs import matrix_stats

        df = spark.createDataFrame(
            [(1.0, 2.0), (3.0, None), (None, 4.0), (5.0, 6.0)],
            "x double, y double",
        )
        out = matrix_stats(df, ["x", "y"]).collect()
        assert all(r["count"] == 2 for r in out)


class TestQueryStringFullSyntax:
    """QueryStringQueryParser.java forms beyond the round-3 subset: ranges,
    boosts, fuzzy, phrase slop, /regex/ (VERDICT r3 'do this' #6)."""

    def _p(self, s):
        from elasticsearch_spark.plans.query_string import parse_query_string

        return parse_query_string(s)

    def test_ranges(self):
        assert self._p("turn_idx:[2 TO 5]") == {
            "range": {"turn_idx": {"gte": 2, "lte": 5}}
        }
        assert self._p("turn_idx:{2 TO 5}") == {
            "range": {"turn_idx": {"gt": 2, "lt": 5}}
        }
        assert self._p("turn_idx:[2 TO *]") == {"range": {"turn_idx": {"gte": 2}}}
        assert self._p("turn_idx:>=7") == {"range": {"turn_idx": {"gte": 7}}}
        assert self._p("ts:[2024-01-01 TO 2024-06-30]") == {
            "range": {"ts": {"gte": "2024-01-01", "lte": "2024-06-30"}}
        }
        with pytest.raises(ValueError):
            self._p("turn_idx:[* TO *]")

    def test_fuzzy_slop_regex(self):
        assert self._p("quary~1") == {
            "fuzzy": {"text": {"value": "quary", "fuzziness": 1}}
        }
        assert self._p("databse~") == {
            "fuzzy": {"text": {"value": "databse", "fuzziness": 2}}
        }
        assert self._p('"the query"~2') == {
            "match_phrase": {"text": {"query": "the query", "slop": 2}}
        }
        assert self._p("/quer(y|ies)/") == {"regexp": {"text": "quer(y|ies)"}}

    def test_boosts(self):
        assert self._p("query^2") == {
            "function_score": {
                "query": {"match": {"text": "query"}},
                "functions": [{"weight": 2.0}],
                "boost_mode": "multiply",
            }
        }
        # constant-score leaves fold boost into constant_score
        assert self._p("turn_idx:[2 TO 5]^3") == {
            "constant_score": {
                "filter": {"range": {"turn_idx": {"gte": 2, "lte": 5}}},
                "boost": 3.0,
            }
        }
        grp = self._p("(a OR b)^2")
        assert grp["function_score"]["functions"] == [{"weight": 2.0}]

    def test_all_forms_normalize(self):
        # each must flow through normalize_query without raising
        for s in [
            "turn_idx:[7 TO 9] query^2",
            'quary~1 OR /ind(ex|ices)/ OR (slow scan)^3',
            '"fast scan"~1^2',
            "tool:sea* AND turn_idx:<10",
        ]:
            Q.normalize_query({"query_string": {"query": s}})


class TestPainlessUpdateContext:
    """UpdateHelper.java:126-145 executeScript analog: ctx._source
    assignments, if/else, ctx.op='noop', params — compiled to SQL SET
    expressions + a noop predicate (functions/painless.compile_update)."""

    def _c(self, src, params=None):
        from elasticsearch_spark.functions.painless import compile_update

        return compile_update(src, params)

    def test_plain_assign_and_params(self):
        env, noop = self._c("ctx._source.tool = params.t;", {"t": "x"})
        assert env == {"tool": "'x'"} and noop is None

    def test_augmented_assign_reads_prior_value(self):
        env, _ = self._c("ctx._source.turn_idx += 2; ctx._source.turn_idx *= 3;")
        # second statement must see the first's result (sequential semantics)
        assert env["turn_idx"] == "( ( turn_idx ) + ( 2 ) ) * ( 3 )"

    def test_string_concat_renders_sql_concat(self):
        env, _ = self._c("ctx._source.text = ctx._source.text + ' [x]';")
        assert env["text"] == "( text ) || ' [x]'"

    def test_if_else_guards_become_case(self):
        env, _ = self._c(
            "if (ctx._source.turn_idx >= 5) { ctx._source.role = 'hi'; } "
            "else { ctx._source.role = 'lo'; }"
        )
        assert env["role"] == (
            "CASE WHEN NOT (( turn_idx ) >= 5) THEN 'lo' ELSE "
            "CASE WHEN (( turn_idx ) >= 5) THEN 'hi' ELSE role END END"
        )

    def test_conditional_noop(self):
        env, noop = self._c(
            "if (ctx._source.role == 'system') { ctx.op = 'noop'; } "
            "ctx._source.tool = 'm';"
        )
        assert env == {"tool": "'m'"} and noop == "((( role ) = 'system'))"

    def test_unconditional_noop_and_unparseable_raise_or_flag(self):
        import pytest

        _, noop = self._c("ctx.op = 'noop';")
        assert noop == "TRUE"
        with pytest.raises(ValueError):
            self._c("for (int i=0;i<3;i++) { ctx._source.n += 1; }")
        with pytest.raises(ValueError):
            self._c("ctx._source.x = doc.missing(")

    def test_update_by_query_requires_exactly_one_source(self, spark, tmp_path):
        import pytest

        from elasticsearch_spark.operators import update

        with pytest.raises(ValueError):
            update.update_by_query(spark, None, "TRUE")
        with pytest.raises(ValueError):
            update.update_by_query(
                spark, None, "TRUE", set_exprs={"tool": "'x'"}, script="ctx.op='noop';"
            )


class TestDvBlockPruning:
    """VERDICT r3 #3 / BENCH.md §7: a docs-only turn_idx range must answer
    from the dv block index (value-sorted parquet, range pushed down), pruning
    the docs scan to candidate ordinal blocks instead of O(corpus)."""

    def test_dv_stats_written_and_value_sorted(self, spark, dv_store):
        import os

        snap = dv_store.snapshot()
        for seg in snap.segments:
            p = dv_store.dv_stats_path(seg.segment_id)
            assert os.path.exists(p)
            df = spark.read.parquet(p)
            assert set(df.columns) == {"col", "val", "bk"}
            # pushdown check: a val range filter reaches the parquet scan
            plan = (
                df.where((F.col("col") == "turn_idx") & F.col("val").between(3, 5))
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            assert "PushedFilters" in plan and "val" in plan

    def test_block_pred_prunes_docs_scan(self, spark, dv_store):
        from elasticsearch_spark.operators import topk

        snap = dv_store.snapshot()
        nq = Q.normalize_query({"range": {"turn_idx": {"gte": 7, "lte": 9}}})
        pred = topk._dv_block_pred(spark, dv_store, snap, nq)
        assert pred is not None
        docs = topk.read_segment_docs(spark, dv_store, snap)
        plan = docs.where(pred)._jdf.queryExecution().executedPlan().toString()
        # the ordinal block ranges must reach the parquet scan as pushed
        # row-group-prunable comparisons
        assert "ordinal" in plan and "PushedFilters" in plan

    def test_out_of_domain_range_yields_empty_fast(self, spark, dv_store):
        from elasticsearch_spark.operators import topk

        qd = {"range": {"turn_idx": {"gte": 10_000}}}
        pred = topk._dv_block_pred(
            spark, dv_store, dv_store.snapshot(), Q.normalize_query(qd)
        )
        # no block holds a matching value -> constant-false pruning predicate
        assert pred is not None
        assert topk.search_indexed(spark, dv_store, qd, k=10).count() == 0

    @pytest.mark.parametrize(
        "qd",
        [
            {"range": {"turn_idx": {"gte": 7, "lte": 9}}},
            {"range": {"turn_idx": {"gt": 15}}},
            {"bool": {"filter": [{"range": {"turn_idx": {"lt": 3}}},
                                 {"term": {"role": "user"}}]}},
            {"bool": {"must": [{"term": {"turn_idx": 4}}]}},
        ],
    )
    def test_pruned_results_match_logical(self, spark, transcripts, dv_store, qd):
        from elasticsearch_spark.operators import topk

        idx = [
            (r.conv_id, r.turn_idx, r.score)
            for r in topk.search_indexed(spark, dv_store, qd, k=10).collect()
        ]
        log = [
            (r.conv_id, r.turn_idx, round(r.score, 4))
            for r in Q.search(transcripts, qd, KEYS, k=10).collect()
        ]
        assert idx == log, qd

    def test_fallback_warns_and_fixtures_never_fall_back(self, spark, dv_store):
        """VERDICT r3 #4: the indexed->logical fallback must be visible.

        (a) every registered fixture lowers (no silent O(corpus) scan);
        (b) a shape the kernel cannot express emits IndexedFallbackWarning
            and still answers correctly via the logical plan."""
        import warnings

        from elasticsearch_spark.operators import topk
        from elasticsearch_spark.queryset import (
            INTERVALS_QUERIES,
            SEARCH_QUERIES,
            SPAN_QUERIES,
        )

        snap = dv_store.snapshot()
        docs = topk.read_segment_docs(spark, dv_store, snap)
        for name, qd in {**SEARCH_QUERIES, **INTERVALS_QUERIES, **SPAN_QUERIES}.items():
            nq = Q.normalize_query(qd)
            topk.lower_query(spark, dv_store, snap, lambda: docs, nq)  # must not raise

        # dis_max over filter-context leaves has no kernel/doc-values lowering
        odd = {
            "dis_max": {
                "queries": [
                    {"range": {"turn_idx": {"lte": 2}}},
                    {"exists": {"field": "tool"}},
                ]
            }
        }
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            res = topk.search_indexed(spark, dv_store, odd, k=5).collect()
        assert any(issubclass(x.category, topk.IndexedFallbackWarning) for x in w)
        assert len(res) == 5  # still answered, via the logical plan


class TestMultiFragmentHighlighter:
    """HighlightBuilder breadth: pre/post tags, number_of_fragments,
    order="score", no_match_size — engine expr vs the DuckDB twin on
    crafted texts (search/fetch/subphase/highlight/HighlightBuilder.java)."""

    TEXTS = [
        # three exact fs=20 windows: 1 hit / 0 hits / 2 hits. Each window
        # ends at a token boundary (trailing space), so the token-boundary
        # fragmenter keeps the nominal 20-char windows — a glued
        # "zz""cat" here would be ONE real token ("zzcat") and the
        # fragmenter would (correctly) refuse to split it.
        "cat sat on the mat  " "zz filler no hit zz " "cat here and cat too",
        "no hits anywhere in this text at all, plain filler words only",
        "cat",
        "",
        "xxxxxxxxxxxxxxxxxxx cat",  # hit exactly at a window boundary
    ]

    def _spark_rows(self, spark, opts):
        from elasticsearch_spark.functions.highlight import (
            highlight_fragments_expr,
        )

        df = spark.createDataFrame([(i, t) for i, t in enumerate(self.TEXTS)],
                                   "i int, text string")
        return {
            r.i: r.h
            for r in df.select(
                "i", highlight_fragments_expr("text", ["cat"], **opts).alias("h")
            ).collect()
        }

    def _duck_rows(self, opts):
        import duckdb

        from elasticsearch_spark.functions.highlight import (
            highlight_fragments_sql,
        )

        con = duckdb.connect()
        con.execute("CREATE TABLE t (i int, text varchar)")
        con.executemany("INSERT INTO t VALUES (?, ?)",
                        list(enumerate(self.TEXTS)))
        sql = highlight_fragments_sql("text", ["cat"], **opts)
        return dict(con.execute(f"SELECT i, {sql} FROM t").fetchall())

    @pytest.mark.parametrize("opts", [
        {"fragment_size": 20, "number_of_fragments": 3},
        {"fragment_size": 20, "number_of_fragments": 1, "order": "score"},
        {"fragment_size": 20, "number_of_fragments": 3, "order": "score",
         "pre": "<b>", "post": "</b>", "no_match_size": 10},
    ])
    def test_twins_agree(self, spark, opts):
        assert self._spark_rows(spark, opts) == self._duck_rows(opts)

    def test_semantics(self, spark):
        got = self._spark_rows(
            spark, {"fragment_size": 20, "number_of_fragments": 3,
                    "order": "score", "no_match_size": 10})
        # doc0: window 2 has two hits -> first fragment; window 0 one hit
        assert got[0] == (
            "<em>cat</em> here and <em>cat</em> too"
            " … <em>cat</em> sat on the mat  "
        )
        # doc1: no hit -> leading no_match_size chars, untagged
        assert got[1] == "no hits an"
        # doc2: single window, single hit
        assert got[2] == "<em>cat</em>"
        # doc3: empty text -> empty no-match prefix
        assert got[3] == ""
        # doc4: 'cat' starts in window 1 -> tagged there
        assert got[4] == "<em>cat</em>"
