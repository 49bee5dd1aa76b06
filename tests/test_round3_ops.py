"""Round-3 fixes: percolate percentage msm, intervals validation guards,
hdr percentile accuracy mapping, sloppy match_phrase."""

from __future__ import annotations

import pytest

from elasticsearch_spark import oracle
from elasticsearch_spark.operators import aggs
from elasticsearch_spark.operators import percolate as P
from elasticsearch_spark.plans import query_dsl as Q

KEYS = ["conv_id", "turn_idx"]


class TestPercolateMsm:
    def test_percentage_msm(self, spark):
        docs = spark.createDataFrame(
            [("c1", 0, "window agg here"), ("c2", 0, "nothing relevant")],
            "conv_id string, turn_idx int, text string",
        )
        # 50% of 4 terms -> need 2 distinct matches
        stored = {
            "q": {
                "match": {
                    "text": {
                        "query": "window agg stream batch",
                        "minimum_should_match": "50%",
                    }
                }
            }
        }
        got = {r.conv_id for r in P.percolate(docs, stored).collect()}
        assert got == {"c1"}

    def test_bad_msm_raises(self, spark):
        docs = spark.createDataFrame(
            [("c1", 0, "x")], "conv_id string, turn_idx int, text string"
        )
        stored = {"q": {"match": {"text": {"query": "a b", "minimum_should_match": "two"}}}}
        with pytest.raises(ValueError, match="minimum_should_match"):
            P.percolate(docs, stored)


class TestIntervalsGuards:
    """No silent constraint drops: shapes whose branch would ignore
    not_query/first_end raise on the logical path AND in the oracle
    (mirrors operators/topk.py lowering validations)."""

    UNORDERED_NOT = {
        "intervals": {
            "text": {
                "match": {"query": "join table", "ordered": False, "not_query": "hash"}
            }
        }
    }
    WITHIN_NOT = {
        "intervals": {
            "text": {
                "match": {
                    "query": "hash",
                    "within_query": "join table",
                    "not_query": "scan",
                }
            }
        }
    }

    def test_unordered_not_query_raises_logical(self, transcripts):
        with pytest.raises(ValueError, match="not_query"):
            Q.search(transcripts, self.UNORDERED_NOT, KEYS, k=5)

    def test_unordered_not_query_raises_oracle(self):
        with pytest.raises(ValueError, match="not_query"):
            oracle.search_sql(self.UNORDERED_NOT, 5)

    def test_within_not_query_raises_both(self, transcripts):
        with pytest.raises(ValueError, match="within_query"):
            Q.search(transcripts, self.WITHIN_NOT, KEYS, k=5)
        with pytest.raises(ValueError, match="within_query"):
            oracle.search_sql(self.WITHIN_NOT, 5)


class TestHdrPercentiles:
    def test_hdr_accuracy_mapped(self, transcripts):
        body = {
            "aggs": {
                "p": {
                    "percentiles": {
                        "field": "turn_idx",
                        "percents": [50],
                        "method": "hdr",
                        "hdr": {"number_of_significant_value_digits": 3},
                    }
                }
            }
        }
        row = aggs.aggregate(transcripts, body).collect()[0]
        # turn_idx in [0, 19]; at 10^3 accuracy the GK sketch is near-exact
        assert abs(row["p_p50"] - 9.0) <= 1.0


class TestSloppyPhrase:
    def _search(self, spark, rows, qd, k=10):
        from elasticsearch_spark.plans import query_dsl as Q

        docs = spark.createDataFrame(
            [(f"c{i}", 0, t) for i, t in enumerate(rows)],
            "conv_id string, turn_idx int, text string",
        )
        return {r.conv_id: r.score for r in Q.search(docs, qd, KEYS, k=k).collect()}

    def test_slop_window_and_transposition(self, spark):
        # slop=1 reaches one intervening token; transposed adjacent terms
        # need slop=2 (Lucene adjusted-position semantics)
        rows = ["merge sort now", "merge the sort", "sort merge", "merge a b sort", "none here"]
        hit1 = self._search(spark, rows, {"match_phrase": {"text": {"query": "merge sort", "slop": 1}}})
        assert set(hit1) == {"c0", "c1"}
        # slop=2 reaches both the transposition (c2) and two intervening
        # tokens (c3: "merge a b sort" = two position moves)
        hit2 = self._search(spark, rows, {"match_phrase": {"text": {"query": "merge sort", "slop": 2}}})
        assert set(hit2) == {"c0", "c1", "c2", "c3"}
        # closer windows score higher (1/(1+width) freq saturation)
        assert hit2["c0"] > hit2["c1"] > hit2["c3"]

    def test_slop_zero_unchanged(self, spark):
        rows = ["merge sort", "merge the sort"]
        hit = self._search(spark, rows, {"match_phrase": {"text": {"query": "merge sort", "slop": 0}}})
        assert set(hit) == {"c0"}

    def test_repeated_terms_raise(self, spark, transcripts):
        from elasticsearch_spark.plans import query_dsl as Q

        with pytest.raises(ValueError, match="repeated"):
            Q.search(transcripts, {"match_phrase": {"text": {"query": "a b a", "slop": 1}}}, KEYS, k=5)
        with pytest.raises(ValueError, match="repeated"):
            oracle.search_sql({"match_phrase": {"text": {"query": "a b a", "slop": 1}}}, 5)

class TestKeywordPostings:
    """term/terms on keyword fields answered from untokenized subfield
    postings (KeywordFieldMapper semantics: exact raw value, O(df) from the
    terms dictionary, score = idf with norms disabled)."""

    def _mini_store(self, spark, tmp_path, rows):
        import datetime

        from elasticsearch_spark.operators import index_build

        docs = spark.createDataFrame(
            [
                (f"c{i}", 0, role, text, tool, datetime.datetime(2026, 1, 1))
                for i, (role, text, tool) in enumerate(rows)
            ],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp",
        )
        store = index_build.build_index(
            spark, docs, str(tmp_path / "kwidx"), n_slices=1, partitions=2
        )
        return docs, store

    def test_exact_value_semantics_not_token_match(self, spark, tmp_path):
        # tool="web search" contains the TOKEN "search" but is not the VALUE
        # "search": a keyword term query must not match it
        from elasticsearch_spark.operators import topk

        rows = [
            ("user", "please search the web", "web search"),
            ("user", "search again", "search"),
            ("assistant", "done", "search"),
        ]
        docs, store = self._mini_store(spark, tmp_path, rows)
        got = {
            r.conv_id
            for r in topk.search_indexed(
                spark, store, {"term": {"tool": "search"}}, k=10
            ).collect()
        }
        assert got == {"c1", "c2"}
        # the logical path agrees (same exact-equality semantics)
        log = {
            r.conv_id
            for r in Q.search(docs, {"term": {"tool": "search"}}, KEYS, k=10).collect()
        }
        assert log == got

    def test_term_lowers_to_anchored_kernel_plan(self, spark, transcripts, tmp_path):
        # VERDICT r2 #5: term-only queries must prune via postings, not scan
        # the docs tables (DocsPlan). KernelPlan == O(df) candidates.
        from elasticsearch_spark.operators import index_build, topk

        store = index_build.build_index(
            spark, transcripts, str(tmp_path / "kw2"), n_slices=1, partitions=4
        )
        snap = store.snapshot()
        docs = topk.read_segment_docs(spark, store, snap)
        for qd in ({"term": {"role": "user"}}, {"terms": {"tool": ["search", "code"]}}):
            plan = topk.lower_query(spark, store, snap, lambda: docs, qd)
            assert isinstance(plan, topk.KernelPlan), qd
            assert not plan.channels, qd  # no docs-scan channels at all

    def test_keyword_scores_match_logical(self, spark, transcripts, tmp_path):
        from elasticsearch_spark.operators import index_build, topk

        store = index_build.build_index(
            spark, transcripts, str(tmp_path / "kw3"), n_slices=2, partitions=4
        )
        for qd in (
            {"term": {"tool": "browser"}},
            {"terms": {"role": ["user", "system"]}},
            {"bool": {"must": [{"match": {"text": "customer"}}],
                      "should": [{"term": {"role": "user"}}]}},
        ):
            idx = [
                (r.conv_id, r.turn_idx, r.score)
                for r in topk.search_indexed(spark, store, qd, k=10).collect()
            ]
            log = [
                (r.conv_id, r.turn_idx, round(r.score, 4))
                for r in Q.search(transcripts, qd, KEYS, k=10).collect()
            ]
            assert idx == log, qd


class TestChannelPruning:
    """VERDICT r2 #3: anchored queries with value/filter channels must not
    scan O(corpus) — the channels scan is pruned to candidate postings
    blocks."""

    def test_candidate_block_pred_selects_only_candidate_ranges(self, spark):
        from pyspark.sql import functions as F

        from elasticsearch_spark.operators import topk
        from elasticsearch_spark.operators.index_build import BLOCK_RANGE

        pred = topk._candidate_block_pred([("s1", 0), ("s1", 1), ("s1", 5), ("s2", 2)])
        assert pred is not None
        # too fragmented -> full scan is the honest plan
        many = [("s1", 2 * i) for i in range(topk.MAX_CHANNEL_PRUNE_RANGES + 1)]
        assert topk._candidate_block_pred(many) is None

    def test_channels_scan_rows_bounded_by_candidates(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from elasticsearch_spark.operators import index_build, topk

        # 20k docs = 5 postings blocks per segment; the anchor term lives only
        # in the lexically-first 100 conversations = ordinals 0..99 = block 0
        n = 20000
        corpus = spark.range(n).select(
            F.format_string("c%05d", F.col("id")).alias("conv_id"),
            F.lit(0).alias("turn_idx"),
            F.lit("user").alias("role"),
            F.when(F.col("id") < 100, F.lit("zzzrare anchor token"))
            .otherwise(F.lit("common filler text about joins"))
            .alias("text"),
            F.lit("search").alias("tool"),
            F.lit("2026-01-01").cast("timestamp").alias("ts"),
        )
        store = index_build.build_index(
            spark, corpus, str(tmp_path / "prune"), n_slices=1, partitions=4
        )
        snap = store.snapshot()
        docs = topk.read_segment_docs(spark, store, snap)
        # a rare text term anchors the plan; the function_score value channel
        # (defined for EVERY doc via missing=) must only be evaluated inside
        # the rare term's candidate blocks
        qd = {
            "function_score": {
                "query": {"match": {"text": "zzzrare"}},
                "functions": [
                    {"field_value_factor": {"field": "turn_idx", "missing": 1.0}}
                ],
            }
        }
        plan = topk.lower_query(spark, store, snap, lambda: docs, qd)
        assert isinstance(plan, topk.KernelPlan) and plan.channels
        postings = topk.read_segment_postings(spark, store, snap, plan.ft_pairs)
        blocks = [
            (r["segment"], r["bk"])
            for r in postings.select("segment", "bk").distinct().collect()
        ]
        pred = topk._candidate_block_pred(blocks)
        assert pred is not None
        pruned, total = docs.where(pred).count(), docs.count()
        assert pruned < total  # strictly fewer rows scanned than the corpus
        assert pruned <= len(blocks) * index_build.BLOCK_RANGE
        # and the pruned query still answers correctly end-to-end
        got = topk.search_indexed(spark, store, qd, k=5).collect()
        assert len(got) == 5 and all(r.conv_id < "c00100" for r in got)


class TestSinglePassMultiSliceBuild:
    """VERDICT r2 #8: the multi-slice build stages the input ONCE
    (repartition-by-slice write) instead of re-scanning it per slice."""

    def _topk(self, spark, store, qd):
        from elasticsearch_spark.operators import topk

        return [
            (r.conv_id, r.turn_idx, r.score)
            for r in topk.search_indexed(spark, store, qd, k=10).collect()
        ]

    def test_resume_reads_staging_not_input(self, spark, transcripts, tmp_path):
        import os

        from elasticsearch_spark.operators import index_build

        root = str(tmp_path / "sp")
        index_build.build_index(
            spark, transcripts, root, n_slices=4, partitions=4, fail_after_slices=2
        )
        assert os.path.exists(os.path.join(root, "staging", "_STAGED"))
        # resume with a POISONED input: if the resume re-read `df` instead of
        # the staged slices, the remaining segments would be empty and the
        # results would diverge from a fresh build
        poisoned = transcripts.limit(0)
        store = index_build.build_index(
            spark, poisoned, root, n_slices=4, partitions=4, resume=True
        )
        assert not os.path.exists(os.path.join(root, "staging"))  # cleaned up
        fresh_root = str(tmp_path / "fresh")
        fresh = index_build.build_index(
            spark, transcripts, fresh_root, n_slices=4, partitions=4
        )
        qd = {"match": {"text": "customer"}}
        assert self._topk(spark, store, qd) == self._topk(spark, fresh, qd)


class TestIntervalSloppyScoring:
    """VERDICT r2 #9: arity>=2 interval/span chains score 1/(1 + min slop)
    on all three implementations (logical, kernel, DuckDB oracle) instead of
    constant 1.0. Round 5: the freq goes through the field similarity as
    SpanWeight does, so expectations wrap the hand freqs in BM25."""

    ROWS = [
        ("c0", "merge sort fast"),          # ordered slop 0 -> freq 1.0
        ("c1", "merge the sort"),           # ordered slop 1 -> freq 0.5
        ("c2", "merge a b c sort"),         # ordered slop 3 -> freq 0.25
        ("c3", "sort then merge now sort"), # ordered: merge->sort slop 1
        ("c4", "sort merge"),               # unordered slop 0, not ordered
        ("c5", "nothing here"),
    ]

    def _docs(self, spark):
        return spark.createDataFrame(
            [(c, 0, t) for c, t in self.ROWS],
            "conv_id string, turn_idx int, text string",
        )

    def _wrap(self, freqs):
        # hand BM25 (all dl < 16 -> byte4 quantization is the identity)
        import math

        toks = {c: t.split() for c, t in self.ROWS}
        n = len(toks)
        avg = sum(len(tk) for tk in toks.values()) / n
        w = sum(
            math.log(1 + (n - df + 0.5) / (df + 0.5))
            for df in (
                sum(1 for tk in toks.values() if q in tk)
                for q in ("merge", "sort")
            )
        )
        return {
            c: round(
                w * 2.2 * pf
                / (pf + 1.2 * (0.25 + 0.75 * len(toks[c]) / avg)),
                4,
            )
            for c, pf in freqs.items()
        }

    def test_logical_scores(self, spark):
        qd = {
            "intervals": {
                "text": {"match": {"query": "merge sort", "ordered": True}}
            }
        }
        got = {
            r.conv_id: round(r.score, 4)
            for r in Q.search(self._docs(spark), qd, KEYS, k=10).collect()
        }
        assert got == self._wrap({"c0": 1.0, "c1": 0.5, "c2": 0.25, "c3": 0.5})

    def test_unordered_scores(self, spark):
        qd = {
            "intervals": {
                "text": {"match": {"query": "merge sort", "ordered": False}}
            }
        }
        got = {
            r.conv_id: round(r.score, 4)
            for r in Q.search(self._docs(spark), qd, KEYS, k=10).collect()
        }
        # freqs: c4 "sort merge" adjacent either order -> slop 0 -> 1.0
        want = self._wrap({"c4": 1.0, "c0": 1.0, "c1": 0.5})
        assert {c: got[c] for c in want} == want

    def test_kernel_matches_logical(self, spark, tmp_path):
        import datetime

        from elasticsearch_spark.operators import index_build, topk

        docs = spark.createDataFrame(
            [(c, 0, "user", t, "", datetime.datetime(2026, 1, 1)) for c, t in self.ROWS],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp",
        )
        store = index_build.build_index(
            spark, docs, str(tmp_path / "slop"), n_slices=1, partitions=2
        )
        for qd in (
            {"intervals": {"text": {"match": {"query": "merge sort", "ordered": True}}}},
            {"intervals": {"text": {"match": {"query": "merge sort", "ordered": False}}}},
            {"span_near": {"clauses": [{"span_term": {"text": "merge"}},
                                       {"span_term": {"text": "sort"}}],
                           "slop": 3, "in_order": True}},
        ):
            idx = sorted(
                (r.conv_id, round(r.score, 4))
                for r in topk.search_indexed(spark, store, qd, k=10).collect()
            )
            log = sorted(
                (r.conv_id, round(r.score, 4))
                for r in Q.search(docs, qd, KEYS, k=10).collect()
            )
            assert idx == log, qd

    def test_oracle_matches_logical(self, spark):
        # both engines derive the transcripts view from the SAME documents
        # rows (the oracle CTE reads `documents`), so scores compare exactly
        import duckdb
        import pandas as pd

        from elasticsearch_spark.sources.transcripts import transcripts_view_sql

        qd = {
            "intervals": {
                "text": {"match": {"query": "merge sort", "ordered": True}}
            }
        }
        rows = pd.DataFrame(
            [{"doc_id": i, "text": t} for i, (_, t) in enumerate(self.ROWS)]
        )
        con = duckdb.connect()
        con.register("documents", rows)
        got = {
            (r[0], int(r[1])): round(float(r[2]), 4)
            for r in con.execute(oracle.search_sql(qd, 10)).fetchall()
        }
        spark.createDataFrame(rows).createOrReplaceTempView("documents")
        derived = spark.sql(transcripts_view_sql("documents", "spark"))
        log = {
            (r.conv_id, r.turn_idx): round(r.score, 4)
            for r in Q.search(derived, qd, KEYS, k=10).collect()
        }
        assert got == log and got  # non-empty and identical


class TestAutoDateHistogramCalendar:
    """VERDICT r2 missing #6: auto_date_histogram's week-and-coarser rungs
    round on CALENDAR boundaries (weeks Monday, months/quarters on the 1st,
    multi-year on year//k*k) like ES's Rounding, not on epoch multiples.
    Synthetic multi-month corpora (the sf testdata spans only hours) checked
    on both twins: the Spark operator and the DuckDB oracle SQL."""

    def _docs(self, spark, stamps):
        return spark.createDataFrame(
            [(f"c{i}", 0, "user", "x", "t", ts) for i, ts in enumerate(stamps)],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp",
        )

    def _run(self, spark, docs, buckets):
        from elasticsearch_spark.operators import aggs

        body = {"aggs": {"bkt": {"auto_date_histogram": {"field": "ts", "buckets": buckets}}}}
        return [(str(r.bkt), r.doc_count) for r in aggs.aggregate(docs, body).collect()]

    def test_month_rung_lands_on_month_firsts(self, spark):
        import datetime as dt

        # 8 months incl. February: epoch-multiple (30d) rounding would drift
        # off the 1st; calendar rounding must not. One empty month (May) for
        # the zero-fill grid.
        stamps = [
            dt.datetime(2024, 1, 15, 3), dt.datetime(2024, 2, 29, 23),
            dt.datetime(2024, 3, 1, 0), dt.datetime(2024, 4, 30, 12),
            dt.datetime(2024, 6, 10, 1), dt.datetime(2024, 7, 4, 9),
            dt.datetime(2024, 8, 20, 18), dt.datetime(2024, 8, 21, 6),
        ]
        got = self._run(spark, self._docs(spark, stamps), buckets=10)
        assert got == [
            ("2024-01-01 00:00:00", 1), ("2024-02-01 00:00:00", 1),
            ("2024-03-01 00:00:00", 1), ("2024-04-01 00:00:00", 1),
            ("2024-05-01 00:00:00", 0), ("2024-06-01 00:00:00", 1),
            ("2024-07-01 00:00:00", 1), ("2024-08-01 00:00:00", 2),
        ]

    def test_quarter_and_week_rungs(self, spark):
        import datetime as dt

        # ~2.6 years: months=32 > 12 >= quarters=11 -> quarter rung
        stamps = [dt.datetime(2023, 1, 20), dt.datetime(2024, 2, 2),
                  dt.datetime(2025, 8, 10)]
        got = self._run(spark, self._docs(spark, stamps), buckets=12)
        assert len(got) == 11
        assert got[0] == ("2023-01-01 00:00:00", 1)
        assert ("2024-01-01 00:00:00", 1) in got
        assert got[-1] == ("2025-07-01 00:00:00", 1)
        # ~3.5 weeks with buckets=5: days=25 > 5 >= weeks=4 -> Monday weeks
        stamps = [dt.datetime(2024, 1, 2), dt.datetime(2024, 1, 10),
                  dt.datetime(2024, 1, 26)]
        got = self._run(spark, self._docs(spark, stamps), buckets=5)
        assert got == [
            ("2024-01-01 00:00:00", 1), ("2024-01-08 00:00:00", 1),
            ("2024-01-15 00:00:00", 0), ("2024-01-22 00:00:00", 1),
        ]

    def test_multi_year_rung(self, spark):
        import datetime as dt

        stamps = [dt.datetime(1998, 6, 1), dt.datetime(2007, 3, 3),
                  dt.datetime(2024, 12, 31)]
        # years = 27 > 10 >= ceil by 5y: 1995,2005,2020 -> 6 buckets
        got = self._run(spark, self._docs(spark, stamps), buckets=10)
        assert got[0] == ("1995-01-01 00:00:00", 1)
        assert got[-1] == ("2020-01-01 00:00:00", 1)
        assert len(got) == 6 and sum(c for _, c in got) == 3

    def test_oracle_twin_matches_on_calendar_data(self, spark, tmp_path):
        import datetime as dt

        import duckdb

        from elasticsearch_spark.aggset import _auto_dh_oracle
        from elasticsearch_spark.oracle import TRANSCRIPTS_CTE

        stamps = [
            dt.datetime(2024, 1, 15, 3), dt.datetime(2024, 2, 29, 23),
            dt.datetime(2024, 3, 1, 0), dt.datetime(2024, 6, 10, 1),
            dt.datetime(2024, 8, 21, 6), dt.datetime(2023, 11, 5, 5),
        ]
        docs = self._docs(spark, stamps)
        p = str(tmp_path / "synth.parquet")
        docs.write.parquet(p)
        sql = _auto_dh_oracle().replace(
            TRANSCRIPTS_CTE, f"WITH transcripts AS (SELECT * FROM '{p}/*.parquet')", 1
        )
        con = duckdb.connect()
        want = [(str(r[0]), int(r[1])) for r in con.execute(sql).fetchall()]
        got = self._run(spark, docs, buckets=10)
        assert got == want


class TestParentJoin:
    """Parent-join family (modules/parent-join: HasChildQueryBuilder.java,
    HasParentQueryBuilder.java, ParentIdQueryBuilder.java). Join-field analog:
    parent doc = conversation opener (turn_idx 0), children = later turns,
    routing key = conv_id."""

    def _docs(self, spark):
        rows = []
        for c, texts in [
            ("c1", ["opener spark", "alpha beta", "alpha", "gamma"]),
            ("c2", ["opener other", "alpha", "delta", "delta"]),
            ("c3", ["opener spark fast", "gamma", "gamma", "gamma"]),
        ]:
            rows += [(c, i, t) for i, t in enumerate(texts)]
        return spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")

    def test_has_child_returns_parents_only(self, spark):
        docs = self._docs(spark)
        qd = {"has_child": {"type": "turn", "query": {"match": {"text": "alpha"}}}}
        got = Q.search(docs, qd, KEYS, k=10).collect()
        assert {(r.conv_id, r.turn_idx) for r in got} == {("c1", 0), ("c2", 0)}
        assert all(r.score == 1.0 for r in got)  # score_mode none -> constant

    def test_has_child_min_children(self, spark):
        docs = self._docs(spark)
        qd = {
            "has_child": {
                "type": "turn",
                "query": {"match": {"text": "alpha"}},
                "min_children": 2,
            }
        }
        got = Q.search(docs, qd, KEYS, k=10).collect()
        assert {(r.conv_id, r.turn_idx) for r in got} == {("c1", 0)}

    def test_has_child_sum_mode(self, spark):
        docs = self._docs(spark)
        qd = {
            "has_child": {
                "type": "turn",
                "query": {"match": {"text": "gamma"}},
                "score_mode": "sum",
            }
        }
        got = {r.conv_id: r.score for r in Q.search(docs, qd, KEYS, k=10).collect()}
        # c3 has 3 matching children, c1 has 1 -> sum strictly larger for c3
        assert set(got) == {"c1", "c3"} and got["c3"] > got["c1"]

    def test_has_parent_children_only(self, spark):
        docs = self._docs(spark)
        qd = {
            "has_parent": {
                "parent_type": "conversation",
                "query": {"match": {"text": "spark"}},
            }
        }
        got = Q.search(docs, qd, KEYS, k=10).collect()
        convs = {r.conv_id for r in got}
        assert convs == {"c1", "c3"}
        assert all(r.turn_idx > 0 for r in got)
        assert all(r.score == 1.0 for r in got)  # score=false default

    def test_has_parent_score_propagates(self, spark):
        docs = self._docs(spark)
        qd = {
            "has_parent": {
                "parent_type": "conversation",
                "query": {"match": {"text": "spark fast"}},
                "score": True,
            }
        }
        got = {(r.conv_id, r.turn_idx): r.score for r in Q.search(docs, qd, KEYS, k=10).collect()}
        # every child of one conv carries exactly its parent's score
        c1 = {v for (c, _), v in got.items() if c == "c1"}
        c3 = {v for (c, _), v in got.items() if c == "c3"}
        assert len(c1) == 1 and len(c3) == 1
        assert c3 != c1  # 'fast' matches only c3's opener -> different score

    def test_parent_id(self, spark):
        docs = self._docs(spark)
        qd = {"parent_id": {"type": "turn", "id": "c2"}}
        got = Q.search(docs, qd, KEYS, k=10).collect()
        assert {(r.conv_id, r.turn_idx) for r in got} == {("c2", 1), ("c2", 2), ("c2", 3)}

    def test_bad_score_mode_raises(self, spark):
        docs = self._docs(spark)
        qd = {"has_child": {"type": "turn", "query": {"match_all": {}}, "score_mode": "geo"}}
        with pytest.raises(ValueError, match="score_mode"):
            Q.search(docs, qd, KEYS, k=10)


class TestPainless:
    """Painless expression subset -> SQL (functions/painless.py),
    ref modules/lang-painless (PainlessScriptEngine), ScriptQueryBuilder."""

    def test_doc_values_and_params(self):
        from elasticsearch_spark.functions import painless

        sql = painless.translate(
            "doc['turn_idx'].value * params.w + params['b']", {"w": 2, "b": 0.5}
        )
        assert sql == "turn_idx * 2 + 0.5"

    def test_math_and_ops(self):
        from elasticsearch_spark.functions import painless

        sql = painless.translate(
            "Math.log(1 + doc['x'].value) > 2 && doc['y'].value != 3", {}
        )
        assert sql == "ln ( 1 + x ) > 2 AND y <> 3"

    def test_ternary(self):
        from elasticsearch_spark.functions import painless

        sql = painless.translate("doc['x'].value > 1 ? 2.0 : 0.5", {})
        assert sql == "CASE WHEN x > 1 THEN 2.0 ELSE 0.5 END"

    def test_nested_ternary_right_assoc(self):
        from elasticsearch_spark.functions import painless

        sql = painless.translate("doc['x'].value > 1 ? 2 : doc['x'].value > 0 ? 1 : 0", {})
        assert sql == "CASE WHEN x > 1 THEN 2 ELSE CASE WHEN x > 0 THEN 1 ELSE 0 END END"

    def test_missing_param_raises(self):
        from elasticsearch_spark.functions import painless

        with pytest.raises(ValueError, match="missing param"):
            painless.translate("params.nope", {})

    def test_unsupported_raises(self):
        from elasticsearch_spark.functions import painless

        with pytest.raises(ValueError):
            painless.translate("doc['x'].value.length()", {})
        with pytest.raises(ValueError, match="Math.tan"):
            painless.translate("Math.tan(1)", {})

    def test_sql_passthrough_string(self):
        from elasticsearch_spark.functions import painless

        assert painless.script_sql("turn_idx % 2 = 0") == "turn_idx % 2 = 0"

    def test_script_query_engine_vs_duck(self, spark, transcripts, sf_dir):
        import duckdb

        from elasticsearch_spark import oracle
        from elasticsearch_spark.queryset import SEARCH_QUERIES

        qd = SEARCH_QUERIES["script_query_topk"]
        got = {
            (r.conv_id, r.turn_idx, r.score)
            for r in Q.search(transcripts, qd, KEYS, k=10).collect()
        }
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
        want = {
            (c, int(t), float(s))
            for c, t, s in con.execute(oracle.search_sql(qd, 10)).fetchall()
        }
        assert got == want

    def test_function_score_painless_both_paths(self, spark, transcripts, sf_dir, tmp_path):
        import duckdb

        from elasticsearch_spark import oracle
        from elasticsearch_spark.operators import index_build, topk
        from elasticsearch_spark.queryset import SEARCH_QUERIES

        qd = SEARCH_QUERIES["function_score_painless"]
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
        want = {
            (c, int(t), round(float(s), 4))
            for c, t, s in con.execute(oracle.search_sql(qd, 10)).fetchall()
        }
        got = {
            (r.conv_id, r.turn_idx, round(r.score, 4))
            for r in Q.search(transcripts, qd, KEYS, k=10).collect()
        }
        assert got == want
        store = index_build.build_index(spark, transcripts, str(tmp_path / "ix"), n_slices=1, partitions=4)
        got_ix = {
            (r.conv_id, r.turn_idx, round(r.score, 4))
            for r in topk.search_indexed(spark, store, qd, k=10).collect()
        }
        assert got_ix == want


class TestRankFeatureWrapper:
    """rank_feature (mapper-extras RankFeatureQueryBuilder.java) and wrapper
    (WrapperQueryBuilder.java)."""

    def _docs(self, spark):
        return spark.createDataFrame(
            [("c1", 0, "x"), ("c1", 4, "x"), ("c1", 12, "spark"), ("c2", 6, "y")],
            "conv_id string, turn_idx int, text string",
        )

    def test_saturation(self, spark):
        docs = self._docs(spark)
        qd = {"rank_feature": {"field": "turn_idx", "saturation": {"pivot": 4}}}
        got = {(r.conv_id, r.turn_idx): r.score for r in Q.search(docs, qd, KEYS, k=10).collect()}
        # turn_idx 0 excluded (non-positive feature); S/(S+pivot)
        assert got == {
            ("c1", 4): pytest.approx(4 / 8),
            ("c1", 12): pytest.approx(12 / 16),
            ("c2", 6): pytest.approx(6 / 10),
        }

    def test_log_and_sigmoid(self, spark):
        import math

        docs = self._docs(spark)
        # top_k rounds scores to 4dp (deterministic tie-break contract)
        qd = {"rank_feature": {"field": "turn_idx", "log": {"scaling_factor": 2}}}
        got = {r.turn_idx: r.score for r in Q.search(docs, qd, KEYS, k=10).collect()}
        assert got[12] == round(math.log(14), 4)
        qd = {"rank_feature": {"field": "turn_idx", "sigmoid": {"pivot": 6, "exponent": 2.0}}}
        got = {r.turn_idx: r.score for r in Q.search(docs, qd, KEYS, k=10).collect()}
        assert got[6] == round(0.5, 4)
        assert got[12] == round(144 / (144 + 36), 4)

    def test_validation(self, spark):
        docs = self._docs(spark)
        with pytest.raises(ValueError, match="exactly one"):
            Q.search(docs, {"rank_feature": {"field": "turn_idx"}}, KEYS, k=10)
        with pytest.raises(ValueError, match="pivot"):
            Q.search(docs, {"rank_feature": {"field": "turn_idx", "saturation": {}}}, KEYS, k=10)

    def test_wrapper_decodes(self, spark):
        import base64

        inner = {"term": {"text": "spark"}}
        enc = base64.b64encode(b'{"term": {"text": "spark"}}').decode()
        assert Q.normalize_query({"wrapper": {"query": enc}}) == inner


class TestTermsLookup:
    """terms lookup (indices/TermsLookup.java:43-62): GET the referenced doc,
    use its path field's values as the terms list."""

    def test_lookup_resolves_and_filters(self, spark):
        docs = spark.createDataFrame(
            [("c1", 0, "x", "search"), ("c1", 1, "y", "code"),
             ("c2", 0, "z", "search"), ("c2", 1, "w", "browser")],
            "conv_id string, turn_idx int, text string, tool string",
        )
        qd = {"bool": {"filter": [
            {"terms": {"tool": {"index": "t", "id": "c1#0", "path": "tool"}}}
        ]}}
        got = {(r.conv_id, r.turn_idx) for r in Q.search(docs, qd, KEYS, k=10).collect()}
        assert got == {("c1", 0), ("c2", 0)}  # tool == 'search'

    def test_missing_doc_matches_nothing(self, spark):
        docs = spark.createDataFrame(
            [("c1", 0, "x", "search")],
            "conv_id string, turn_idx int, text string, tool string",
        )
        qd = {"bool": {"filter": [
            {"terms": {"tool": {"index": "t", "id": "nope#9", "path": "tool"}}}
        ]}}
        assert Q.search(docs, qd, KEYS, k=10).count() == 0

    def test_scoring_context_raises(self, spark):
        docs = spark.createDataFrame(
            [("c1", 0, "x", "search")],
            "conv_id string, turn_idx int, text string, tool string",
        )
        qd = {"terms": {"tool": {"index": "t", "id": "c1#0", "path": "tool"}}}
        with pytest.raises(ValueError, match="filter-context"):
            Q.search(docs, qd, KEYS, k=10)


class TestPainlessParenTernary:
    def test_parenthesized_ternary(self):
        from elasticsearch_spark.functions import painless

        sql = painless.translate("(doc['x'].value > 1 ? 2 : 3) * params.w", {"w": 2})
        assert sql == "( CASE WHEN x > 1 THEN 2 ELSE 3 END ) * 2"

    def test_unbalanced_still_raises(self):
        from elasticsearch_spark.functions import painless

        with pytest.raises(ValueError, match="ternary"):
            painless.translate("doc['x'].value ? 1", {})
