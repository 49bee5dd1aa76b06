"""Round-5 operators: bounded multi-term expansion (max_expansions /
max_clause_count), the last known 100x failure mode from round 4's VERDICT.

ES parity: indices.query.bool.max_clause_count (1024, set via
BooleanQuery.setMaxClauseCount at SearchModule.java:792) makes broad
prefix/wildcard/regexp rewrites raise TooManyClauses; fuzzy and
match_phrase_prefix truncate silently at max_expansions=50
(FuzzyQueryBuilder.java / MatchQuery.java); Lucene Intervals.prefix caps at
128 (Intervals.DEFAULT_MAX_EXPANSIONS) with IllegalStateException.

The critical scale property: the expansion collect is LIMIT-ed *inside* the
Spark job, so the driver never materializes more than cap+1 terms no matter
how large the term dictionary is.
"""

from __future__ import annotations

import pytest

KEYS = ["conv_id", "turn_idx"]


@pytest.fixture(scope="module")
def store(spark, transcripts, tmp_path_factory):
    from elasticsearch_spark.operators import index_build

    root = str(tmp_path_factory.mktemp("r5idx"))
    return index_build.build_index(spark, transcripts, root, n_slices=2, partitions=4)


class TestExpansionCaps:
    def test_wildcard_past_clause_count_raises(self, spark, store):
        from elasticsearch_spark.operators import topk

        snap = store.snapshot()
        # the sf0.001 dictionary has ~30 terms; cap below that must raise
        with pytest.raises(topk.TooManyClauses, match="max_clause_count"):
            topk.expand_terms(
                spark, store, snap, "text", "wildcard", "*", max_clause_count=5
            )

    def test_max_expansions_truncates_in_term_order(self, spark, store):
        from elasticsearch_spark.operators import topk

        snap = store.snapshot()
        full = topk.expand_terms(
            spark, store, snap, "text", "prefix", "", max_clause_count=100_000
        )
        assert len(full) > 3
        trunc = topk.expand_terms(
            spark, store, snap, "text", "prefix", "", max_expansions=3
        )
        # ES/Lucene keep the first max_expansions terms in term order
        assert trunc == sorted(full)[:3]

    def test_driver_collect_is_bounded_by_plan_limit(self, spark, store):
        """The bound must be a LIMIT in the plan (TakeOrderedAndProject /
        CollectLimit), not a post-collect slice — that is what keeps a broad
        wildcard from shipping a 10^8-term dictionary to the driver."""
        import inspect

        from elasticsearch_spark.operators import topk

        src = inspect.getsource(topk.expand_terms)
        assert ".limit(cap + 1)" in src
        # and no unbounded collect remains
        assert "df.distinct().collect()" not in src

    def test_search_wildcard_raises_loudly_when_capped(self, spark, store, monkeypatch):
        from elasticsearch_spark.operators import topk

        monkeypatch.setattr(topk, "MAX_CLAUSE_COUNT", 5)
        with pytest.raises(topk.TooManyClauses):
            topk.search_indexed(spark, store, {"wildcard": {"text": "*"}}, k=5)

    def test_fuzzy_honors_query_max_expansions(self, spark, store, transcripts):
        """fuzzy with a huge edit distance matches the whole dictionary; with
        max_expansions=2 only the first two terms survive — and the query
        still runs (silent truncation, not an error), per ES semantics."""
        from elasticsearch_spark.operators import topk

        qd = {"fuzzy": {"text": {"value": "query", "fuzziness": 2,
                                 "max_expansions": 2}}}
        out = topk.search_indexed(spark, store, qd, k=5)
        assert out.count() > 0

    def test_existing_narrow_expansions_unchanged(self, spark, store, transcripts):
        """Default caps must not change any registered fixture: narrow
        patterns expand far below 50/1024 so indexed == logical still."""
        from elasticsearch_spark.operators import topk
        from elasticsearch_spark.plans import query_dsl as Q

        for qd in (
            {"prefix": {"text": "qu"}},
            {"wildcard": {"text": "ta*"}},
            {"fuzzy": {"text": {"value": "quary", "fuzziness": 1}}},
            {"match_phrase_prefix": {"text": "table ha"}},
        ):
            a = sorted(
                tuple(r) for r in topk.search_indexed(spark, store, qd, k=10)
                .select(*KEYS).collect()
            )
            b = sorted(
                tuple(r) for r in Q.search(transcripts, qd, KEYS, k=10)
                .select(*KEYS).collect()
            )
            assert a == b, qd

    def test_intervals_prefix_step_cap(self, spark, store, monkeypatch):
        from elasticsearch_spark.operators import topk

        monkeypatch.setattr(topk, "INTERVALS_MAX_EXPANSIONS", 0)
        qd = {
            "span_near": {
                "clauses": [
                    {"span_term": {"text": "hash"}},
                    {"span_multi": {"match": {"prefix": {"text": "ta"}}}},
                ],
                "slop": 2,
                "in_order": True,
            }
        }
        with pytest.raises(topk.TooManyClauses):
            topk.search_indexed(spark, store, qd, k=5)


class TestMultiWordSynonyms:
    """Index-time token-graph flattening (SynonymGraphTokenFilterFactory +
    FlattenGraphFilter analog): multi-word rules rewrite the token stream
    greedily longest-first; outputs never re-match later rules. Executor
    expression and driver twin must agree token-for-token."""

    CHAIN = {
        "tokenizer": "standard",
        "filters": [
            "lowercase",
            {"type": "synonym",
             "synonyms": ["ny, new york", "hash table => hashmap",
                          "usa => united states"]},
        ],
    }

    CASES = [
        ("Visit New York and the NY office",
         ["visit", "ny", "new", "york", "and", "the", "ny", "new", "york",
          "office"]),
        ("a hash table beats a tree", ["a", "hashmap", "beats", "a", "tree"]),
        ("USA", ["united", "states"]),
        # adjacent matches share a boundary space — both must fire
        ("new york new york",
         ["ny", "new", "york", "ny", "new", "york"]),
        # replaced output must NOT re-match: the york emitted for the first
        # ny cannot combine with the following plain "new" text
        ("new new york york", ["new", "ny", "new", "york", "york"]),
        ("", []),
        ("no synonyms here", ["no", "synonyms", "here"]),
    ]

    def test_driver_twin(self):
        from elasticsearch_spark.functions import analyzers as A

        for text, want in self.CASES:
            assert A.analyze_text(text, self.CHAIN) == want, text

    def test_executor_parity(self, spark):
        from elasticsearch_spark.functions import analyzers as A

        df = spark.createDataFrame([(t,) for t, _ in self.CASES], "text string")
        rows = df.select(A.tokens("text", self.CHAIN).alias("t")).collect()
        for (text, want), r in zip(self.CASES, rows):
            assert list(r.t) == want, text

    def test_expand_false_multiword(self):
        from elasticsearch_spark.functions import analyzers as A

        chain = {
            "tokenizer": "standard",
            "filters": [
                "lowercase",
                {"type": "synonym", "synonyms": ["ny, new york"],
                 "expand": False},
            ],
        }
        # contract to the FIRST variant's tokens (ES expand=false)
        assert A.analyze_text("new york calling", chain) == ["ny", "calling"]
        assert A.analyze_text("ny calling", chain) == ["ny", "calling"]


class TestStemmerOverrideKeywordProtection:
    """ADVICE r4 #3: Lucene's StemmerOverrideFilter honors KeywordAttribute —
    a keyword_marker'd token must pass through a later stemmer_override."""

    CHAIN = {
        "tokenizer": "standard",
        "filters": [
            "lowercase",
            {"type": "keyword_marker", "keywords": ["running"]},
            {"type": "stemmer_override",
             "rules": ["running => sprint", "jumped => jump"]},
        ],
    }

    def test_twin_and_executor(self, spark):
        from elasticsearch_spark.functions import analyzers as A

        want = ["running", "jump", "runs"]
        assert A.analyze_text("Running jumped runs", self.CHAIN) == want
        df = spark.createDataFrame([("Running jumped runs",)], "text string")
        assert list(df.select(A.tokens("text", self.CHAIN).alias("t"))
                    .collect()[0].t) == want


class TestTokenBoundaryFragmenter:
    """SimpleFragmenter parity (round 5): fragment windows break at token
    boundaries, so a tag can never split a term and no term occurrence is
    lost to a window edge — the failure mode of fixed-char windows."""

    def test_no_occurrence_lost_at_boundaries(self, spark):
        import re

        from elasticsearch_spark.functions import highlight as H

        # terms positioned to straddle every nominal 16-char boundary
        texts = [
            "abcdefghijk spark lmnopqr spark st spark uv",
            "spark" * 1 + " " + "x" * 40 + " spark",
            "a spark b spark c spark d spark e spark f",
            "xxxxxxxxxxxxxxxspark yyyyyyyyyyyyyyyspark",
        ]
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        out = df.select(
            "text",
            H.highlight_fragments_expr(
                "text", ["spark"], pre="<b>", post="</b>", fragment_size=16,
                number_of_fragments=100,
            ).alias("f"),
        ).collect()
        for r in out:
            want = len(re.findall(r"\bspark\b", r.text))
            got = r.f.count("<b>spark</b>")
            assert got == want, (r.text, r.f)
            # and no partial tag ever appears
            assert r.f.count("<b>") == r.f.count("</b>") == got

    def test_windows_break_outside_words(self, spark):
        from elasticsearch_spark.functions import highlight as H
        from pyspark.sql import functions as F

        text = "alpha bravo charlie spark delta echo foxtrot spark golf"
        df = spark.createDataFrame([(text,)], "text string")
        frags = df.select(
            H.highlight_fragments_expr(
                "text", ["spark"], pre="[", post="]", fragment_size=12,
                number_of_fragments=100, sep="|",
            ).alias("f")
        ).collect()[0].f
        for frag in frags.split("|"):
            # every fragment is a sequence of whole tokens of the original
            for tok in frag.replace("[", "").replace("]", "").split():
                assert tok in text.split(), (tok, frag)


class TestKeywordDfFromDictionary:
    """VERDICT r4 'what's wrong' #2: scoring-context keyword df must come
    from the keyword subfield's term dictionary (point lookup), never an
    O(corpus) docs-column scan, on current stores."""

    def test_keyword_idf_leaf_reads_dictionary_not_docs(
        self, spark, store, transcripts, monkeypatch
    ):
        from elasticsearch_spark.operators import topk

        snap = store.snapshot()
        low = topk._Lowerer(spark, store, snap, lambda: transcripts)

        def boom(*a, **k):
            raise AssertionError("keyword df took a docs-column scan")

        # instance-level patch: only self.docs is poisoned; the term
        # dictionary reads (driver-side pyarrow seeks) are untouched
        monkeypatch.setattr(transcripts, "where", boom)
        leaf = low.keyword_idf_leaf("role", ["user", "assistant"])
        # df resolved from the dictionary: the CASE channel has real idf arms
        assert leaf.const is None or leaf.const > 0

    def test_keyword_idf_leaf_matches_docs_scan_counts(self, spark, store, transcripts):
        """Dictionary df == docs-count df on a store without deletes, so the
        two sources are interchangeable where both are legal."""
        from elasticsearch_spark.operators import topk

        snap = store.snapshot()
        kwf = topk.kw_field("role")
        stats = topk.term_stats_lookup(
            spark, store, snap, [(kwf, "user"), (kwf, "assistant")]
        )
        counts = {
            r[0]: r[1]
            for r in transcripts.groupBy("role").count().collect()
        }
        assert stats[(kwf, "user")] == counts["user"]
        assert stats[(kwf, "assistant")] == counts["assistant"]


class TestSiblingPipelineAggs:
    """extended_stats_bucket / percentiles_bucket — the two reference
    pipeline aggregations that had no analog entering round 5 (reg
    SearchModule.java:479-568)."""

    BODY = {
        "aggs": {
            "role": {
                "terms": {"field": "role", "size": 10},
                "aggs": {
                    "sum_turn": {"sum": {"field": "turn_idx"}},
                    "est": {"extended_stats_bucket": {"buckets_path": "sum_turn"}},
                    "pb": {"percentiles_bucket": {"buckets_path": "sum_turn",
                                                  "percents": [25, 50, 75]}},
                },
            }
        }
    }

    def test_extended_stats_bucket_matches_numpy(self, spark, transcripts):
        import numpy as np

        from elasticsearch_spark.operators import aggs

        out = aggs.aggregate(transcripts, self.BODY).toPandas()
        vals = np.sort(out["sum_turn"].to_numpy(dtype=float))
        n = len(vals)
        avg = vals.sum() / n
        var = (vals ** 2).sum() / n - avg * avg
        row = out.iloc[0]
        assert row["est_count"] == n
        assert row["est_min"] == vals.min() and row["est_max"] == vals.max()
        assert abs(row["est_avg"] - avg) < 1e-9
        assert abs(row["est_variance"] - var) < 1e-6
        assert abs(row["est_std_deviation"] - var ** 0.5) < 1e-6
        assert abs(row["est_std_upper"] - (avg + 2 * var ** 0.5)) < 1e-6
        # percentiles_bucket: ES nearest-rank round(p/100*(n-1)), no interp
        for p in (25, 50, 75):
            idx = int(round(p / 100.0 * (n - 1)))
            assert row[f"pb_p{p}"] == vals[idx]

    def test_single_bucket_percentiles(self, spark, transcripts):
        """n=1 edge: every percentile is the single value (index 0)."""
        from elasticsearch_spark.operators import aggs

        body = {
            "aggs": {
                "role": {
                    "terms": {"field": "role", "size": 1},
                    "aggs": {
                        "sum_turn": {"sum": {"field": "turn_idx"}},
                        "pb": {"percentiles_bucket": {"buckets_path": "sum_turn",
                                                      "percents": [1, 99]}},
                    },
                }
            }
        }
        out = aggs.aggregate(transcripts, body).toPandas()
        assert len(out) == 1
        assert out.iloc[0]["pb_p1"] == out.iloc[0]["sum_turn"]
        assert out.iloc[0]["pb_p99"] == out.iloc[0]["sum_turn"]


class TestScriptSortNulls:
    """script_sort null placement: Spark asc defaults NULLS FIRST while the
    DuckDB oracle defaults NULLS LAST — both sides now pin NULLS LAST
    (ADVICE r4), so a script that evaluates to NULL on some rows agrees."""

    SCRIPT = "case when turn_idx % 2 = 0 then cast(turn_idx as double) end"
    QUERY = {"match": {"text": "spark"}}

    def _compare(self, spark, sf_dir, order):
        import duckdb

        from elasticsearch_spark import oracle
        from elasticsearch_spark.operators import cursor
        from elasticsearch_spark.sources import transcripts as TR

        got = [
            (r.conv_id, r.turn_idx, r.sort_value)
            for r in cursor.script_sort(
                TR.transcripts_view(spark, sf_dir), self.QUERY, KEYS,
                self.SCRIPT, order, 500,
            ).collect()
        ]
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
        )
        want = [
            (c, int(t), None if v is None else float(v))
            for c, t, v in con.execute(
                oracle.script_sort_sql(self.QUERY, self.SCRIPT, order, 500)
            ).fetchall()
        ]
        assert got == want
        # non-vacuous: the page must actually contain NULL sort values
        assert any(v is None for _, _, v in got)

    def test_asc_nulls_agree(self, spark, sf_dir):
        self._compare(spark, sf_dir, "asc")

    def test_desc_nulls_agree(self, spark, sf_dir):
        self._compare(spark, sf_dir, "desc")


class TestFragmenterFuzz:
    """Random-text property fuzz for the token-boundary fragmenter: on any
    text, (a) every query-term occurrence is tagged in exactly one kept
    fragment (none lost to a window edge, none split), (b) stripping tags
    and joining fragments in position order reproduces a subsequence of
    contiguous windows of the original text, (c) the engine expr and the
    DuckDB twin agree byte-for-byte."""

    def test_random_texts(self, spark):
        import random
        import re

        import duckdb

        from elasticsearch_spark.functions import highlight as H

        rng = random.Random(52)
        words = ["cat", "dog", "x", "yy", "zzz", "catalog", "concat", "a"]
        texts = []
        for _ in range(60):
            n = rng.randint(0, 14)
            sep = lambda: "" if rng.random() < 0.15 else " "  # noqa: E731
            t = words[rng.randrange(len(words))] if n else ""
            for _ in range(n):
                t += sep() + rng.choice(words)
            texts.append(t)
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "i int, text string"
        )
        opts = dict(fragment_size=11, number_of_fragments=100, pre="[", post="]")
        got = {
            r.i: r.f
            for r in df.select(
                "i", H.highlight_fragments_expr("text", ["cat", "dog"], **opts).alias("f")
            ).collect()
        }
        con = duckdb.connect()
        con.execute("CREATE TABLE t (i int, text varchar)")
        con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(texts)))
        sql = H.highlight_fragments_sql("text", ["cat", "dog"], **opts)
        duck = dict(con.execute(f"SELECT i, {sql} FROM t").fetchall())
        for i, t in enumerate(texts):
            assert got[i] == duck[i], (t, got[i], duck[i])
            frags = got[i].split(" … ") if got[i] else []
            want = len(re.findall(r"\b(cat|dog)\b", t))
            tagged = sum(f.count("[") for f in frags)
            assert tagged == want, (t, got[i])
            for f in frags:
                assert f.count("[") == f.count("]")
                raw = f.replace("[", "").replace("]", "")
                # every fragment is a contiguous substring of the original
                assert raw in t, (t, f)


class TestPercolateScanArmAnyKind:
    """The scan arm makes percolate closed over the whole query DSL: any
    stored query the logical compiler can run — span/intervals/fuzzy/
    phrase-prefix shapes with no extractable-term fast path — evaluates
    exactly over the percolated batch (the MemoryIndex analog), alongside
    term-join fast paths for the common kinds."""

    def _docs(self, spark):
        rows = [
            ("c0", 0, "merge join hash table"),
            ("c1", 0, "join the big table"),
            ("c2", 0, "tablets are not tables"),
            ("c3", 0, "nothing relevant"),
        ]
        return spark.createDataFrame(
            rows, "conv_id string, turn_idx int, text string"
        )

    def test_span_intervals_fuzzy_stored(self, spark):
        from elasticsearch_spark.operators import percolate as P

        stored = {
            "span": {
                "span_near": {
                    "clauses": [
                        {"span_term": {"text": "join"}},
                        {"span_term": {"text": "table"}},
                    ],
                    "slop": 2,
                    "in_order": True,
                }
            },
            "ivl": {
                "intervals": {
                    "text": {"any_of": {"intervals": [
                        {"match": {"query": "hash"}},
                        {"match": {"query": "tablets"}},
                    ]}}
                }
            },
            "fz": {"fuzzy": {"text": {"value": "tible", "fuzziness": 1}}},
        }
        got = sorted(
            (r.conv_id, r.query_id)
            for r in P.percolate(self._docs(spark), stored).collect()
        )
        # span: c0 (join@1..table@3 slop 1), c1 (slop 2); c2 has no 'table'
        # token ('tables'); ivl: c0 hash, c2 tablets; fz: 'tible'~1 matches
        # 'table' in c0/c1 (not 'tables', distance 2)
        assert got == [
            ("c0", "fz"), ("c0", "ivl"), ("c0", "span"),
            ("c1", "fz"), ("c1", "span"), ("c2", "ivl"),
        ], got


class TestMultiMatchCrossFields:
    """multi_match type=cross_fields (MultiMatchQuery.java
    CrossFieldsQueryBuilder -> Lucene BlendedTermQuery): per term, per-field
    BM25 with the BLENDED idf (df = max across the field group), dis_max
    across fields (default tie 0.0), match-style term combine. Hand-derived
    expectations on a crafted two-field corpus; logical == indexed."""

    ROWS = [
        # (text, tool): 'search' is rare in text (1 doc) but common in tool
        # (3 docs) -> the blend must use tool's df; 'join' lives in text only
        ("join the club", "search"),
        ("search everything join join", "code"),
        ("plain words here", "search"),
        ("unrelated", "search"),
    ]

    def _exp(self, qterms, msm, tie=0.0):
        import math

        toks = [
            {"text": t.split(), "tool": o.split()} for t, o in self.ROWS
        ]
        n = len(toks)
        avg = {
            f: sum(len(d[f]) for d in toks) / n for f in ("text", "tool")
        }
        out = {}
        for i, d in enumerate(toks):
            total, matched = 0.0, 0
            for t in qterms:
                bdf = max(
                    sum(1 for dd in toks if t in dd[f]) for f in ("text", "tool")
                )
                if bdf == 0:
                    continue
                bidf = math.log(1 + (n - bdf + 0.5) / (bdf + 0.5))
                fs = []
                for f in ("text", "tool"):
                    tf = d[f].count(t)
                    if tf:
                        norm = 1.2 * (0.25 + 0.75 * len(d[f]) / avg[f])
                        fs.append(bidf * 2.2 * tf / (tf + norm))
                if fs:
                    matched += 1
                    total += max(fs) + tie * (sum(fs) - max(fs))
            if matched >= msm:
                out[i] = round(total, 4)
        return out

    def _got(self, spark, qd):
        import datetime

        from elasticsearch_spark.operators import index_build, topk
        from elasticsearch_spark.plans import query_dsl as Q

        df = spark.createDataFrame(
            [("c0", i, "user", t, o, datetime.datetime(2024, 1, 1))
             for i, (t, o) in enumerate(self.ROWS)],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp",
        )
        gl = {r.turn_idx: round(r.score, 4)
              for r in Q.search(df, qd, KEYS, k=100).collect()}
        import tempfile

        store = index_build.build_index(
            spark, df, tempfile.mkdtemp(prefix="xf_"), n_slices=1, partitions=2
        )
        gi = {r.turn_idx: round(r.score, 4)
              for r in topk.search_indexed(spark, store, qd, k=100).collect()}
        assert gl == gi, (gl, gi)
        return gl

    def test_blended_idf_or(self, spark):
        qd = {"multi_match": {"query": "search join", "fields": ["text", "tool"],
                              "type": "cross_fields"}}
        assert self._got(spark, qd) == self._exp(["search", "join"], 1)

    def test_operator_and_and_tie(self, spark):
        qd = {"multi_match": {"query": "search join", "fields": ["text", "tool"],
                              "type": "cross_fields", "operator": "and",
                              "tie_breaker": 0.4}}
        assert self._got(spark, qd) == self._exp(["search", "join"], 2, tie=0.4)
