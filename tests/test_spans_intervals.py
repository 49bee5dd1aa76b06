"""Intervals + span family: indexed kernel == logical path == hand-derived
matches on a crafted corpus (positions algebra, IntervalQueryBuilder.java /
Span*QueryBuilder.java reg SearchModule.java:803-813,835)."""

from __future__ import annotations

import datetime

import pytest

from elasticsearch_spark.operators import index_build, topk
from elasticsearch_spark.plans import query_dsl as Q
from elasticsearch_spark.queryset import INTERVALS_QUERIES, SPAN_QUERIES

KEYS = ["conv_id", "turn_idx"]

ALL_QUERIES = list(INTERVALS_QUERIES.values()) + list(SPAN_QUERIES.values())


@pytest.fixture(scope="module")
def store(spark, transcripts, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("spans_idx"))
    return index_build.build_index(spark, transcripts, root, n_slices=1, partitions=4)


@pytest.mark.parametrize("qi", range(len(ALL_QUERIES)))
def test_indexed_equals_logical(spark, transcripts, store, qi):
    qd = ALL_QUERIES[qi]
    want = [tuple(r) for r in Q.search(transcripts, qd, KEYS, k=10).collect()]
    got = [tuple(r) for r in topk.search_indexed(spark, store, qd, k=10).collect()]
    assert got == want


# ---- crafted corpus: positions are hand-checkable ----
TEXTS = {
    0: "alpha beta gamma delta",          # alpha..delta ordered, gaps 0
    1: "beta alpha x y gamma",            # alpha->gamma gap 2, beta before alpha
    2: "alpha x x x gamma",               # alpha->gamma gap 3
    3: "gamma beta alpha",                # reverse order
    4: "alpha gamma alpha zeta",          # multiple starts
    5: "alpha beta hash gamma",           # hash inside alpha..gamma window
    6: "hash alpha beta gamma",           # hash before window
    7: "alpha",                           # single term at position 0
    8: "x y z alpha",                     # alpha at position 3
}


@pytest.fixture(scope="module")
def tiny_store(spark, tmp_path_factory):
    rows = [
        ("c0", i, "user", t, "search", datetime.datetime(2024, 1, 1, 0, 0, i))
        for i, t in TEXTS.items()
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    root = str(tmp_path_factory.mktemp("tiny_spans"))
    store = index_build.build_index(spark, df, root, n_slices=1, partitions=2)
    return df, store


def _hits(spark, tiny_store, qd):
    df, store = tiny_store
    logical = sorted(r.turn_idx for r in Q.search(df, qd, KEYS, k=100).collect())
    indexed = sorted(
        r.turn_idx for r in topk.search_indexed(spark, store, qd, k=100).collect()
    )
    assert logical == indexed
    return indexed


def test_ordered_max_gaps(spark, tiny_store):
    qd = {"intervals": {"text": {"match": {"query": "alpha gamma", "ordered": True, "max_gaps": 2}}}}
    # widths: doc0 gap 1, doc1 gap 2, doc2 gap 3 (out), doc3 reverse (out),
    # doc4 gap 0, doc5 gap 2, doc6 gap 1
    assert _hits(spark, tiny_store, qd) == [0, 1, 4, 5, 6]


def test_unordered_pair(spark, tiny_store):
    qd = {"intervals": {"text": {"match": {"query": "alpha gamma", "max_gaps": 1}}}}
    # any order, |a-b|-1 <= 1: doc0 (1), doc3 (1), doc4 (0), doc6 (1)
    assert _hits(spark, tiny_store, qd) == [0, 3, 4, 6]


def test_span_first(spark, tiny_store):
    qd = {"span_first": {"match": {"span_term": {"text": "alpha"}}, "end": 2}}
    # alpha at position < 2: docs 0,2,4,5,7 (pos 0) + doc1 (pos 1) + doc6 (pos 1)
    assert _hits(spark, tiny_store, qd) == [0, 1, 2, 4, 5, 6, 7]


def test_span_not_window(spark, tiny_store):
    qd = {
        "span_not": {
            "include": {
                "span_near": {
                    "clauses": [
                        {"span_term": {"text": "alpha"}},
                        {"span_term": {"text": "gamma"}},
                    ],
                    "slop": 3,
                    "in_order": True,
                }
            },
            "exclude": {"span_term": {"text": "hash"}},
        }
    }
    # alpha..gamma windows with no 'hash' inside: doc5's window contains hash
    # (drop); doc6's hash sits BEFORE the window (keep)
    assert _hits(spark, tiny_store, qd) == [0, 1, 2, 4, 6]


def test_span_term_scores_like_term_match(spark, tiny_store):
    df, store = tiny_store
    a = topk.search_indexed(spark, store, {"span_term": {"text": "gamma"}}, k=100).collect()
    b = topk.search_indexed(spark, store, {"match": {"text": "gamma"}}, k=100).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_span_or_is_or_match(spark, tiny_store):
    qd = {
        "span_or": {
            "clauses": [
                {"span_term": {"text": "beta"}},
                {"span_term": {"text": "zeta"}},
            ]
        }
    }
    assert _hits(spark, tiny_store, qd) == [0, 1, 3, 4, 5, 6]


def _within_qd(little, big_terms, slop, kind="span_within"):
    return {
        kind: {
            "little": {"span_term": {"text": little}},
            "big": {
                "span_near": {
                    "clauses": [{"span_term": {"text": t}} for t in big_terms],
                    "slop": slop,
                    "in_order": True,
                }
            },
        }
    }


def test_span_within_containment(spark, tiny_store):
    # beta enclosed by alpha..gamma: doc0 (width 1), doc6 (width 1); doc5's
    # window is width 2 (> slop 1); doc1/doc3 have no alpha before beta
    assert _hits(spark, tiny_store, _within_qd("beta", ["alpha", "gamma"], 1)) == [0, 6]
    # widening the slop admits doc5
    assert _hits(spark, tiny_store, _within_qd("beta", ["alpha", "gamma"], 2)) == [0, 5, 6]


def test_span_within_endpoint_inclusive(spark, tiny_store):
    # little == big's start term: enclosed at the window's left endpoint
    hits = _hits(spark, tiny_store, _within_qd("alpha", ["alpha", "gamma"], 3))
    assert 0 in hits and 2 in hits


def test_span_containing_matches_same_docs(spark, tiny_store):
    # span_within and span_containing both test containment against the big
    # stream's EMITTED spans, so they match the SAME document set (Lucene
    # SpanWithinQuery / SpanContainingQuery); they differ only in which
    # stream is scored — test_within_containing_score_streams pins that
    w = _hits(spark, tiny_store, _within_qd("beta", ["alpha", "gamma"], 2))
    c = _hits(spark, tiny_store, _within_qd("beta", ["alpha", "gamma"], 2, "span_containing"))
    assert w == c


def test_span_within_single_term_big(spark, tiny_store):
    # big = span_term: [pb, pb] contains q only when q == pb, i.e. little==big
    qd = {
        "span_within": {
            "little": {"span_term": {"text": "beta"}},
            "big": {"span_term": {"text": "beta"}},
        }
    }
    assert _hits(spark, tiny_store, qd) == [0, 1, 3, 5, 6]
    qd2 = {
        "span_within": {
            "little": {"span_term": {"text": "beta"}},
            "big": {"span_term": {"text": "gamma"}},
        }
    }
    assert _hits(spark, tiny_store, qd2) == []


def _masked_near(term, slop, in_order=False, masked=("tool", "search")):
    mf, mt = masked
    return {
        "span_near": {
            "clauses": [
                {"span_term": {"text": term}},
                {
                    "field_masking_span": {
                        "query": {"span_term": {mf: mt}},
                        "field": "text",
                    }
                },
            ],
            "slop": slop,
            "in_order": in_order,
        }
    }


def test_field_masking_span_unordered(spark, tiny_store):
    # tool="search" tokenizes to a single token at position 0 for every doc;
    # the masked step contributes position 0 to the text chain, so an
    # unordered pair (gamma@p, search@0) matches when p - 1 <= slop and p != 0
    # (a pair cannot reuse one position). gamma: doc0@2, doc1@4, doc2@4,
    # doc3@0, doc4@1, doc5@3, doc6@3.
    assert _hits(spark, tiny_store, _masked_near("gamma", 2)) == [0, 4, 5, 6]
    assert _hits(spark, tiny_store, _masked_near("gamma", 3)) == [0, 1, 2, 4, 5, 6]
    # doc3's gamma sits at position 0 == the masked position: no valid pair
    assert 3 not in _hits(spark, tiny_store, _masked_near("gamma", 100))


def test_field_masking_span_ordered(spark, tiny_store):
    # in_order: masked tool position 0 must precede the text term
    qd = {
        "span_near": {
            "clauses": [
                {
                    "field_masking_span": {
                        "query": {"span_term": {"tool": "search"}},
                        "field": "text",
                    }
                },
                {"span_term": {"text": "gamma"}},
            ],
            "slop": 1,
            "in_order": True,
        }
    }
    assert _hits(spark, tiny_store, qd) == [0, 4]


def test_field_masking_span_scores(spark, tiny_store):
    # interval freq 1/(1 + min slop): doc4 gamma@1 -> slop 0 -> 1.0,
    # doc0 gamma@2 -> 0.5, doc5/doc6 gamma@3 -> 1/3; then fed through the
    # field similarity as SpanWeight does. Hand-derived: weight = the
    # masked step's idf on its SOURCE field (tool:'search', df=9) plus
    # idf(text:'gamma', df=7) over N=9; avgdl = 34/9; all dl < 8 so the
    # byte4 quantization is the identity; dl = 4 for every hit.
    import math

    df, store = tiny_store
    w = math.log(1 + 0.5 / 9.5) + math.log(1 + 2.5 / 7.5)
    norm = 1.2 * (0.25 + 0.75 * 4 / (34 / 9))

    def bm(pf):
        return round(w * 2.2 * pf / (pf + norm), 4)

    got = {
        r.turn_idx: round(r.score, 4)
        for r in Q.search(df, _masked_near("gamma", 2), KEYS, k=100).collect()
    }
    assert got == {4: bm(1.0), 0: bm(0.5), 5: bm(1 / 3), 6: bm(1 / 3)}


def test_field_masking_span_top_level_is_inner(spark, tiny_store):
    # standalone mask == the inner span query (scoring divergence documented)
    df, store = tiny_store
    qd = {
        "field_masking_span": {
            "query": {"span_term": {"text": "beta"}},
            "field": "tool",
        }
    }
    inner = {"span_term": {"text": "beta"}}
    want = [tuple(r) for r in Q.search(df, inner, KEYS, k=100).collect()]
    got = [tuple(r) for r in Q.search(df, qd, KEYS, k=100).collect()]
    assert got == want


def test_field_masking_span_rejects_multi_mix(spark):
    qd = {
        "span_near": {
            "clauses": [
                {"span_multi": {"match": {"prefix": {"text": "ga"}}}},
                {
                    "field_masking_span": {
                        "query": {"span_term": {"tool": "search"}},
                        "field": "text",
                    }
                },
            ],
            "slop": 2,
            "in_order": False,
        }
    }
    with pytest.raises(ValueError, match="mix"):
        Q.normalize_query(qd)


def _gap_near(terms_and_gaps, slop, in_order=True):
    clauses = []
    for x in terms_and_gaps:
        if isinstance(x, int):
            clauses.append({"span_gap": {"text": x}})
        else:
            clauses.append({"span_term": {"text": x}})
    return {"span_near": {"clauses": clauses, "slop": slop, "in_order": in_order}}


def test_span_gap_consumes_window_not_slop(spark, tiny_store):
    # alpha .. (gap 1) .. gamma: gamma must sit >= 2 after alpha; the gap
    # position doesn't count against slop. alpha/gamma per doc:
    # 0:(0,2) 1:(1,4) 2:(0,4) 4:(0,1)&(2,-) 5:(0,3) 6:(1,3)
    assert _hits(spark, tiny_store, _gap_near(["alpha", 1, "gamma"], 0)) == [0, 6]
    assert _hits(spark, tiny_store, _gap_near(["alpha", 1, "gamma"], 1)) == [0, 1, 5, 6]
    assert _hits(spark, tiny_store, _gap_near(["alpha", 1, "gamma"], 2)) == [0, 1, 2, 5, 6]
    # doc4: gamma directly after alpha — the required gap cannot fit
    assert 4 not in _hits(spark, tiny_store, _gap_near(["alpha", 1, "gamma"], 100))


def test_span_gap_scores_exclude_gap_width(spark, tiny_store):
    # freqs: doc0 window alpha@0..gamma@2 width 1, gap eats it -> slop 0 ->
    # 1.0; doc1 width 2 -> slop 1 -> 0.5; doc5 slop 1; doc6 slop 0; then the
    # BM25 wrap (gap placeholder steps contribute no idf)
    df, _ = tiny_store
    got = {
        r.turn_idx: round(r.score, 4)
        for r in Q.search(df, _gap_near(["alpha", 1, "gamma"], 3), KEYS, k=100).collect()
    }
    want = bm25_wrap(
        TEXTS, ["alpha", "gamma"],
        {0: 1.0, 6: 1.0, 1: 0.5, 5: 0.5, 2: 1 / 3},
    )
    assert got == want


def test_span_gap_validations(spark):
    with pytest.raises(ValueError, match="in_order"):
        Q.normalize_query(_gap_near(["alpha", 1, "gamma"], 2, in_order=False))
    with pytest.raises(ValueError, match="lead"):
        Q.normalize_query(_gap_near([1, "alpha", "gamma"], 2))
    with pytest.raises(ValueError, match="trail"):
        Q.normalize_query(_gap_near(["alpha", "gamma", 1], 2))


def bm25_wrap(texts, weight_terms, freqs):
    """Hand-derived BM25 wrap of an interval-freq map (SpanWeight feeds
    sloppyFreq through SimScorer.score(freq, norm)): weight = sum of idfs
    of the query's distinct concrete terms, norm from the outer field's dl.
    All crafted docs have dl < 16, so byte4 quantization is the identity."""
    import math

    toks = {i: t.split() for i, t in texts.items()}
    n = len(texts)
    avg = sum(len(tk) for tk in toks.values()) / n
    # all-composite-step queries (expansion/any/prefix positions only) fall
    # back to weight 1.0, mirroring the engine twins
    w = 0.0 if weight_terms else 1.0
    for t in set(weight_terms):
        df = sum(1 for tk in toks.values() if t in tk)
        w += math.log(1 + (n - df + 0.5) / (df + 0.5))
    return {
        i: round(w * 2.2 * pf / (pf + 1.2 * (0.25 + 0.75 * len(toks[i]) / avg)), 4)
        for i, pf in freqs.items()
    }


def brute_interval_freq(text, terms, mg, ordered=False):
    """Brute-force Lucene interval freq: enumerate every covering combo,
    reduce to the containment-MINIMAL interval set, filter max_gaps after
    minimization, sum 1/(1 + slop). Returns None when no interval survives."""
    import itertools

    toks = text.split()
    pls = [[i for i, tk in enumerate(toks) if tk == t] for t in terms]
    if any(not p for p in pls):
        return None
    ivals = set()
    for combo in itertools.product(*pls):
        if ordered and list(combo) != sorted(combo):
            continue
        if len(set(combo)) != len(combo):
            continue
        ivals.add((min(combo), max(combo)))
    minimal = {
        (lo, hi)
        for lo, hi in ivals
        if not any(
            (lo2, hi2) != (lo, hi) and lo <= lo2 and hi2 <= hi
            for lo2, hi2 in ivals
        )
    }
    kept = [
        hi - lo - (len(terms) - 1)
        for lo, hi in minimal
        if mg < 0 or hi - lo - (len(terms) - 1) <= mg
    ]
    if not kept:
        return None
    return sum(1.0 / (1 + s) for s in kept)


def test_unordered_arity3_minimal_window(spark, tmp_path_factory):
    # brute-force minimal-interval freq reference on a crafted corpus —
    # docs 5-8 carry MULTIPLE minimal intervals so the sloppyFreq summation
    # (not just the best window) is pinned
    import datetime

    texts = {0: "a x b y c", 1: "c b a", 2: "a b", 3: "b x x a q c",
             4: "c x a b", 5: "a a b c c", 6: "a b c x a b c",
             7: "a b c c b a", 8: "c a b x x c a b x a b c"}
    df = spark.createDataFrame(
        [("c0", i, "user", t, "", datetime.datetime(2024, 1, 1))
         for i, t in texts.items()],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    root = str(tmp_path_factory.mktemp("unord3"))
    store = index_build.build_index(spark, df, root, n_slices=1, partitions=2)

    for mg in (-1, 0, 1, 2, 4):
        spec = {"query": "a b c"}
        if mg >= 0:
            spec["max_gaps"] = mg
        qd = {"intervals": {"text": {"match": spec}}}
        want = bm25_wrap(texts, ["a", "b", "c"], {
            i: s
            for i, t in texts.items()
            if (s := brute_interval_freq(t, ["a", "b", "c"], mg)) is not None
        })
        gl = {r.turn_idx: round(r.score, 4)
              for r in Q.search(df, qd, KEYS, k=100).collect()}
        gi = {r.turn_idx: round(r.score, 4)
              for r in topk.search_indexed(spark, store, qd, k=100).collect()}
        assert gl == want and gi == want, (mg, want, gl, gi)


def test_ordered_freq_sum_multiple_windows(spark, tmp_path_factory):
    # ordered chains: each (end-minimal) interval contributes 1/(1+slop) —
    # "a b x a b" has TWO minimal a->b intervals (slop 0 each) -> freq 2.0
    import datetime

    texts = {0: "a b x a b", 1: "a x b a b", 2: "a b", 3: "b a",
             4: "a a b b", 5: "a b a b a b"}
    df = spark.createDataFrame(
        [("c0", i, "user", t, "", datetime.datetime(2024, 1, 1))
         for i, t in texts.items()],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    root = str(tmp_path_factory.mktemp("ordsum"))
    store = index_build.build_index(spark, df, root, n_slices=1, partitions=2)
    for mg in (-1, 0, 2):
        spec = {"query": "a b", "ordered": True}
        if mg >= 0:
            spec["max_gaps"] = mg
        qd = {"intervals": {"text": {"match": spec}}}
        want = bm25_wrap(texts, ["a", "b"], {
            i: s
            for i, t in texts.items()
            if (s := brute_interval_freq(t, ["a", "b"], mg, ordered=True))
            is not None
        })
        gl = {r.turn_idx: round(r.score, 4)
              for r in Q.search(df, qd, KEYS, k=100).collect()}
        gi = {r.turn_idx: round(r.score, 4)
              for r in topk.search_indexed(spark, store, qd, k=100).collect()}
        assert gl == want and gi == want, (mg, want, gl, gi)


def test_single_step_scores_occurrence_count(spark, tiny_store):
    # m == 1 interval shapes: freq = surviving occurrence count (width-0
    # minimal intervals). doc4 "alpha gamma alpha zeta" has 2 alphas.
    df, store = tiny_store
    qd = {"span_first": {"match": {"span_term": {"text": "alpha"}}, "end": 100}}
    want = bm25_wrap(TEXTS, ["alpha"], {
        0: 1.0, 1: 1.0, 2: 1.0, 3: 1.0, 4: 2.0, 5: 1.0, 6: 1.0, 7: 1.0,
        8: 1.0,
    })
    gl = {r.turn_idx: round(r.score, 4)
          for r in Q.search(df, qd, KEYS, k=100).collect()}
    gi = {r.turn_idx: round(r.score, 4)
          for r in topk.search_indexed(spark, store, qd, k=100).collect()}
    assert gl == want and gi == want


def test_unordered_arity3_validations(spark, tiny_store):
    df, _ = tiny_store
    # duplicate terms in an unordered 3-chain: overlap semantics differ —
    # refuse on every path
    dup = {"intervals": {"text": {"match": {"query": "a b a"}}}}
    with pytest.raises(ValueError, match="distinct"):
        Q.search(df, dup, KEYS, k=10).collect()


def test_within_containing_score_streams(spark, tmp_path_factory):
    # span_within scores the little stream (count of enclosed occurrences);
    # span_containing scores the big stream (sum 1/(1+slop) over EMITTED big
    # spans containing a little). Containment is tested against the big
    # stream's emitted (per-start greedy) spans on both sides, so the two
    # queries match the SAME document set — Lucene SpanWithinQuery /
    # SpanContainingQuery behavior. doc1 pins it: beta sits inside the
    # non-greedy alpha..gamma pair [0,3], which is never emitted.
    import datetime

    texts = {
        0: "alpha beta gamma",
        1: "alpha gamma beta gamma",
        2: "alpha beta gamma alpha beta gamma",
        3: "beta alpha gamma",
        4: "no match here",
    }
    df = spark.createDataFrame(
        [("c0", i, "user", t, "", datetime.datetime(2024, 1, 1))
         for i, t in texts.items()],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    root = str(tmp_path_factory.mktemp("withsc"))
    store = index_build.build_index(spark, df, root, n_slices=1, partitions=2)

    def qd(kind):
        return {
            kind: {
                "little": {"span_term": {"text": "beta"}},
                "big": {
                    "span_near": {
                        "clauses": [
                            {"span_term": {"text": "alpha"}},
                            {"span_term": {"text": "gamma"}},
                        ],
                        "slop": 3,
                        "in_order": True,
                    }
                },
            }
        }

    for kind, freqs in [
        # EMITTED big spans (per-start greedy): doc0 [0,2]; doc1 [0,1] only
        # (the non-greedy [0,3] is never emitted, so doc1's beta@2 is NOT
        # enclosed — Lucene SpanWithin/SpanContaining match the SAME docs);
        # doc2 [0,2]+[3,5]; doc3 [1,2]
        # within: enclosed betas — doc0 one, doc2 two
        ("span_within", {0: 1.0, 2: 2.0}),
        # containing: emitted spans holding a beta at 1/(1+slop) each
        ("span_containing", {0: 0.5, 2: 1.0}),
    ]:
        # weight = idf(little) + idfs of the big chain's terms
        want = bm25_wrap(texts, ["beta", "alpha", "gamma"], freqs)
        gl = {r.turn_idx: round(r.score, 4)
              for r in Q.search(df, qd(kind), KEYS, k=100).collect()}
        gi = {r.turn_idx: round(r.score, 4)
              for r in topk.search_indexed(spark, store, qd(kind), k=100).collect()}
        assert gl == want and gi == want, (kind, want, gl, gi)


def test_nonplain_pair_freq_sum(spark, tiny_store):
    # non-plain unordered pair (span_multi prefix step): per-end minimal
    # windows each contribute 1/(1+slop). doc4 "alpha gamma alpha zeta" has
    # TWO minimal windows (alpha@0,gamma@1) and (gamma@1,alpha@2) -> 2.0
    qd = {
        "span_near": {
            "clauses": [
                {"span_multi": {"match": {"prefix": {"text": "ga"}}}},
                {"span_term": {"text": "alpha"}},
            ],
            "slop": 3,
            "in_order": False,
        }
    }
    df, store = tiny_store
    gl = {r.turn_idx: round(r.score, 4)
          for r in Q.search(df, qd, KEYS, k=100).collect()}
    gi = {r.turn_idx: round(r.score, 4)
          for r in topk.search_indexed(spark, store, qd, k=100).collect()}
    # gamma/alpha per doc: 0:(2|0) slop 1; 1:(4|1) slop 2; 2:(4|0) slop 3;
    # 3:(0|2) slop 1; 4: two windows slop 0 each; 5:(3|0) slop 2; 6:(3|1)
    # slop 1. Weight: the prefix-expansion step contributes NO idf
    # (tuple steps mirror SpanMultiTermQueryWrapper's rewritten weight),
    # only the concrete span_term 'alpha' does.
    want = bm25_wrap(TEXTS, ["alpha"], {
        0: 0.5, 1: 1 / 3, 2: 0.25, 3: 0.5, 4: 2.0, 5: 1 / 3, 6: 0.5,
    })
    assert gl == want and gi == want, (gl, gi)


def test_duplicate_term_pair_overlapping_sets(spark, tmp_path_factory):
    # duplicate-term unordered pair ("beta beta"): both steps share one
    # occurrence set; a window needs two DISTINCT positions. Adjacent
    # occurrence pairs are the minimal windows.
    import datetime

    texts = {0: "q beta w beta beta", 1: "beta", 2: "beta beta",
             3: "x y z"}
    df = spark.createDataFrame(
        [("c0", i, "user", t, "", datetime.datetime(2024, 1, 1))
         for i, t in texts.items()],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    root = str(tmp_path_factory.mktemp("duppair"))
    store = index_build.build_index(spark, df, root, n_slices=1, partitions=2)
    qd = {"intervals": {"text": {"match": {"query": "beta beta"}}}}
    # doc0 windows [1,3] slop 1 + [3,4] slop 0 -> freq 1.5; doc2 [0,1] ->
    # 1.0; weight counts the DISTINCT term 'beta' once
    want = bm25_wrap(texts, ["beta"], {0: 1.5, 2: 1.0})
    gl = {r.turn_idx: round(r.score, 4)
          for r in Q.search(df, qd, KEYS, k=100).collect()}
    gi = {r.turn_idx: round(r.score, 4)
          for r in topk.search_indexed(spark, store, qd, k=100).collect()}
    assert gl == want and gi == want, (gl, gi)


def brute_span_stream_freq(text, terms, slop, ordered, gaps=None):
    """Literal simulation of Lucene's span emission, independent of the
    engine's vectorized forms. Ordered: NearSpansOrdered — for each lead
    occurrence, stretchToOrder picks the earliest later occurrence per step
    (subspans never move backward; the greedy chain per lead IS the emitted
    span), matchWidth = sum of inter-span gaps, emitted iff <= slop, sloppy
    factor 1/(1 + matchWidth). Unordered: NearSpansUnordered — min-advance
    walk over one cursor per subspan; every visited configuration with
    maxEnd - minStart - totalSpanLength <= slop emits, and width() is
    START-TO-START, so the factor is 1/(1 + maxStart - minStart)."""
    toks = text.split()
    occ = [[i for i, tk in enumerate(toks) if tk == q] for q in terms]
    if any(not o for o in occ):
        return None
    m = len(terms)
    freq = 0.0
    if ordered:
        g = gaps or [0] * (m - 1)
        for p in occ[0]:
            cur, ok = p, True
            for i in range(1, m):
                nxt = [x for x in occ[i] if x > cur + g[i - 1]]
                if not nxt:
                    ok = False
                    break
                cur = min(nxt)
            if ok:
                s = cur - p - (m - 1) - sum(g)
                if s <= slop:
                    freq += 1.0 / (1 + s)
    else:
        idx = [0] * m
        while True:
            starts = [occ[i][idx[i]] for i in range(m)]
            mn, mx = min(starts), max(starts)
            if mx - mn - (m - 1) <= slop:
                freq += 1.0 / (1 + mx - mn)
            lab = starts.index(mn)
            idx[lab] += 1
            if idx[lab] >= len(occ[lab]):
                break
    return freq if freq > 0 else None


def _stream_corpus(spark, tmp_path_factory, texts, name):
    import datetime

    df = spark.createDataFrame(
        [("c0", i, "user", t, "", datetime.datetime(2024, 1, 1))
         for i, t in texts.items()],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    root = str(tmp_path_factory.mktemp(name))
    store = index_build.build_index(spark, df, root, n_slices=1, partitions=2)
    return df, store


def test_ordered_span_stream_no_minimization(spark, tmp_path_factory):
    # the advisor's canonical case: 'a a b' under near(a, b) emits BOTH
    # per-lead chains (a@0 width 1 -> 0.5, a@1 width 0 -> 1.0) = 1.5;
    # the intervals query on the same doc keeps only the minimal [1,2] = 1.0
    texts = {0: "a a b", 1: "a b", 2: "a a a b", 3: "a x a b y b",
             4: "b a a b a b", 5: "a x x b a b"}
    df, store = _stream_corpus(spark, tmp_path_factory, texts, "ostream")
    for slop in (0, 1, 2, 4):
        qd = {
            "span_near": {
                "clauses": [
                    {"span_term": {"text": "a"}},
                    {"span_term": {"text": "b"}},
                ],
                "slop": slop,
                "in_order": True,
            }
        }
        want = bm25_wrap(texts, ["a", "b"], {
            i: s
            for i, t in texts.items()
            if (s := brute_span_stream_freq(t, ["a", "b"], slop, True))
            is not None
        })
        gl = {r.turn_idx: round(r.score, 4)
              for r in Q.search(df, qd, KEYS, k=100).collect()}
        gi = {r.turn_idx: round(r.score, 4)
              for r in topk.search_indexed(spark, store, qd, k=100).collect()}
        assert gl == want and gi == want, (slop, want, gl, gi)
    # the intervals twin on doc0 keeps minimal-interval algebra
    iq = {"intervals": {"text": {"match": {"query": "a b", "ordered": True}}}}
    gi = {r.turn_idx: round(r.score, 4)
          for r in topk.search_indexed(spark, store, iq, k=100).collect()}
    assert gi[0] == bm25_wrap(texts, ["a", "b"], {0: 1.0})[0]


def test_unordered_span_stream_walk(spark, tmp_path_factory):
    # NearSpansUnordered min-advance walk: every visited configuration
    # emits at 1/(1 + start-to-start width) — adjacent pair scores 0.5 (not
    # 1.0: width() is start-to-start, Lucene's ordered/unordered asymmetry)
    texts = {0: "a b", 1: "b a", 2: "a a b", 3: "b x a y a b",
             4: "a b a", 5: "c c c", 6: "a x b a b a"}
    df, store = _stream_corpus(spark, tmp_path_factory, texts, "ustream")
    for slop in (1, 2, 4):
        qd = {
            "span_near": {
                "clauses": [
                    {"span_term": {"text": "a"}},
                    {"span_term": {"text": "b"}},
                ],
                "slop": slop,
                "in_order": False,
            }
        }
        want = bm25_wrap(texts, ["a", "b"], {
            i: s
            for i, t in texts.items()
            if (s := brute_span_stream_freq(t, ["a", "b"], slop, False))
            is not None
        })
        gl = {r.turn_idx: round(r.score, 4)
              for r in Q.search(df, qd, KEYS, k=100).collect()}
        gi = {r.turn_idx: round(r.score, 4)
              for r in topk.search_indexed(spark, store, qd, k=100).collect()}
        assert gl == want and gi == want, (slop, want, gl, gi)


def test_unordered_span_stream_arity3(spark, tmp_path_factory):
    texts = {0: "a b c", 1: "c b a", 2: "a b x c a", 3: "b a c b a c",
             4: "a a b c c", 5: "c x x a b"}
    df, store = _stream_corpus(spark, tmp_path_factory, texts, "ustream3")
    for slop in (0, 1, 3, 6):
        qd = {
            "span_near": {
                "clauses": [
                    {"span_term": {"text": "a"}},
                    {"span_term": {"text": "b"}},
                    {"span_term": {"text": "c"}},
                ],
                "slop": slop,
                "in_order": False,
            }
        }
        want = bm25_wrap(texts, ["a", "b", "c"], {
            i: s
            for i, t in texts.items()
            if (s := brute_span_stream_freq(t, ["a", "b", "c"], slop, False))
            is not None
        })
        gl = {r.turn_idx: round(r.score, 4)
              for r in Q.search(df, qd, KEYS, k=100).collect()}
        gi = {r.turn_idx: round(r.score, 4)
              for r in topk.search_indexed(spark, store, qd, k=100).collect()}
        assert gl == want and gi == want, (slop, want, gl, gi)


def test_span_stream_fuzz(spark, tmp_path_factory):
    # random short texts over a 4-term alphabet vs the literal walk
    # simulator (brute_span_stream_freq) on BOTH engine paths, ordered and
    # unordered, several slops — pins the per-start stream on shapes no
    # hand-crafted corpus anticipates (repeated leads, runs, exhaustion
    # edges). Seeded: deterministic across runs.
    import random

    rng = random.Random(20260819)
    words = ["a", "b", "c", "d"]
    texts = {
        i: " ".join(rng.choice(words) for _ in range(rng.randint(1, 12)))
        for i in range(40)
    }
    df, store = _stream_corpus(spark, tmp_path_factory, texts, "szfuzz")
    cases = []
    for _ in range(10):
        n = rng.randint(2, 3)
        terms = rng.sample(words, n)
        cases.append((terms, rng.randint(0, 5), rng.random() < 0.5))
    for terms, slop, in_order in cases:
        qd = {
            "span_near": {
                "clauses": [{"span_term": {"text": t}} for t in terms],
                "slop": slop,
                "in_order": in_order,
            }
        }
        want = bm25_wrap(texts, terms, {
            i: s
            for i, t in texts.items()
            if (s := brute_span_stream_freq(t, terms, slop, in_order))
            is not None
        })
        gl = {r.turn_idx: round(r.score, 4)
              for r in Q.search(df, qd, KEYS, k=100).collect()}
        gi = {r.turn_idx: round(r.score, 4)
              for r in topk.search_indexed(spark, store, qd, k=100).collect()}
        assert gl == want and gi == want, (terms, slop, in_order)


class TestIntervalsSources:
    """IntervalsSourceProvider sources beyond `match` (reg
    SearchModule.java:841): any_of / all_of / prefix / wildcard canonicalize
    in normalize_query onto the steps machinery; unsupported nesting raises
    on every path."""

    TEXTS = {
        0: "join hash table now",      # join..(hash|merge)..ta* gaps 0
        1: "join merge x table",       # any_of via merge, one gap
        2: "join table",               # no middle term
        3: "merge take",               # any_of alone; take matches ta*
        4: "scan it",                  # any_of(scan,merge,sort) once
        5: "sort scan sort",           # three any_of occurrences
        6: "table tale tile",          # ta*e wildcard: table, tale (not tile)
    }

    def _store(self, spark, tmp_path_factory):
        return _stream_corpus(spark, tmp_path_factory, self.TEXTS, "isrc")

    def _scores(self, spark, df, store, qd):
        gl = {r.turn_idx: round(r.score, 4)
              for r in Q.search(df, qd, KEYS, k=100).collect()}
        gi = {r.turn_idx: round(r.score, 4)
              for r in topk.search_indexed(spark, store, qd, k=100).collect()}
        assert gl == gi, (gl, gi)
        return gl

    def test_any_of_counts_union_occurrences(self, spark, tmp_path_factory):
        df, store = self._store(spark, tmp_path_factory)
        qd = {"intervals": {"text": {"any_of": {"intervals": [
            {"match": {"query": "scan"}}, {"match": {"query": "merge"}},
            {"match": {"query": "sort"}}]}}}}
        # width-0 intervals, occurrence counts; composite steps carry no idf
        # (weight 1.0 like other expansion steps)
        got = self._scores(spark, df, store, qd)
        want = bm25_wrap(self.TEXTS, [], {1: 1.0, 3: 1.0, 4: 1.0, 5: 3.0})
        assert got == want, (got, want)

    def test_all_of_mixed_chain(self, spark, tmp_path_factory):
        df, store = self._store(spark, tmp_path_factory)
        qd = {"intervals": {"text": {"all_of": {
            "ordered": True, "max_gaps": 2,
            "intervals": [
                {"match": {"query": "join"}},
                {"any_of": {"intervals": [{"match": {"query": "hash"}},
                                          {"match": {"query": "merge"}}]}},
                {"prefix": {"prefix": "ta"}},
            ]}}}}
        # doc0 join@0 hash@1 table@2 slop 0 -> 1.0; doc1 join@0 merge@1
        # table@3 slop 1 -> 0.5; doc2 no middle; weight = idf('join') only
        got = self._scores(spark, df, store, qd)
        want = bm25_wrap(self.TEXTS, ["join"], {0: 1.0, 1: 0.5})
        assert got == want, (got, want)

    def test_wildcard_source(self, spark, tmp_path_factory):
        df, store = self._store(spark, tmp_path_factory)
        qd = {"intervals": {"text": {"wildcard": {"pattern": "ta*e"}}}}
        # 'ta*e' matches table (docs 0,1,2,6), take (doc3), tale (doc6) —
        # NOT tile; doc6 counts two occurrences
        got = self._scores(spark, df, store, qd)
        want = bm25_wrap(self.TEXTS, [], {0: 1.0, 1: 1.0, 2: 1.0, 3: 1.0, 6: 2.0})
        assert got == want, (got, want)

    def test_fuzzy_source(self, spark, tmp_path_factory):
        df, store = self._store(spark, tmp_path_factory)
        # 'joim'~AUTO -> 1 edit at length 4: matches 'join' (docs 0,1,2)
        qd = {"intervals": {"text": {"fuzzy": {"term": "joim"}}}}
        got = self._scores(spark, df, store, qd)
        want = bm25_wrap(self.TEXTS, [], {0: 1.0, 1: 1.0, 2: 1.0})
        assert got == want, (got, want)
        # explicit fuzziness 0 degenerates to the concrete term (idf-weighted)
        qd0 = {"intervals": {"text": {"fuzzy": {"term": "join", "fuzziness": 0}}}}
        got0 = self._scores(spark, df, store, qd0)
        want0 = bm25_wrap(self.TEXTS, ["join"], {0: 1.0, 1: 1.0, 2: 1.0})
        assert got0 == want0, (got0, want0)

    def test_unsupported_sources_raise_everywhere(self, spark, tmp_path_factory):
        from elasticsearch_spark import oracle

        df, _ = self._store(spark, tmp_path_factory)
        bad = [
            # nested all_of (multi-position child)
            {"intervals": {"text": {"all_of": {"intervals": [
                {"match": {"query": "join"}},
                {"all_of": {"intervals": [{"match": {"query": "a"}}]}}]}}}},
            # multi-term match child
            {"intervals": {"text": {"all_of": {"intervals": [
                {"match": {"query": "join table"}},
                {"match": {"query": "hash"}}]}}}},
            # filter rules out of scope
            {"intervals": {"text": {"all_of": {
                "intervals": [{"match": {"query": "join"}}],
                "filter": {"containing": {"match": {"query": "x"}}}}}}},
        ]
        for qd in bad:
            with pytest.raises(ValueError):
                Q.normalize_query(qd)
            with pytest.raises(ValueError):
                oracle.search_sql(qd)

    def test_match_source_filter_raises_everywhere(self, spark, tmp_path_factory):
        """A `filter` on a match source, top-level or an all_of child, raises
        like the filter of every other source instead of being dropped."""
        from elasticsearch_spark import oracle

        _, store = self._store(spark, tmp_path_factory)
        filt = {"containing": {"match": {"query": "hash"}}}
        bad = [
            {"intervals": {"text": {"match": {"query": "join table", "filter": filt}}}},
            {"intervals": {"text": {"all_of": {"intervals": [
                {"match": {"query": "join", "filter": filt}},
                {"match": {"query": "table"}}]}}}},
        ]
        for qd in bad:
            for run in (
                lambda: Q.normalize_query(qd),
                lambda: oracle.search_sql(qd),
                lambda: topk.search_indexed(spark, store, qd, k=10),
            ):
                with pytest.raises(ValueError, match="filters are unsupported"):
                    run()
