"""ES query-DSL dict -> DataFrame plan compiler.

Mirrors the query registry in the reference (search/SearchModule.java:781-842)
for the leaf + compound queries the north rule needs. Leaves compile to either
a Catalyst Column predicate (pushdown-friendly: term/terms/range/exists/ids/
match_all) or a scored DataFrame (keys..., score) when token analysis is
required (match/match_phrase/prefix/wildcard/fuzzy).

Bool semantics (index/query/BoolQueryBuilder.java:306-318):
  must      AND, contributes score
  filter    AND, no score contribution
  should    OR, contributes score; minimum_should_match defaults to 0 when
            must/filter present, else 1
  must_not  NOT, no score
  empty bool => match_all; a bool of only filters scores 0.0.

Scoring of non-text leaves in scoring context:
  term/terms on keyword fields (norms disabled, KeywordFieldMapper.java):
    BM25 with tf=1 and no norm => score == idf  (Lucene 8 BM25 w/o norms:
    tf/(tf+k1) * (k1+1) * idf == idf for tf=1)
  range/exists/ids/match_all: ConstantScore 1.0 (Lucene rewrites).
  prefix/wildcard/fuzzy: multi-term constant-score rewrite => 1.0
    (index/query/PrefixQueryBuilder.java et al., default rewrite method).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import analysis, scoring
from ..operators import match as M


@dataclass
class _Ctx:
    docs: DataFrame
    key_cols: list[str]
    text_col: str
    base_pred: Column | None = None  # pushed-down candidate filter (scores unaffected)


@dataclass
class Compiled:
    """Exactly one of (predicate, scored) is set."""

    predicate: Column | None = None
    scored: DataFrame | None = None  # (keys..., score)

    def as_scored(self, ctx: _Ctx, score: float = 1.0) -> DataFrame:
        if self.scored is not None:
            return self.scored
        d = ctx.docs.where(self.predicate) if self.predicate is not None else ctx.docs
        if ctx.base_pred is not None:
            d = d.where(ctx.base_pred)
        return d.select(*ctx.key_cols, F.lit(float(score)).alias("score"))


def min_should_match(raw, n_terms: int) -> int:
    """minimum_should_match over `n_terms` optional clauses: an int, a numeric
    string, or an "N%" share of n_terms, truncated
    (Queries.calculateMinShouldMatch). Floored at 1, as an OR of optional
    clauses always needs one match; None means 1. Shared by the logical
    plan, the kernel lowering, the oracle and percolate."""
    if raw is None:
        return 1
    if isinstance(raw, str):
        raw = raw.strip()
        if raw.endswith("%"):
            return max(1, int(n_terms * int(raw[:-1]) / 100.0))
    try:
        return max(1, int(raw))
    except (TypeError, ValueError):
        raise ValueError(
            f"minimum_should_match must be an integer or 'N%': {raw!r}"
        ) from None


def _reject_source_filter(src: dict) -> None:
    """Interval filter rules (filter: containing/not_containing/...) are out
    of scope on every source; raise rather than silently drop them."""
    (_, sb), = src.items()
    if isinstance(sb, dict) and sb.get("filter"):
        raise ValueError("intervals source filters are unsupported")


def normalize_query(q: dict) -> dict:
    """ES-style query rewrites shared by the Spark compiler AND the oracle
    generator (the Rewriteable fixpoint analog, index/query/Rewriteable.java):

      * multi_match(best_fields)  -> dis_max of per-field match
        (MultiMatchQuery.java: blended per-field queries under DisjunctionMax)
      * multi_match(most_fields)  -> bool.should of per-field match (sum)
      * match_bool_prefix         -> bool.should[match(complete terms),
        prefix(last term)] (MatchBoolPrefixQueryBuilder: each term a should
        clause, trailing term as prefix)
    """
    if not isinstance(q, dict) or len(q) != 1:
        return q
    (kind, body), = q.items()
    if kind == "query_string":
        from .query_string import parse_query_string

        return normalize_query(
            parse_query_string(body["query"], body.get("default_field", "text"))
        )
    if kind == "simple_query_string":
        from .query_string import parse_simple_query_string

        return normalize_query(
            parse_simple_query_string(body["query"], body.get("default_field", "text"))
        )
    if kind == "multi_match":
        fields = body["fields"]
        mtype = body.get("type", "best_fields")
        per_field = [{"match": {f: {"query": body["query"]}}} for f in fields]
        if mtype == "best_fields":
            return {
                "dis_max": {
                    "queries": per_field,
                    "tie_breaker": float(body.get("tie_breaker", 0.0)),
                }
            }
        if mtype == "most_fields":
            return {"bool": {"should": per_field, "minimum_should_match": 1}}
        if mtype == "cross_fields":
            # term-centric (MultiMatchQuery.java CrossFieldsQueryBuilder):
            # each analyzed TERM becomes a BlendedTermQuery across the field
            # group — per-field BM25 with the BLENDED df (max df across the
            # group; Lucene BlendedTermQuery.adjustFrequencies), combined
            # dis_max with Type.CROSS_FIELDS' tie_breaker default 0.0 —
            # then the terms combine like a match (OR + msm, or AND).
            # Needs corpus stats, so it stays its own kind on every twin.
            return {
                "multi_match_cross": {
                    "query": body["query"],
                    "fields": list(fields),
                    "operator": body.get("operator", "or"),
                    "minimum_should_match": body.get("minimum_should_match"),
                    "tie_breaker": float(body.get("tie_breaker", 0.0)),
                }
            }
        raise ValueError(f"multi_match type {mtype} unsupported")
    if kind in (
        "span_term", "span_or", "span_near", "span_first", "span_not",
        "span_within", "span_containing",
    ):
        return normalize_query(_rewrite_span(kind, body))
    if kind == "intervals":
        # IntervalsSourceProvider family (reg SearchModule.java:841; sources
        # match / prefix / wildcard / any_of / all_of): non-`match` sources
        # canonicalize to the match-source `steps` form here so the logical
        # compiler, the indexed lowering, and the oracle share ONE rewrite.
        (ifield, ispec), = body.items()
        (sk, _), = ispec.items()
        _reject_source_filter(ispec)
        if sk == "match":
            return q
        return {"intervals": {ifield: {"match": _intervals_source(ispec)}}}
    if kind == "field_masking_span":
        # FieldMaskingSpanQueryBuilder (reg SearchModule.java:807): at the
        # top level the mask only changes which field downstream span algebra
        # *believes* the positions belong to — standalone it matches exactly
        # the inner span query (documented divergence: Lucene scores with the
        # masked field's norms; we keep the inner field's). Inside span_near
        # the mask is honored per-step (see _rewrite_span).
        return normalize_query(body["query"])
    if kind == "span_multi":
        # SpanMultiTermQueryWrapper (reg SearchModule.java:807): at the top
        # level the wrapper scores exactly like the wrapped multi-term query's
        # constant-score rewrite, so it normalizes to its inner query. Nested
        # inside span_near/span_not it would need term-dictionary expansion at
        # position-algebra build time — unsupported (raises in _span_terms).
        return normalize_query(body["match"])
    if kind == "script_score":
        # ScriptScoreQueryBuilder (reg SearchModule.java:837): score of the
        # wrapped query is REPLACED by the script's value. Rewrites onto
        # function_score boost_mode=replace, so one rewrite covers the
        # logical path, the indexed lowering, and the oracle. Scripts that
        # reference _score need the original score in scope — unsupported
        # (the translator has no _score binding and would mistranslate).
        src = body["script"]
        s_src = src["source"] if isinstance(src, dict) else str(src)
        # bare `_score` variable only — params.risk_score / doc['x_score']
        # are fine (word-boundary, not substring)
        if re.search(r"(?<![\w.'])_score\b", s_src):
            raise ValueError("script_score scripts referencing _score unsupported")
        if "min_score" in body:
            # fail loudly rather than silently widen the result set
            raise ValueError("script_score min_score unsupported")
        return normalize_query(
            {
                "function_score": {
                    "query": body["query"],
                    "functions": [{"script_score": {"script": src}}],
                    "boost_mode": "replace",
                }
            }
        )
    if kind == "wrapper":
        # WrapperQueryBuilder.java: base64-encoded JSON query, decoded at
        # rewrite time. One rewrite here covers the logical path, the
        # indexed lowering, AND the oracle (all call normalize_query).
        import base64
        import json

        return normalize_query(json.loads(base64.b64decode(body["query"])))
    if kind == "match_bool_prefix":
        (field, spec), = body.items()
        if isinstance(spec, str):
            spec = {"query": spec}
        from ..functions.analysis import analyze

        terms = analyze(spec["query"])
        if not terms:
            return {"match_none": {}}
        should: list[dict] = []
        if len(terms) > 1:
            should.append({"match": {field: {"query": " ".join(terms[:-1])}}})
        should.append({"prefix": {field: terms[-1]}})
        return {"bool": {"should": should, "minimum_should_match": 1}}
    return q


def _span_terms(clause: dict) -> tuple[str, list[str]]:
    """(field, terms) of a span_term / span_or-of-span_terms clause."""
    (k, b), = clause.items()
    if k == "span_term":
        (f, v), = b.items()
        v = v["value"] if isinstance(v, dict) else v
        return f, [str(v).lower()]
    if k == "span_or":
        fields, terms = set(), []
        for c in b["clauses"]:
            f, ts = _span_terms(c)
            fields.add(f)
            terms += ts
        if len(fields) != 1:
            raise ValueError("span_or clauses must share one field")
        return fields.pop(), terms
    raise ValueError(f"span clause {k} unsupported here")


def _intervals_source_step(src: dict) -> tuple[object, str]:
    """One SINGLE-POSITION canonical step from an intervals source node:
    a concrete term (str), {"prefix": v} (Intervals.prefix — any term with
    the prefix fills the position), {"pattern": anchored-regex}
    (Intervals.wildcard via the shared analysis.wildcard_regex translation),
    {"fuzzy": [term, max_edits]} (Intervals.fuzzy; Fuzziness.AUTO resolved
    here — 0/1/2 edits at term lengths <3 / <6 / >=6 — and 0-edit fuzz
    degenerates to the concrete term), or {"any": [terms]} (Intervals.or
    over single terms). Returns
    (step, display). Multi-position sources nested inside all_of/any_of
    (multi-term match children, nested all_of) are genuinely nested interval
    algebra — unsupported, raised loudly."""
    _reject_source_filter(src)
    (sk, sb), = src.items()
    if sk == "match":
        terms = analysis.analyze(sb["query"] if isinstance(sb, dict) else sb)
        if len(terms) != 1:
            raise ValueError(
                "intervals all_of/any_of children support single-term match "
                f"sources (got {len(terms)} terms)"
            )
        return terms[0], terms[0]
    if sk == "prefix":
        v = str(sb["prefix"] if isinstance(sb, dict) else sb).lower()
        return {"prefix": v}, v + "*"
    if sk == "wildcard":
        p = str(sb["pattern"] if isinstance(sb, dict) else sb).lower()
        return {"pattern": analysis.wildcard_regex(p)}, p
    if sk == "fuzzy":
        t = str(sb["term"] if isinstance(sb, dict) else sb).lower()
        raw = sb.get("fuzziness", "AUTO") if isinstance(sb, dict) else "AUTO"
        if isinstance(raw, str) and raw.upper() == "AUTO":
            # Fuzziness.AUTO (Fuzziness.java): 0 edits under 3 chars,
            # 1 for 3-5, 2 from 6 up
            k = 0 if len(t) < 3 else (1 if len(t) < 6 else 2)
        else:
            k = int(raw)
        if k == 0:
            return t, t
        return {"fuzzy": [t, k]}, f"{t}~{k}"
    if sk == "any_of":
        terms = []
        for child in sb["intervals"]:
            st, _ = _intervals_source_step(child)
            if not isinstance(st, str):
                raise ValueError(
                    "intervals any_of supports single-term match children"
                )
            terms.append(st)
        if not terms:
            raise ValueError("intervals any_of needs at least one child")
        return {"any": terms}, "(" + "|".join(terms) + ")"
    raise ValueError(f"unsupported intervals source: {sk}")


def _intervals_source(spec: dict) -> dict:
    """Canonical match-source for a non-`match` intervals source
    (IntervalsSourceProvider: prefix / wildcard / any_of / all_of). all_of
    maps its single-position children onto the `steps` chain with its own
    ordered/max_gaps; a standalone prefix/wildcard/fuzzy/any_of becomes a
    single-step source (each surviving occurrence a width-0 interval).
    Source filters were rejected by normalize_query (this source) and by
    _intervals_source_step (every child)."""
    (sk, sb), = spec.items()
    if sk == "all_of":
        steps, disp = [], []
        for child in sb["intervals"]:
            st, d = _intervals_source_step(child)
            steps.append(st)
            disp.append(d)
        return {
            "query": " ".join(disp),
            "steps": steps,
            "ordered": bool(sb.get("ordered", False)),
            "max_gaps": int(sb.get("max_gaps", -1)),
        }
    st, d = _intervals_source_step(spec)
    return {"query": d, "steps": [st]}


def _rewrite_span(kind: str, body: dict) -> dict:
    """Span family -> match / intervals rewrites (Span*QueryBuilder.java, reg
    SearchModule.java:803-813). Single-term spans score exactly like the
    equivalent term query (SpanTermQuery sloppyFreq == tf under BM25); span_or
    rewrites to the OR match (documented divergence: Lucene scores the merged
    span enumeration, we sum per-term BM25 — same matches, close scores);
    span_near/span_first/span_not map onto the positions-interval machinery
    with `span_stream` set, so the freq follows SpanScorer's PER-START span
    stream (NearSpansOrdered/NearSpansUnordered emit one span per lead
    advance, no containment minimization — 'a a b' near 'a b' scores 1.5),
    while plain intervals queries keep IntervalQuery's minimal-interval
    algebra (semantics notes on _intervals)."""
    if kind == "span_term":
        f, ts = _span_terms({kind: body})
        return {"match": {f: {"query": ts[0]}}}
    if kind == "span_or":
        f, ts = _span_terms({kind: body})
        return {"match": {f: {"query": " ".join(ts)}}}
    if kind == "span_near":
        # clauses: span_term, span_multi wrapping prefix (SpanMultiTerm-
        # QueryBuilder reg :808 nested in SpanNear — one chain position
        # accepts ANY term matching the multi-term query; carried as a
        # {"prefix": v} step through the intervals machinery), or
        # field_masking_span (FieldMaskingSpanQueryBuilder reg :807 — the
        # step's positions come from the INNER field's token stream while the
        # mask satisfies the same-field check; carried as a per-step source
        # field through the intervals machinery, ES's documented best-effort
        # cross-field proximity)
        fields, steps, step_fields = set(), [], []
        gaps: list[int] = []  # required separation between adjacent steps
        pending_gap = 0
        any_multi = any_mask = False
        for c in body["clauses"]:
            (ck, cb), = c.items()
            if ck == "span_gap":
                # SpanGapQueryBuilder (reg SearchModule.java:811): a fixed
                # w-position placeholder between adjacent spans — consumes w
                # positions of the window without consuming slop; only
                # meaningful inside an in_order span_near (Lucene SpanGap)
                (f, w), = cb.items()
                fields.add(f)
                if not steps:
                    raise ValueError("span_gap cannot lead a span_near")
                pending_gap += int(w)
                continue
            if steps:  # close the separation slot before this step
                gaps.append(pending_gap)
                pending_gap = 0
            if ck == "span_multi":
                (mk, mb), = cb["match"].items()
                if mk != "prefix":
                    raise ValueError("span_multi in span_near supports prefix")
                (f, v), = mb.items()
                v = v["value"] if isinstance(v, dict) else v
                fields.add(f)
                steps.append({"prefix": str(v).lower()})
                step_fields.append(None)
                any_multi = True
                continue
            if ck == "field_masking_span":
                (ik, ib), = cb["query"].items()
                if ik != "span_term":
                    raise ValueError(
                        "field_masking_span in span_near supports a span_term inner"
                    )
                f_in, ts = _span_terms({ik: ib})
                fields.add(cb["field"])  # the mask joins the outer field
                steps.append(ts[0])
                step_fields.append(f_in)
                any_mask = True
                continue
            f, ts = _span_terms(c)
            if len(ts) != 1:
                raise ValueError(
                    "span_near supports span_term/span_multi/field_masking_span clauses"
                )
            fields.add(f)
            steps.append(ts[0])
            step_fields.append(None)
        if len(fields) != 1:
            raise ValueError("span_near clauses must share one field")
        if pending_gap:
            raise ValueError("span_gap cannot trail a span_near")
        outer = fields.pop()
        src = {
            "query": " ".join(t if isinstance(t, str) else t["prefix"] + "*" for t in steps),
            "ordered": bool(body.get("in_order", True)),
            "max_gaps": int(body.get("slop", 0)),
            # span queries score the SpanScorer per-start stream, not the
            # minimal-interval set (see _intervals)
            "span_stream": True,
        }
        if any_multi:
            src["steps"] = steps
        if any_mask:
            if any_multi:
                raise ValueError(
                    "span_near cannot mix span_multi and field_masking_span clauses"
                )
            src["steps"] = steps
            src["fields"] = [sf or outer for sf in step_fields]
        if any(gaps):
            if not src["ordered"]:
                raise ValueError("span_gap needs in_order: true")
            src["steps"] = steps
            src["gaps"] = gaps
        return {"intervals": {outer: {"match": src}}}
    if kind == "span_first":
        f, ts = _span_terms(body["match"])
        if len(ts) != 1:
            raise ValueError("span_first supports a span_term match")
        return {
            "intervals": {
                f: {
                    "match": {
                        "query": ts[0],
                        "first_end": int(body["end"]),
                        # single-occurrence streams: per-start == minimal,
                        # flagged for uniformity
                        "span_stream": True,
                    }
                }
            }
        }
    if kind == "span_not":
        (ik, ib), = body["include"].items()
        f_ex, ex_terms = _span_terms(body["exclude"])
        if ik == "span_term":
            f_in, ts = _span_terms(body["include"])
            src = {"query": ts[0], "span_stream": True}
        elif ik == "span_near":
            inner = _rewrite_span("span_near", ib)
            (f_in, sp), = inner["intervals"].items()
            src = dict(sp["match"])
        else:
            raise ValueError("span_not include must be span_term or span_near")
        if f_ex != f_in:
            raise ValueError("span_not include/exclude must share one field")
        src["not_query"] = " ".join(ex_terms)
        return {"intervals": {f_in: {"match": src}}}
    if kind in ("span_within", "span_containing"):
        # SpanWithinQueryBuilder reg :805 / SpanContainingQueryBuilder reg
        # :809: little span enclosed by a big span. At document granularity
        # the two match the SAME set; they differ in which span stream is
        # scored (within_mode): span_within scores the LITTLE spans (freq =
        # count of enclosed little occurrences, sloppyFreq 1 per single-term
        # span), span_containing the BIG spans (freq = Σ 1/(1+slop) over
        # minimal big spans containing a little). Both rewrite to the
        # containment intervals source.
        f_l, lts = _span_terms(body["little"])
        if len(lts) != 1:
            raise ValueError("span_within/containing little must be a span_term")
        (bk, bb), = body["big"].items()
        if bk == "span_term":
            f_b, bts = _span_terms(body["big"])
            gaps = -1
        elif bk == "span_near":
            if not bool(bb.get("in_order", True)):
                raise ValueError("span_within/containing big span_near must be in_order")
            fields, bts = set(), []
            for c in bb["clauses"]:
                f_c, ts = _span_terms(c)
                if len(ts) != 1:
                    raise ValueError("big span_near supports span_term clauses")
                fields.add(f_c)
                bts += ts
            if len(fields) != 1:
                raise ValueError("big span_near clauses must share one field")
            f_b = fields.pop()
            gaps = int(bb.get("slop", 0))
        else:
            raise ValueError("span_within/containing big must be span_term or span_near")
        if f_l != f_b:
            raise ValueError("span_within/containing little/big must share one field")
        return {
            "intervals": {
                f_l: {
                    "match": {
                        "query": lts[0],
                        "within_query": " ".join(bts),
                        "within_gaps": gaps,
                        "within_mode": (
                            "little" if kind == "span_within" else "big"
                        ),
                        "span_stream": True,
                    }
                }
            }
        }
    raise ValueError(kind)


def compile_query(
    query: dict,
    docs: DataFrame,
    key_cols: list[str],
    text_col: str = "text",
) -> DataFrame:
    """Compile an ES query dict to a DataFrame of (key_cols..., score) matches.

    The top level is a scoring context: term/terms leaves score idf (see
    _scored_leaf); predicate-only leaves score like their Lucene rewrites.
    """
    ctx = _Ctx(docs, key_cols, text_col)
    return _scored_leaf(ctx, normalize_query(query))


def search(
    docs: DataFrame,
    query: dict,
    key_cols: list[str],
    k: int = 10,
    text_col: str = "text",
) -> DataFrame:
    """Top-k search: compile, score, deterministic top-k (SearchService defaults
    size=10, SearchService.java:165-166)."""
    return M.top_k(compile_query(query, docs, key_cols, text_col), key_cols, k)


# --------------------------------------------------------------------- leaves
def _keyword_idf_scored(ctx: _Ctx, col: str, values: list) -> DataFrame:
    """term/terms in scoring context: score == idf(value) on a norms-less field."""
    df_per_val = (
        ctx.docs.groupBy(col).agg(F.count(F.lit(1)).alias("df"))
        .where(F.col(col).isin(values))
    )
    n = ctx.docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        ctx.docs.where(F.col(col).isin(values))
        .join(F.broadcast(df_per_val), col)
        .crossJoin(F.broadcast(n))
        .select(*ctx.key_cols, F.expr(scoring.idf_sql("n_docs", "df")).alias("score"))
    )
    return scored


def _match(ctx: _Ctx, body: dict) -> Compiled:
    (field, spec), = body.items()
    if isinstance(spec, str):
        spec = {"query": spec}
    cand = ctx.docs if ctx.base_pred is None else ctx.docs.where(ctx.base_pred)
    scored = M.match_scores(
        cand,
        spec["query"],
        ctx.key_cols,
        text_col=field,
        operator=spec.get("operator", "or"),
        minimum_should_match=spec.get("minimum_should_match"),
        stats=M.corpus_stats(
            ctx.docs, ctx.key_cols,
            list(dict.fromkeys(analysis.analyze(spec["query"]))), field,
        ),
    )
    return Compiled(scored=scored)


def sloppy_pf_expr(qterms: list[str], slop: int, dialect: str, toks: str = "toks") -> str:
    """Sloppy-phrase freq as a lambda-SQL expression over a token array, in
    either dialect (spark higher-order functions / duckdb list lambdas) so
    the engine and the DuckDB oracle share one definition.

    Semantics (MatchPhraseQueryBuilder slop / Lucene SloppyPhraseMatcher
    adjusted positions): term i at position p has adjusted position
    p + (m-1-i); for every candidate window start `a` (any adjusted
    occurrence), greedily take each term's smallest adjusted occurrence in
    [a, a+slop]; if all m exist the window is a minimal match of width
    w = max(chosen) - a and contributes 1/(1+w) to the phrase freq
    (documented divergence: Lucene's greedy scorer may count overlapping
    windows differently; the matched DOC set is identical for phrases with
    no repeated term, which the compilers enforce)."""
    m = len(qterms)
    if dialect == "spark":
        def adj(i, t):
            tq = "'" + t.replace("'", "\\'") + "'"
            return (
                f"transform(filter(sequence(0, size({toks}) - 1), "
                f"p{i} -> element_at({toks}, cast(p{i} + 1 as int)) = {tq}), "
                f"q{i} -> q{i} + {m - 1 - i})"
            )
        cast0 = "cast(0.0 as double)"
    elif dialect == "duckdb":
        def adj(i, t):
            tq = "'" + t.replace("'", "''") + "'"
            return (
                f"list_transform(list_filter(generate_series(1, len({toks})), "
                f"p{i} -> {toks}[p{i}] = {tq}), q{i} -> q{i} + {m - 1 - i})"
            )
        cast0 = "0.0"
    else:
        raise ValueError(dialect)
    adjs = [adj(i, t) for i, t in enumerate(qterms)]
    if dialect == "spark":
        anchors = f"array_distinct(flatten(array({', '.join(adjs)})))"
        chosen = [
            f"array_min(filter({a}, x{i} -> x{i} >= a AND x{i} <= a + {slop}))"
            for i, a in enumerate(adjs)
        ]
    else:
        anchors = f"list_distinct(flatten([{', '.join(adjs)}]))"
        chosen = [
            f"list_min(list_filter({a}, x{i} -> x{i} >= a AND x{i} <= a + {slop}))"
            for i, a in enumerate(adjs)
        ]
    allok = " AND ".join(f"({c}) IS NOT NULL" for c in chosen)
    width = f"greatest({', '.join(chosen)}) - a" if m > 1 else f"({chosen[0]}) - a"
    contrib = (
        f"case when {allok} then 1.0 / (1.0 + cast({width} as double)) else {cast0} end"
    )
    if dialect == "spark":
        return f"aggregate({anchors}, {cast0}, (acc, a) -> acc + ({contrib}))"
    return f"coalesce(list_sum(list_transform({anchors}, a -> {contrib})), 0.0)"


def _match_phrase(ctx: _Ctx, body: dict) -> Compiled:
    (field, spec), = body.items()
    if isinstance(spec, str):
        spec = {"query": spec}
    qterms = analysis.analyze(spec["query"])
    if not qterms:
        return Compiled(predicate=F.lit(False))
    slop = int(spec.get("slop", 0))
    if slop > 0 and len(set(qterms)) != len(qterms):
        raise ValueError("slop > 0 with repeated phrase terms is unsupported")
    stats = M.corpus_stats(ctx.docs, ctx.key_cols, list(set(qterms)), field)
    cand = ctx.docs if ctx.base_pred is None else ctx.docs.where(ctx.base_pred)
    toks = cand.select(*ctx.key_cols, analysis.tokens(field).alias("toks"))
    toks = toks.select(*ctx.key_cols, F.size("toks").alias("dl"), "toks")
    if slop > 0:
        pf = toks.select(
            *ctx.key_cols, "dl",
            F.expr(sloppy_pf_expr(qterms, slop, "spark")).alias("pf"),
        ).where(F.col("pf") > 0)
    else:
        # phrase freq: positions p with toks[p..p+m] == qterms (slop=0 default,
        # index/search/MatchQuery.java:144); JVM-side via higher-order functions.
        pos_ok = F.filter(
            F.sequence(F.lit(0), F.size("toks") - len(qterms)),
            lambda p: reduce(
                lambda a, b: a & b,
                [F.element_at("toks", (p + i + 1).cast("int")) == F.lit(t) for i, t in enumerate(qterms)],
            ),
        )
        pf = toks.select(*ctx.key_cols, "dl", F.size(pos_ok).alias("pf")).where(
            (F.col("pf") > 0) & (F.size("toks") >= len(qterms))
        )
    # PhraseQuery idf = sum of per-term idf (Lucene PhraseWeight/Similarity.computeWeight)
    idf_sum = stats.term_df.crossJoin(F.broadcast(stats.n_and_avgdl)).agg(
        F.sum(F.expr(scoring.idf_sql("n_docs", "df"))).alias("idf"),
        F.first("avgdl").alias("avgdl"),
    )
    dl_q = F.expr(scoring.quantized_dl_sql("dl", "spark"))
    norm = F.lit(scoring.K1) * (
        F.lit(1.0 - scoring.B) + F.lit(scoring.B) * dl_q.cast("double") / F.col("avgdl")
    )
    scored = pf.crossJoin(F.broadcast(idf_sum)).select(
        *ctx.key_cols,
        (F.col("idf") * F.lit(scoring.K1 + 1.0) * F.col("pf") / (F.col("pf") + norm)).alias("score"),
    )
    return Compiled(scored=scored)


def _multi_term(ctx: _Ctx, field: str, term_pred) -> Compiled:
    """prefix/wildcard/fuzzy: expand against per-doc token sets, constant score."""
    cand = ctx.docs if ctx.base_pred is None else ctx.docs.where(ctx.base_pred)
    hit = F.exists(analysis.tokens(field), term_pred)
    return Compiled(scored=cand.where(hit).select(*ctx.key_cols, F.lit(1.0).alias("score")))


def _terms_lookup(ctx: _Ctx, spec: dict) -> list:
    """Resolve a terms-lookup spec {"id": "conv#turn", "path": col} to the
    referenced doc's value(s) of `path` — one point read, like ES's GET."""
    if "id" not in spec or "path" not in spec:
        raise ValueError("terms lookup requires id and path")
    conv, _, turn = spec["id"].partition("#")
    rows = (
        ctx.docs.where((F.col("conv_id") == conv) & (F.col("turn_idx") == int(turn)))
        .select(spec["path"])
        .collect()
    )
    if not rows:
        return []
    v = rows[0][0]
    vals = list(v) if isinstance(v, (list, tuple)) else [v]
    return [x for x in vals if x is not None]


def _ids_pred(ctx: _Ctx, values: list[str]) -> Column:
    """_id = conv_id + '#' + turn_idx (derived doc identity, IdFieldMapper analog)."""
    idc = F.concat_ws("#", *[F.col(c).cast("string") for c in ctx.key_cols])
    return idc.isin(values)


def _compile(q: dict, ctx: _Ctx) -> Compiled:
    q = normalize_query(q)
    if len(q) != 1:
        raise ValueError(f"query object must have exactly one key, got {list(q)}")
    (kind, body), = q.items()
    if kind == "match_all":
        return Compiled(predicate=F.lit(True))
    if kind == "match_none":
        return Compiled(predicate=F.lit(False))
    if kind == "match":
        return _match(ctx, body)
    if kind == "match_phrase":
        return _match_phrase(ctx, body)
    if kind == "term":
        (field, v), = body.items()
        v = v["value"] if isinstance(v, dict) else v
        return Compiled(predicate=M.term_filter(field, v))
    if kind == "terms":
        (field, vs), = body.items()
        if isinstance(vs, dict):
            # terms lookup (indices/TermsLookup.java:43-62; TermsQueryBuilder
            # fetch-then-rewrite): GET the referenced doc, use its `path`
            # field's value(s) as the terms list. The GET analog is a pruned
            # point read collected on the driver (ES does the same single-doc
            # fetch on the coordinating node before rewriting).
            return Compiled(predicate=M.terms_filter(field, _terms_lookup(ctx, vs)))
        return Compiled(predicate=M.terms_filter(field, list(vs)))
    if kind == "range":
        (field, spec), = body.items()
        return Compiled(predicate=M.range_filter(field, **{k: v for k, v in spec.items() if k in ("gt", "gte", "lt", "lte")}))
    if kind == "exists":
        return Compiled(predicate=M.exists_filter(body["field"]))
    if kind == "ids":
        return Compiled(predicate=_ids_pred(ctx, body["values"]))
    if kind == "prefix":
        (field, v), = body.items()
        v = v["value"] if isinstance(v, dict) else v
        return _multi_term(ctx, field, lambda t: t.startswith(v))
    if kind == "wildcard":
        (field, v), = body.items()
        v = v["value"] if isinstance(v, dict) else v
        pat = analysis.wildcard_regex(v)
        return _multi_term(ctx, field, lambda t: t.rlike(pat))
    if kind == "regexp":
        # regexp query (RegexpQueryBuilder.java, reg SearchModule.java:797):
        # anchored whole-term regex over the token dictionary, constant-score
        # multi-term rewrite. Lucene RegExp syntax's common core (literals,
        # classes, ., *, +, ?, |, ()) coincides with Java/RE2 used here;
        # Lucene extensions (~, #, interval <n-m>) are unsupported.
        (field, v), = body.items()
        v = v["value"] if isinstance(v, dict) else v
        return _multi_term(ctx, field, lambda t: t.rlike(f"^{v}$"))
    if kind == "fuzzy":
        (field, v), = body.items()
        spec = v if isinstance(v, dict) else {"value": v}
        val, fz = spec["value"], int(spec.get("fuzziness", 2))
        return _multi_term(ctx, field, lambda t: F.levenshtein(t, F.lit(val)) <= fz)
    if kind == "constant_score":
        inner = _compile(body["filter"], ctx)
        boost = float(body.get("boost", 1.0))
        d = inner.as_scored(ctx)
        return Compiled(scored=d.select(*ctx.key_cols, F.lit(boost).alias("score")))
    if kind == "bool":
        return _bool(ctx, body)
    if kind == "dis_max":
        return _dis_max(ctx, body)
    if kind == "boosting":
        return _boosting(ctx, body)
    if kind == "multi_match_cross":
        return _multi_match_cross(ctx, body)
    if kind == "match_phrase_prefix":
        return _match_phrase_prefix(ctx, body)
    if kind == "terms_set":
        return _terms_set(ctx, body)
    if kind == "distance_feature":
        return _distance_feature(ctx, body)
    if kind == "function_score":
        return _function_score(ctx, body)
    if kind == "more_like_this":
        return _more_like_this(ctx, body)
    if kind == "intervals":
        return _intervals(ctx, body)
    if kind == "has_child":
        return _has_child(ctx, body)
    if kind == "has_parent":
        return _has_parent(ctx, body)
    if kind == "parent_id":
        # ParentIdQueryBuilder.java:135-142: children routed to the given
        # parent id. Join-field analog on transcripts: parent = the
        # conversation opener (turn_idx = 0), children = later turns,
        # routing key = conv_id.
        pid = body["id"]
        return Compiled(
            predicate=(F.col("conv_id") == F.lit(pid)) & (F.col("turn_idx") > 0)
        )
    if kind == "script":
        # script query (ScriptQueryBuilder.java, reg SearchModule.java:827):
        # per-doc boolean script as a filter. Painless expression subset
        # translated to a Catalyst predicate (functions/painless.py);
        # constant-score 1.0 in scoring context like other filters.
        from ..functions import painless

        return Compiled(predicate=F.expr(painless.script_sql(body["script"])))
    if kind == "rank_feature":
        return _rank_feature(ctx, body)
    raise ValueError(f"unsupported query kind: {kind}")


def _rank_feature(ctx: _Ctx, body: dict) -> Compiled:
    """rank_feature query (mapper-extras RankFeatureQueryBuilder.java:47-294):
    scores a positive per-doc feature value S through one of
      saturation: boost * S / (S + pivot)
      log:        boost * ln(scaling_factor + S)
      sigmoid:    boost * S^exp / (S^exp + pivot^exp)
    Docs with a null or non-positive feature don't match (rank_feature
    fields index positive values only). The pivot must be explicit (ES's
    computed-default pivot needs index stats; fail loudly instead)."""
    f_ = body["field"]
    boost = float(body.get("boost", 1.0))
    v = F.col(f_).cast("double")
    specs = {k: body[k] for k in ("saturation", "log", "sigmoid") if k in body}
    if len(specs) != 1:
        raise ValueError("rank_feature needs exactly one of saturation/log/sigmoid")
    (fn, spec), = specs.items()
    if fn == "saturation":
        if "pivot" not in spec:
            raise ValueError("rank_feature saturation requires an explicit pivot")
        pivot = float(spec["pivot"])
        score = v / (v + F.lit(pivot))
    elif fn == "log":
        score = F.log(F.lit(float(spec["scaling_factor"])) + v)  # Math.log = ln
    else:
        pivot, exp = float(spec["pivot"]), float(spec["exponent"])
        score = F.pow(v, F.lit(exp)) / (F.pow(v, F.lit(exp)) + F.lit(pivot**exp))
    cand = ctx.docs if ctx.base_pred is None else ctx.docs.where(ctx.base_pred)
    cand = cand.where(v.isNotNull() & (v > 0))
    return Compiled(
        scored=cand.select(*ctx.key_cols, (F.lit(boost) * score).alias("score"))
    )


# ------------------------------------------------------------- parent-join
# Join-field analog (modules/parent-join): parent and child documents live in
# the SAME index, related by a routing key. On transcripts the natural
# relation is conversation-opener -> later turns: parent doc = turn_idx 0,
# child docs = turn_idx > 0, join/routing key = conv_id (every child routes
# to its parent's shard — exactly ES's parent-join routing requirement).
# Inner-query scores use whole-index stats (parent and child docs share one
# Lucene index in ES), so the child/parent restriction is a candidate filter
# (base_pred), never a stats filter.
def _parent_pred() -> Column:
    return F.col("turn_idx") == 0


def _child_pred() -> Column:
    return F.col("turn_idx") > 0


def _has_child(ctx: _Ctx, body: dict) -> Compiled:
    """has_child (HasChildQueryBuilder.java:93-100,385-402): return PARENT
    docs with >= min_children / <= max_children matching children; parent
    score per score_mode (none -> constant 1, else min/max/sum/avg of child
    scores — Lucene join ScoreMode)."""
    mode = body.get("score_mode", "none")
    min_children = int(body.get("min_children", 1))  # DEFAULT_MIN_CHILDREN=1
    max_children = body.get("max_children")  # DEFAULT_MAX_CHILDREN=MAX_INT
    if mode not in ("none", "sum", "max", "min", "avg"):
        raise ValueError(f"has_child score_mode {mode!r} unsupported")
    inner_ctx = _Ctx(ctx.docs, ctx.key_cols, ctx.text_col, base_pred=_child_pred())
    # base_pred prunes candidates early; the .where is the semantic filter
    # (some scored leaves, e.g. keyword-idf term, ignore base_pred)
    child = _scored_leaf(inner_ctx, normalize_query(body["query"])).where(_child_pred())
    agg = {
        "none": F.first(F.lit(1.0)),
        "sum": F.sum("score"),
        "max": F.max("score"),
        "min": F.min("score"),
        "avg": F.avg("score"),
    }[mode]
    per_parent = child.groupBy("conv_id").agg(
        agg.alias("_cscore"), F.count(F.lit(1)).alias("_nc")
    )
    nc_ok = F.col("_nc") >= min_children
    if max_children is not None:
        nc_ok = nc_ok & (F.col("_nc") <= int(max_children))
    per_parent = per_parent.where(nc_ok)
    parents = ctx.docs.where(_parent_pred())
    if ctx.base_pred is not None:
        parents = parents.where(ctx.base_pred)
    # per-parent side is one row per matching conversation — small relative
    # to the corpus after the child agg; AQE broadcast-joins it at runtime
    scored = parents.join(per_parent, "conv_id").select(
        *ctx.key_cols, F.col("_cscore").cast("double").alias("score")
    )
    return Compiled(scored=scored)


def _has_parent(ctx: _Ctx, body: dict) -> Compiled:
    """has_parent (HasParentQueryBuilder.java:63-77): return CHILD docs whose
    parent matches; score=false (default) -> constant 1, true -> parent's
    score propagated to every child."""
    want_score = bool(body.get("score", False))
    inner_ctx = _Ctx(ctx.docs, ctx.key_cols, ctx.text_col, base_pred=_parent_pred())
    parent = _scored_leaf(inner_ctx, normalize_query(body["query"])).where(_parent_pred())
    pp = parent.select("conv_id", F.col("score").alias("_pscore"))
    children = ctx.docs.where(_child_pred())
    if ctx.base_pred is not None:
        children = children.where(ctx.base_pred)
    score_col = F.col("_pscore") if want_score else F.lit(1.0)
    scored = children.join(pp, "conv_id").select(
        *ctx.key_cols, score_col.cast("double").alias("score")
    )
    return Compiled(scored=scored)


def _intervals(ctx: _Ctx, body: dict) -> Compiled:
    """intervals query, `match` source (IntervalQueryBuilder.java +
    IntervalsSourceProvider.java `match`, reg SearchModule.java:841): doc
    matches when the analyzed terms occur within an interval of width
    max(pos)-min(pos)-(m-1) <= max_gaps, in query order when ordered=true.

    Scoring follows the Lucene family that owns the shape:

    - intervals queries (no `span_stream`): freq = sum of 1/(1 + slop) over
      the MINIMAL interval set (interval minimization — no kept interval
      contains another), IntervalQuery's minimal-interval algebra.
    - span rewrites (`span_stream`, set by _rewrite_span): freq follows
      SpanScorer's PER-START span stream with NO containment minimization.
      NearSpansOrdered emits the greedy (stretchToOrder) chain per lead
      occurrence with matchWidth = sum of inter-span gaps, sloppy factor
      1/(1 + gaps) — so 'a a b' under near(a, b) scores 0.5 + 1.0 = 1.5.
      NearSpansUnordered emits one window per min-start advance
      ([s, max over labels of the next occurrence >= s]); its slop CHECK is
      maxEnd - minStart - totalSpanLength <= slop but its width() is
      START-TO-START, so the sloppy factor is 1/(1 + (end - start)) — a
      real Lucene asymmetry vs the ordered factor. Exception: unordered
      NON-PLAIN pairs (masked / prefix-expanded / duplicate steps, whose
      occurrence sets may overlap) keep the per-end minimal-window form —
      Lucene's walk is heap-tie-order-dependent on overlapping subspans,
      and ES documents masked proximity as best-effort.

    Single-term shapes contribute 1 per surviving occurrence (width-0
    spans) under both algebras; within/containing score their respective
    span streams (within_mode), testing containment against EMITTED (greedy
    per-start) big spans when span_stream is set. The freq is then fed
    through the field similarity exactly as SpanWeight does
    (SimScorer.score(freq, norm), _bm25_wrap below; weight = idf over the
    query's distinct concrete terms — tuple expansion steps and span_not
    exclusions contribute none).
    """
    (field, spec), = body.items()
    src = spec["match"]
    # steps: per-position term specs (str, or {"prefix": v} from span_multi
    # nested in span_near — ANY token with the prefix fills that position)
    qterms = src.get("steps") or analysis.analyze(src["query"])
    if not qterms:
        return Compiled(predicate=F.lit(False))
    max_gaps = int(src.get("max_gaps", -1))
    ordered = bool(src.get("ordered", False))
    span_stream = bool(src.get("span_stream", False))
    first_end = src.get("first_end")
    not_terms = analysis.analyze(src["not_query"]) if src.get("not_query") else []
    m = len(qterms)
    # mirror the indexed lowering's validations (operators/topk.py:618-627):
    # never silently drop an exclusion or boundary the branch below ignores
    if src.get("within_query"):
        if m != 1 or not_terms or first_end is not None:
            raise ValueError(
                "within_query needs a single little term and no not_query/first_end"
            )
    else:
        if first_end is not None and m != 1:
            raise ValueError("first_end (span_first) supports a single term")
        if not_terms and not (ordered or m == 1):
            raise ValueError("not_query (span_not) needs ordered or single-term")
    cand = ctx.docs if ctx.base_pred is None else ctx.docs.where(ctx.base_pred)
    # per-step source fields (field_masking_span inside span_near): step i's
    # positions come from sfields[i]'s token stream; not_query/within_query/
    # first_end always read the outer field
    sfields = src.get("fields") or [field] * m
    if len(sfields) != m:
        raise ValueError("intervals `fields` must align with the steps")
    if src.get("fields") and (src.get("within_query") or first_end is not None):
        raise ValueError("per-step fields support plain ordered/unordered chains")
    # span_gap separations: gaps[i] positions must sit strictly between step
    # i and step i+1; gap widths consume window, not slop
    gaps = src.get("gaps") or [0] * max(m - 1, 0)
    gap_total = sum(gaps)
    if len(gaps) != max(m - 1, 0):
        raise ValueError("intervals `gaps` must have one entry per adjacency")
    if gap_total and (not ordered or src.get("within_query") or first_end is not None):
        raise ValueError("gaps (span_gap) need a plain ordered chain")

    # round 5: proximity freq feeds the field similarity exactly as
    # SpanWeight does (SimScorer.score(freq, norm)) — weight = idf summed
    # over the query's distinct concrete terms (+ within-chain terms; tuple
    # expansion steps and span_not exclusions contribute none), norm from
    # the OUTER field's quantized dl. Twin of the kernel's _sumfreq_scores
    # wrap and the oracle's _intervals_sql wrapper CTE.
    wterms_all = (
        analysis.analyze(src["within_query"]) if src.get("within_query") else []
    )

    def _bm25_wrap(freq_scored: DataFrame) -> Compiled:
        flds: dict[str, set] = {}
        for i_, t_ in enumerate(qterms):
            if not isinstance(t_, dict):
                flds.setdefault(sfields[i_], set()).add(t_)
        for t_ in wterms_all:
            flds.setdefault(field, set()).add(t_)
        stats0 = M.corpus_stats(
            ctx.docs, ctx.key_cols, sorted(flds.get(field, set())), field
        )
        idf_parts = []
        for fld_, ts_ in sorted(flds.items()):
            st = (
                stats0 if fld_ == field
                else M.corpus_stats(ctx.docs, ctx.key_cols, sorted(ts_), fld_)
            )
            idf_parts.append(
                st.term_df.crossJoin(F.broadcast(st.n_and_avgdl)).select(
                    F.expr(scoring.idf_sql("n_docs", "df")).alias("idf")
                )
            )
        if idf_parts:
            u = idf_parts[0]
            for p_ in idf_parts[1:]:
                u = u.unionByName(p_)
            # terms absent from the corpus contribute nothing (the kernel
            # binds only dictionary-present idfs); all-absent -> 1.0, the
            # expansion-only-chain convention
            wdf = u.agg(F.coalesce(F.sum("idf"), F.lit(1.0)).alias("w"))
        else:
            wdf = ctx.docs.sparkSession.range(1).select(F.lit(1.0).alias("w"))
        wdf = wdf.crossJoin(F.broadcast(stats0.n_and_avgdl.select("avgdl")))
        dl_df = ctx.docs.select(
            *ctx.key_cols, F.size(analysis.tokens(field)).alias("dl")
        )
        j = freq_scored.join(dl_df, ctx.key_cols).crossJoin(F.broadcast(wdf))
        dl_q = F.expr(scoring.quantized_dl_sql("dl", "spark"))
        norm = F.lit(scoring.K1) * (
            F.lit(1.0 - scoring.B)
            + F.lit(scoring.B) * dl_q.cast("double") / F.col("avgdl")
        )
        bm = (
            F.col("w") * F.lit(scoring.K1 + 1.0) * F.col("score")
            / (F.col("score") + norm)
        )
        return Compiled(scored=j.select(*ctx.key_cols, bm.alias("score")))
    tok_col = {f: ("toks" if f == field else f"toks_{i}")
               for i, f in enumerate(dict.fromkeys([field, *sfields]))}
    toks = cand.select(
        *ctx.key_cols,
        *[analysis.tokens(f).alias(c) for f, c in tok_col.items()],
    )

    def positions(t, src_field=field):
        # 0-based token positions of term t — or of any token matching a
        # composite step: {"prefix"} (span_multi / Intervals.prefix),
        # {"pattern"} (Intervals.wildcard, anchored regex), {"any"}
        # (Intervals.or over single terms)
        if isinstance(t, dict):
            if "prefix" in t:
                tok_ok = lambda tok: tok.startswith(t["prefix"])  # noqa: E731
            elif "pattern" in t:
                tok_ok = lambda tok: tok.rlike(t["pattern"])  # noqa: E731
            elif "fuzzy" in t:
                fv, fk = t["fuzzy"]
                tok_ok = lambda tok: F.levenshtein(tok, F.lit(fv)) <= fk  # noqa: E731
            else:
                tok_ok = lambda tok: tok.isin(t["any"])  # noqa: E731
        else:
            tok_ok = lambda tok: tok == F.lit(t)  # noqa: E731
        col = tok_col[src_field]
        # slice keeps the 0..size-1 range well-formed when the token stream
        # is empty (masked fields like `tool` are often ''): sequence(0, size)
        # is always non-decreasing, the slice drops the extra element
        idx = F.slice(F.sequence(F.lit(0), F.size(col)), 1, F.size(col))
        return F.filter(
            idx, lambda i: tok_ok(F.element_at(col, (i + 1).cast("int")))
        )

    def ex_positions():
        ps = [positions(t) for t in not_terms]
        return ps[0] if len(ps) == 1 else F.concat(*ps)

    within_q = src.get("within_query")
    if within_q:
        # span_within / span_containing: little (single term) occurrence q
        # inside a big ordered chain [pb, pc] with pc-pb-1 <= within_gaps.
        # within_mode picks the scored stream (SpanWithin vs SpanContaining):
        # "little" counts enclosed little occurrences (sloppyFreq 1 per
        # single-term span); "big" sums 1/(1+slop) over the minimal big
        # spans (per-start greedy ends, same-end dedup — the ordered-chain
        # convention) that contain a little occurrence.
        wterms = analysis.analyze(within_q)
        if m != 1 or not 1 <= len(wterms) <= 2:
            raise ValueError("within_query needs single little term, big arity <= 2")
        wg = int(src.get("within_gaps", -1))
        mode = src.get("within_mode", "little")
        lps = positions(qterms[0])
        if mode == "little":
            if len(wterms) == 1:
                wp = positions(wterms[0])
                kp = F.filter(
                    lps, lambda q2: F.exists(wp, lambda pb: pb == q2)
                )
            elif span_stream:
                # Lucene SpanWithinQuery tests containment against the big
                # stream's EMITTED spans only — the greedy chain per lead.
                # Checking the latest lead pb* <= q suffices: a smaller lead
                # either greedy-ends before q or shares pb*'s end at larger
                # width (proof in operators/topk.py IntervalsLeaf docstring).
                pb_a, pc_a = positions(wterms[0]), positions(wterms[1])

                def enclosed(q2):
                    pbm = F.array_max(F.filter(pb_a, lambda pb: pb <= q2))
                    e = F.array_min(F.filter(pc_a, lambda p: p > pbm))
                    c = e.isNotNull() & (e >= q2)
                    if wg >= 0:
                        c = c & (e - pbm - 1 <= wg)
                    return F.coalesce(c, F.lit(False))

                kp = F.filter(lps, enclosed)
            else:
                pb_a, pc_a = positions(wterms[0]), positions(wterms[1])

                def enclosed(q2):
                    def pair_ok(pb):
                        def end_ok(pc):
                            c = (pc >= q2) & (pc > pb)
                            if wg >= 0:
                                c = c & (pc - pb - 1 <= wg)
                            return c

                        return (pb <= q2) & F.exists(pc_a, end_ok)

                    return F.exists(pb_a, pair_ok)

                kp = F.filter(lps, enclosed)
            scored = (
                toks.select(*ctx.key_cols, F.size(kp).alias("_pf"))
                .where(F.col("_pf") > 0)
                .select(
                    *ctx.key_cols, F.col("_pf").cast("double").alias("score")
                )
            )
            return _bm25_wrap(scored)
        if len(wterms) == 1:
            # big spans are width-0 single occurrences: containing a little
            # iff they share its position; each contributes 1
            wp = positions(wterms[0])
            kp = F.filter(wp, lambda pb: F.exists(lps, lambda q2: q2 == pb))
            scored = (
                toks.select(*ctx.key_cols, F.size(kp).alias("_pf"))
                .where(F.col("_pf") > 0)
                .select(
                    *ctx.key_cols, F.col("_pf").cast("double").alias("score")
                )
            )
            return _bm25_wrap(scored)
        pb_a, pc_a = positions(wterms[0]), positions(wterms[1])

        def big_pair(pb):
            e = F.array_min(F.filter(pc_a, lambda p: p > pb))
            ok = e.isNotNull()
            return F.when(
                ok, F.struct(e.alias("e"), (e - pb - 1).alias("s"), pb.alias("b"))
            )

        pairs = F.filter(
            F.transform(pb_a, big_pair), lambda x: x.isNotNull()
        )
        base = toks.select(*ctx.key_cols, pairs.alias("_pv"), lps.alias("_lp"))
        if span_stream:
            # SpanContainingQuery scores the big stream's emitted spans:
            # one greedy chain per lead, no containment minimization
            kept = F.col("_pv")
        else:
            kept = F.filter(
                F.col("_pv"),
                lambda x: ~F.exists(
                    F.col("_pv"), lambda y: (y["e"] == x["e"]) & (y["s"] < x["s"])
                ),
            )
        if wg >= 0:
            kept = F.filter(kept, lambda x: x["s"] <= F.lit(wg))
        kept = F.filter(
            kept,
            lambda x: F.exists(
                F.col("_lp"), lambda q2: (q2 >= x["b"]) & (q2 <= x["e"])
            ),
        )
        pf = F.aggregate(
            kept, F.lit(0.0),
            lambda acc, x: acc + F.lit(1.0) / (F.lit(1.0) + x["s"]),
        )
        scored = (
            base.select(*ctx.key_cols, pf.alias("score"))
            .where(F.col("score") > 0)
        )
        return _bm25_wrap(scored)

    if m == 1:
        # each surviving occurrence is a width-0 minimal interval: score =
        # occurrence count (SpanTermQuery/span_first/span_not sloppyFreq ==
        # 1 per span) — twin of the kernel's m==1 branch
        ps = positions(qterms[0], sfields[0])
        if first_end is not None:
            ps = F.filter(ps, lambda p: p < F.lit(int(first_end)))
        if not_terms:
            ex = ex_positions()
            ps = F.filter(ps, lambda p: ~F.exists(ex, lambda q2: q2 == p))
        scored = (
            toks.select(*ctx.key_cols, F.size(ps).alias("_pf"))
            .where(F.col("_pf") > 0)
            .select(*ctx.key_cols, F.col("_pf").cast("double").alias("score"))
        )
        return _bm25_wrap(scored)
    elif ordered:
        # greedy minimal chain per start p0 (the smallest valid successor at
        # each step minimizes the final width, so the greedy end is the
        # minimal end over all chains from p0). Minimal-INTERVAL set: an
        # interval contains another iff it shares the end with a larger
        # start (ends are non-decreasing in start), so keep each (end, slop)
        # pair with no same-end smaller-slop sibling; per-doc score = sum of
        # 1/(1 + slop) over the kept intervals (Lucene sloppyFreq summation)
        # — twin of the kernel and the oracle
        def chain_end(p0):
            end = p0
            for i in range(1, m):
                e = end
                g = gaps[i - 1]
                end = F.array_min(
                    F.filter(positions(qterms[i], sfields[i]), lambda p: p > e + g)
                )
            return end

        def pair_of(p0):
            end = chain_end(p0)
            ok = end.isNotNull()
            if max_gaps >= 0:
                ok = ok & (end - p0 - (m - 1) - gap_total <= F.lit(max_gaps))
            if not_terms:
                ok = ok & ~F.exists(
                    ex_positions(), lambda q2: (q2 >= p0) & (q2 <= end)
                )
            return F.when(
                ok,
                F.struct(
                    end.alias("e"),
                    (end - p0 - (m - 1) - gap_total).alias("s"),
                ),
            )

        pairs = F.filter(
            F.transform(positions(qterms[0], sfields[0]), pair_of),
            lambda x: x.isNotNull(),
        )
        base = toks.select(*ctx.key_cols, pairs.alias("_pv")).where(
            F.size("_pv") > 0
        )
        if span_stream:
            # NearSpansOrdered: one greedy chain per lead occurrence, no
            # containment minimization ('a a b' scores 0.5 + 1.0)
            kept = F.col("_pv")
        else:
            kept = F.filter(
                F.col("_pv"),
                lambda x: ~F.exists(
                    F.col("_pv"), lambda y: (y["e"] == x["e"]) & (y["s"] < x["s"])
                ),
            )
        pf = F.aggregate(
            kept,
            F.lit(0.0),
            lambda acc, x: acc + F.lit(1.0) / (F.lit(1.0) + x["s"]),
        )
        scored = base.select(*ctx.key_cols, pf.alias("score"))
        return _bm25_wrap(scored)
    elif m == 2 and (
        any(isinstance(t, dict) for t in qterms)
        or src.get("fields")
        or len(set(map(str, qterms))) != m
    ):
        # non-plain unordered pair (prefix-expanded / masked / duplicate
        # steps — the two occurrence sets may OVERLAP, so the per-label
        # merged stream is unsound): per-END minimal windows, under BOTH
        # algebras (span_stream included) — Lucene's unordered walk is
        # heap-tie-order-dependent on overlapping subspans, and ES documents
        # masked proximity as best-effort. Every window
        # ends at some occurrence x; the narrowest window ending at x pairs
        # it with the closest strictly-earlier occurrence of the OTHER step
        # (either role when x satisfies both). Minimality = no earlier
        # window with a >= start; max_gaps after minimization; score = sum
        # of 1/(1 + slop) — twin of the kernel and the oracle.
        pa = positions(qterms[0], sfields[0])
        pb = positions(qterms[1], sfields[1])
        ends = F.array_sort(F.array_distinct(F.concat(pa, pb)))

        def pair_at(x):
            sa = F.when(
                F.array_contains(pb, x),
                F.array_max(F.filter(pa, lambda p: p < x)),
            )
            sb = F.when(
                F.array_contains(pa, x),
                F.array_max(F.filter(pb, lambda p: p < x)),
            )
            s0 = F.greatest(sa, sb)
            return F.when(
                s0.isNotNull(), F.struct(x.alias("e"), s0.alias("s0"))
            )

        pairs = F.filter(F.transform(ends, pair_at), lambda x: x.isNotNull())
        base = toks.select(*ctx.key_cols, pairs.alias("_pv")).where(
            F.size("_pv") > 0
        )
        kept = F.filter(
            F.col("_pv"),
            lambda x: ~F.exists(
                F.col("_pv"),
                lambda y: (y["e"] < x["e"]) & (y["s0"] >= x["s0"]),
            ),
        )
        if max_gaps >= 0:
            kept = F.filter(
                kept, lambda x: x["e"] - x["s0"] - 1 <= F.lit(max_gaps)
            )
        pf = F.aggregate(
            kept, F.lit(0.0),
            lambda acc, x: acc + F.lit(1.0) / (x["e"] - x["s0"]),
        )
        scored = (
            base.select(*ctx.key_cols, pf.alias("score"))
            .where(F.col("score") > 0)
        )
        return _bm25_wrap(scored)
    else:
        # unordered, plain distinct single-field terms (arity >= 3, and
        # arity-2 pairs routed here so both get freq-sum scoring): merged
        # occurrence stream + running last-seen position per label (window
        # max); the covering window ending at each occurrence is
        # [least(last_i), pos]. Minimal-INTERVAL set: window i contains an
        # earlier window j iff start_i <= start_j (ends ascend with the
        # stream), so keep i iff its start strictly exceeds the running max
        # of previous covered starts; per-doc score = sum of 1/(1 + slop)
        # over the kept windows (Lucene sloppyFreq summation) — twin of the
        # kernel and the oracle. O(total positions), one shuffle — the
        # naive per-combination form would be O(n^arity) per doc.
        if (
            any(isinstance(t, dict) for t in qterms)
            or src.get("fields")
            or not_terms
            or first_end is not None
            or len(set(map(str, qterms))) != m
        ):
            raise ValueError(
                "unordered intervals with arity > 2 need plain distinct "
                "single-field terms"
            )
        from pyspark.sql.window import Window

        u = None
        for i, t in enumerate(qterms):
            e = toks.select(
                *ctx.key_cols,
                F.explode(positions(t, sfields[i])).alias("_pos"),
                F.lit(i).alias("_label"),
            )
            u = e if u is None else u.unionByName(e)
        if span_stream:
            # NearSpansUnordered min-advance walk: every merged occurrence s
            # is the min-start of exactly one visited configuration, whose
            # window is [s, max over labels of that label's next occurrence
            # >= s]. Emitted iff end - s - (m-1) <= slop; sloppy factor uses
            # width() = START-TO-START distance (end - s), not the gap count
            # — Lucene's documented ordered/unordered asymmetry. No
            # containment minimization.
            w_f = (
                Window.partitionBy(*ctx.key_cols)
                .orderBy("_pos")
                .rowsBetween(Window.currentRow, Window.unboundedFollowing)
            )
            nps = [
                F.min(F.when(F.col("_label") == i, F.col("_pos")))
                .over(w_f)
                .alias(f"_np{i}")
                for i in range(m)
            ]
            ww = u.select(*ctx.key_cols, "_pos", *nps)
            covered = reduce(
                lambda x, y: x & y,
                [F.col(f"_np{i}").isNotNull() for i in range(m)],
            )
            end = F.greatest(*[F.col(f"_np{i}") for i in range(m)])
            slop = end - F.col("_pos") - (m - 1)
            keep = covered
            if max_gaps >= 0:
                keep = keep & (slop <= F.lit(max_gaps))
            scored = (
                ww.where(keep)
                .groupBy(*ctx.key_cols)
                .agg(
                    F.sum(
                        F.lit(1.0) / (1 + end - F.col("_pos"))
                    ).alias("score")
                )
            )
            return _bm25_wrap(scored)
        w = (
            Window.partitionBy(*ctx.key_cols)
            .orderBy("_pos")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        lps = [
            F.max(F.when(F.col("_label") == i, F.col("_pos"))).over(w).alias(f"_lp{i}")
            for i in range(m)
        ]
        ww = u.select(*ctx.key_cols, "_pos", *lps)
        covered = reduce(
            lambda x, y: x & y, [F.col(f"_lp{i}").isNotNull() for i in range(m)]
        )
        sentinel = -(1 << 62)
        ww = ww.select(
            *ctx.key_cols,
            "_pos",
            F.when(
                covered, F.least(*[F.col(f"_lp{i}") for i in range(m)])
            ).otherwise(F.lit(sentinel)).alias("_st"),
        )
        w_prev = (
            Window.partitionBy(*ctx.key_cols)
            .orderBy("_pos")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        ww = ww.select(
            *ctx.key_cols, "_pos", "_st", F.max("_st").over(w_prev).alias("_pm")
        )
        slop = F.col("_pos") - F.col("_st") - (m - 1)
        keep = (F.col("_st") > F.lit(sentinel)) & (
            F.col("_pm").isNull() | (F.col("_st") > F.col("_pm"))
        )
        if max_gaps >= 0:
            keep = keep & (slop <= F.lit(max_gaps))
        scored = (
            ww.where(keep)
            .groupBy(*ctx.key_cols)
            .agg(F.sum(F.lit(1.0) / (1 + slop)).alias("score"))
        )
        return _bm25_wrap(scored)


def _more_like_this(ctx: _Ctx, body: dict) -> Compiled:
    """more_like_this (MoreLikeThisQueryBuilder, reg SearchModule.java:814):
    extract salient terms from the liked docs, run an OR match.

    Term selection (deterministic twin of the oracle SQL):
      candidate terms = terms of the liked docs with aggregate tf >=
      min_term_freq and corpus df >= min_doc_freq; salience = tf * BM25-idf
      (we reuse the engine's idf rather than Lucene's classic-similarity idf —
      documented divergence, same ranking behavior); top max_query_terms by
      (salience desc, term asc). minimum_should_match "30%" of selected
      terms; liked docs are excluded from results (include=false default).
    """
    field = (body.get("fields") or ["text"])[0]
    like = body["like"] if isinstance(body["like"], list) else [body["like"]]
    mqt = int(body.get("max_query_terms", 25))
    mtf = int(body.get("min_term_freq", 2))
    mdf = int(body.get("min_doc_freq", 5))
    msm_raw = body.get("minimum_should_match", "30%")

    like_ids = [x["_id"] for x in like if isinstance(x, dict)]
    like_texts = [x for x in like if isinstance(x, str)]

    # Term selection runs as ONE DataFrame job; the driver only collects the
    # <= max_query_terms selected terms (25 rows), never liked-doc text or
    # per-term stats — liked docs may be arbitrarily many/long at scale.
    liked_tok = None
    if like_ids:
        idc = F.concat_ws("#", *[F.col(c).cast("string") for c in ctx.key_cols])
        liked_tok = ctx.docs.where(idc.isin(like_ids)).select(
            F.explode(analysis.tokens(field)).alias("term")
        )
    if like_texts:
        txt = ctx.docs.sparkSession.createDataFrame(
            [(t,) for t in like_texts], f"{field} string"
        ).select(F.explode(analysis.tokens(field)).alias("term"))
        liked_tok = txt if liked_tok is None else liked_tok.unionByName(txt)
    if liked_tok is None:
        return Compiled(predicate=F.lit(False))
    ltf = (
        liked_tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("ltf"))
        .where(F.col("ltf") >= mtf)
    )
    # corpus df pruned to candidate terms BEFORE the groupBy shuffle
    dfc = (
        ctx.docs.select(
            F.explode(F.array_distinct(analysis.tokens(field))).alias("term")
        )
        .join(F.broadcast(ltf), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"), F.first("ltf").alias("ltf"))
        .where(F.col("df") >= mdf)
    )
    stats0 = M.corpus_stats(ctx.docs, ctx.key_cols, [], field)
    sal = F.col("ltf") * F.expr(scoring.idf_sql("n_docs", "df"))
    sel = [
        r.term
        for r in dfc.crossJoin(F.broadcast(stats0.n_and_avgdl))
        .select("term", sal.alias("sal"))
        .orderBy(F.desc("sal"), F.asc("term"))
        .limit(mqt)
        .collect()
    ]
    if not sel:
        return Compiled(predicate=F.lit(False))
    if isinstance(msm_raw, str) and msm_raw.endswith("%"):
        need = max(1, int(len(sel) * int(msm_raw[:-1]) / 100.0))
    else:
        need = int(msm_raw)
    scored = M.match_scores(
        ctx.docs if ctx.base_pred is None else ctx.docs.where(ctx.base_pred),
        " ".join(sel),
        ctx.key_cols,
        text_col=field,
        operator="or",
        minimum_should_match=need,
        stats=M.corpus_stats(ctx.docs, ctx.key_cols, sel, field),
    )
    if like_ids:
        idc = F.concat_ws("#", *[F.col(c).cast("string") for c in ctx.key_cols])
        scored = scored.where(~idc.isin(like_ids))
    return Compiled(scored=scored)


def _multi_match_cross(ctx: _Ctx, body: dict) -> Compiled:
    """multi_match type=cross_fields (MultiMatchQuery.java
    CrossFieldsQueryBuilder → Lucene BlendedTermQuery): term-centric — each
    analyzed term scores per field with the BLENDED idf (blended df = max df
    across the field group, BlendedTermQuery.adjustFrequencies; N is the
    corpus doc count on every field, so blended idf = the MINIMUM of the
    per-field idfs where the term occurs), fields combined dis_max with the
    cross_fields tie_breaker (Type.CROSS_FIELDS default 0.0); terms then
    combine like a match — operator or + minimum_should_match, or and — with
    a term counting as matched when ANY field contains it. Twin of the
    kernel's idf_blend_fields TermsLeaf override and the oracle's
    _multi_match_cross_sql."""
    qterms = list(dict.fromkeys(analysis.analyze(body["query"])))
    if not qterms:
        return Compiled(predicate=F.lit(False))
    fields = list(body["fields"])
    op = str(body.get("operator", "or")).lower()
    msm = body.get("minimum_should_match")
    tie = float(body.get("tie_breaker", 0.0))
    cand = ctx.docs if ctx.base_pred is None else ctx.docs.where(ctx.base_pred)

    stats = {f: M.corpus_stats(ctx.docs, ctx.key_cols, qterms, f) for f in fields}
    dfs = None
    for f in fields:
        d = stats[f].term_df
        dfs = d if dfs is None else dfs.unionByName(d)
    idf_df = (
        dfs.groupBy("term")
        .agg(F.max("df").alias("df"))
        .crossJoin(F.broadcast(stats[fields[0]].n_and_avgdl.select("n_docs")))
        .select("term", F.expr(scoring.idf_sql("n_docs", "df")).alias("_bidf"))
    )

    parts = []
    for f in fields:
        toks = cand.select(*ctx.key_cols, analysis.tokens(f).alias("_tk"))
        tf = (
            toks.select(
                *ctx.key_cols, F.size("_tk").alias("dl"),
                F.explode("_tk").alias("term"),
            )
            .where(F.col("term").isin(qterms))
            .groupBy(*ctx.key_cols, "term", "dl")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        av = stats[f].n_and_avgdl.select(F.col("avgdl").alias("_av"))
        dl_q = F.expr(scoring.quantized_dl_sql("dl", "spark"))
        norm = F.lit(scoring.K1) * (
            F.lit(1.0 - scoring.B)
            + F.lit(scoring.B) * dl_q.cast("double") / F.col("_av")
        )
        sc = (
            F.col("_bidf") * F.lit(scoring.K1 + 1.0) * F.col("tf")
            / (F.col("tf") + norm)
        )
        parts.append(
            tf.join(F.broadcast(idf_df), "term")
            .crossJoin(F.broadcast(av))
            .select(*ctx.key_cols, "term", sc.alias("_fs"))
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    per_term = u.groupBy(*ctx.key_cols, "term").agg(
        F.max("_fs").alias("_best"), F.sum("_fs").alias("_tot")
    )
    term_score = F.col("_best") + F.lit(tie) * (F.col("_tot") - F.col("_best"))
    agg = (
        per_term.select(*ctx.key_cols, term_score.alias("_ts"))
        .groupBy(*ctx.key_cols)
        .agg(F.sum("_ts").alias("score"), F.count(F.lit(1)).alias("_nm"))
    )
    need = len(qterms) if op == "and" else min_should_match(msm, len(qterms))
    return Compiled(scored=agg.where(F.col("_nm") >= need).drop("_nm"))


def _match_phrase_prefix(ctx: _Ctx, body: dict) -> Compiled:
    """match_phrase_prefix (MatchPhraseFrefixQueryBuilder, reg
    SearchModule.java:783): phrase of the leading terms with the trailing
    term as a position-anchored prefix, truncated at max_expansions (50,
    MatchQuery.java DEFAULT_PHRASE_SLOP sibling default) in term order.

    Scoring (round 5, Lucene-faithful): MultiPhrasePrefixQuery rewrites to
    a MultiPhraseQuery over the dictionary expansions, so the weight blends
    idf over the DISTINCT union of leading terms and expansions (twin of
    the kernel's bind_weights and the oracle's expansion CTE). The trailing
    position matches only the expansion set — past the cap, rarer-suffix
    terms silently stop matching, exactly ES's documented behavior.
    """
    (field, spec), = body.items()
    if isinstance(spec, str):
        spec = {"query": spec}
    qterms = analysis.analyze(spec["query"])
    if not qterms:
        return Compiled(predicate=F.lit(False))
    lead, pref = qterms[:-1], qterms[-1]
    max_exp = int(spec.get("max_expansions", 50))
    # dictionary expansion from the WHOLE corpus (the terms dict is
    # index-wide, not filter-scoped): distinct tokens with the prefix, term
    # order, capped — a bounded TakeOrderedAndProject, <= max_exp strings
    # ever reach the driver
    exps = [
        r.t
        for r in ctx.docs.select(
            F.explode(analysis.tokens(field)).alias("t")
        )
        .where(F.col("t").startswith(pref))
        .distinct()
        .orderBy("t")
        .limit(max_exp)
        .collect()
    ]
    stats_terms = sorted(set(lead) | set(exps))
    stats = M.corpus_stats(ctx.docs, ctx.key_cols, stats_terms or [pref], field)
    cand = ctx.docs if ctx.base_pred is None else ctx.docs.where(ctx.base_pred)
    toks = cand.select(*ctx.key_cols, analysis.tokens(field).alias("toks"))
    toks = toks.select(*ctx.key_cols, F.size("toks").alias("dl"), "toks")
    m = len(qterms)
    pos_ok = F.filter(
        F.sequence(F.lit(0), F.size("toks") - m),
        lambda p: reduce(
            lambda a, b: a & b,
            [F.element_at("toks", (p + i + 1).cast("int")) == F.lit(t) for i, t in enumerate(lead)]
            + [F.element_at("toks", (p + m).cast("int")).isin(exps) if exps
               else F.lit(False)],
        ),
    )
    pf = toks.select(*ctx.key_cols, "dl", F.size(pos_ok).alias("pf")).where(
        (F.col("pf") > 0) & (F.size("toks") >= m)
    )
    if stats_terms:
        idf_sum = stats.term_df.crossJoin(F.broadcast(stats.n_and_avgdl)).agg(
            F.sum(F.expr(scoring.idf_sql("n_docs", "df"))).alias("idf"),
            F.first("avgdl").alias("avgdl"),
        )
    else:
        idf_sum = stats.n_and_avgdl.select(F.lit(1.0).alias("idf"), F.col("avgdl"))
    dl_q = F.expr(scoring.quantized_dl_sql("dl", "spark"))
    norm = F.lit(scoring.K1) * (
        F.lit(1.0 - scoring.B) + F.lit(scoring.B) * dl_q.cast("double") / F.col("avgdl")
    )
    scored = pf.crossJoin(F.broadcast(idf_sum)).select(
        *ctx.key_cols,
        (F.col("idf") * F.lit(scoring.K1 + 1.0) * F.col("pf") / (F.col("pf") + norm)).alias("score"),
    )
    return Compiled(scored=scored)


def _terms_set(ctx: _Ctx, body: dict) -> Compiled:
    """terms_set (TermsSetQueryBuilder, reg SearchModule.java:834): match
    docs containing >= msm of the given terms, msm driven per-doc by a field
    (minimum_should_match_field) or SQL expression (the script analog);
    score = sum of matched-term BM25 like a bool.should of term queries."""
    (field, spec), = body.items()
    terms = [t.lower() for t in spec["terms"]]
    msm_expr = spec.get("minimum_should_match_field") or spec.get(
        "minimum_should_match_script"
    )
    stats = M.corpus_stats(ctx.docs, ctx.key_cols, list(set(terms)), field)
    cand = ctx.docs if ctx.base_pred is None else ctx.docs.where(ctx.base_pred)
    scored = M.match_scores(
        cand,
        " ".join(terms),
        ctx.key_cols,
        text_col=field,
        operator="or",
        minimum_should_match=None,
        stats=stats,
        keep_n_matched=True,
    )
    msm_vals = ctx.docs.select(*ctx.key_cols, F.expr(msm_expr).alias("_msm"))
    out = (
        scored.join(msm_vals, ctx.key_cols)
        .where(F.col("n_matched") >= F.col("_msm"))
        .select(*ctx.key_cols, "score")
    )
    return Compiled(scored=out)


def _distance_feature(ctx: _Ctx, body: dict) -> Compiled:
    """distance_feature (DistanceFeatureQueryBuilder, reg :836):
    score = boost * pivot / (pivot + |value - origin|)."""
    field = body["field"]
    origin = body["origin"]
    pivot = float(body["pivot"])
    boost = float(body.get("boost", 1.0))
    c = F.col(field).cast("double")
    dist = F.abs(c - F.lit(float(origin)))
    cand = ctx.docs if ctx.base_pred is None else ctx.docs.where(ctx.base_pred)
    scored = cand.where(F.col(field).isNotNull()).select(
        *ctx.key_cols,
        (F.lit(boost) * F.lit(pivot) / (F.lit(pivot) + dist)).alias("score"),
    )
    return Compiled(scored=scored)


def _function_score(ctx: _Ctx, body: dict) -> Compiled:
    """function_score (functionscore/FunctionScoreQueryBuilder, score
    functions reg SearchModule.java:661-683): weight / field_value_factor /
    script_score functions with optional per-function filters;
    score_mode combines function values, boost_mode folds into query score."""
    inner = _scored_leaf(ctx, body.get("query", {"match_all": {}}))
    functions = body.get("functions", [])
    score_mode = body.get("score_mode", "multiply")
    boost_mode = body.get("boost_mode", "multiply")

    fcols = []
    fsrc = ctx.docs
    for i, fn in enumerate(functions):
        if "weight" in fn and not ({"field_value_factor", "script_score"} & fn.keys()):
            val = F.lit(float(fn["weight"]))
        elif "field_value_factor" in fn:
            fv = fn["field_value_factor"]
            v = F.coalesce(F.col(fv["field"]).cast("double"), F.lit(float(fv.get("missing", 1.0))))
            v = v * F.lit(float(fv.get("factor", 1.0)))
            mod = fv.get("modifier", "none")
            if mod == "log1p":
                v = F.log10(v + 1.0)  # ES log1p is log10(v+1)
            elif mod == "sqrt":
                v = F.sqrt(v)
            elif mod != "none":
                raise ValueError(f"modifier {mod} unsupported")
            val = v * F.lit(float(fn.get("weight", 1.0)))
        elif "script_score" in fn:
            # dict scripts are Painless (translated); strings are SQL
            from ..functions import painless

            sql = painless.script_sql(fn["script_score"]["script"])
            val = F.expr(sql) * F.lit(float(fn.get("weight", 1.0)))
        else:
            raise ValueError(f"unsupported function: {list(fn)}")
        if "filter" in fn:
            c = _compile(fn["filter"], ctx)
            if c.predicate is None:
                raise ValueError("function filters must be predicate-expressible")
            # non-matching docs contribute the score_mode identity
            ident = 1.0 if score_mode in ("multiply",) else 0.0
            val = F.when(c.predicate, val).otherwise(F.lit(ident))
        fcols.append(val.alias(f"_f{i}"))

    if not functions:
        return Compiled(scored=inner)
    vals = fsrc.select(*ctx.key_cols, *fcols)
    combined = None
    for i in range(len(functions)):
        c = F.col(f"_f{i}")
        if combined is None:
            combined = c
        elif score_mode == "multiply":
            combined = combined * c
        elif score_mode == "sum":
            combined = combined + c
        elif score_mode == "max":
            combined = F.greatest(combined, c)
        elif score_mode == "min":
            combined = F.least(combined, c)
        elif score_mode == "avg":
            combined = combined + c  # divided below
        else:
            raise ValueError(score_mode)
    if score_mode == "avg":
        combined = combined / F.lit(float(len(functions)))
    vals = vals.select(*ctx.key_cols, combined.alias("_fs"))
    j = inner.join(vals, ctx.key_cols)
    if boost_mode == "multiply":
        out_score = F.col("score") * F.col("_fs")
    elif boost_mode == "sum":
        out_score = F.col("score") + F.col("_fs")
    elif boost_mode == "replace":
        out_score = F.col("_fs")
    else:
        raise ValueError(boost_mode)
    return Compiled(scored=j.select(*ctx.key_cols, out_score.alias("score")))


# ------------------------------------------------------------------ compounds
def _as_list(x):
    if x is None:
        return []
    return x if isinstance(x, list) else [x]


def _scored_leaf(ctx: _Ctx, q: dict) -> DataFrame:
    """Scored DF for a clause in scoring context (must/should)."""
    kind = next(iter(q))
    c = _compile(q, ctx)
    if c.scored is not None:
        return c.scored
    if kind in ("term", "terms"):
        (field, v), = q[kind].items()
        if kind == "terms" and isinstance(v, dict):
            raise ValueError("terms lookup is filter-context only")
        vals = list(v) if kind == "terms" else [v["value"] if isinstance(v, dict) else v]
        return _keyword_idf_scored(ctx, field, vals)
    return c.as_scored(ctx, 1.0)  # range/exists/ids/match_all -> ConstantScore 1.0


def _bool(ctx: _Ctx, body: dict) -> Compiled:
    must = _as_list(body.get("must"))
    filt = _as_list(body.get("filter"))
    should = _as_list(body.get("should"))
    must_not = _as_list(body.get("must_not"))
    msm = body.get("minimum_should_match")

    if not (must or filt or should or must_not):
        return Compiled(predicate=F.lit(True))  # empty bool => match_all

    # Split no-score clauses into pushable predicates vs scan-requiring DFs.
    pred_parts: list[Column] = []
    df_filters: list[DataFrame] = []
    for q in filt:
        c = _compile(q, ctx)
        if c.predicate is not None:
            pred_parts.append(c.predicate)
        else:
            df_filters.append(c.scored.select(*ctx.key_cols))
    for q in must_not:
        c = _compile(q, ctx)
        if c.predicate is not None:
            pred_parts.append(~c.predicate)
        else:
            df_filters.append(("anti", c.scored.select(*ctx.key_cols)))  # type: ignore[arg-type]

    base_pred = reduce(lambda a, b: a & b, pred_parts) if pred_parts else None
    inner_ctx = _Ctx(ctx.docs, ctx.key_cols, ctx.text_col, base_pred=base_pred)

    keys = ctx.key_cols
    result: DataFrame | None = None  # (keys..., score)
    for q in must:
        s = _scored_leaf(inner_ctx, q)
        result = s if result is None else (
            result.join(s.withColumnRenamed("score", "_s2"), keys)
            .select(*keys, (F.col("score") + F.col("_s2")).alias("score"))
        )

    has_anchor = bool(must or filt)
    eff_msm = int(msm) if msm is not None else (0 if has_anchor else 1)

    if should:
        tagged = [
            s.select(*keys, "score", F.lit(i).alias("_clause"))
            for i, s in (
                (i, _scored_leaf(inner_ctx, q)) for i, q in enumerate(should)
            )
        ]
        uni = reduce(lambda a, b: a.unionByName(b), tagged)
        sh = uni.groupBy(*keys).agg(
            F.sum("score").alias("_should_score"),
            F.count_distinct("_clause").alias("_n_should"),
        )
        if eff_msm > 0:
            sh = sh.where(F.col("_n_should") >= eff_msm)
        if result is None and not filt:
            result = sh.select(*keys, F.col("_should_score").alias("score"))
        elif result is None:  # filter-only anchor: should optional unless msm>0
            base = ctx.docs
            if base_pred is not None:
                base = base.where(base_pred)
            base = base.select(*keys, F.lit(0.0).alias("score"))
            if eff_msm > 0:
                result = base.join(sh.select(*keys, "_should_score"), keys).select(
                    *keys, F.col("_should_score").alias("score"))
            else:
                result = base.join(sh.select(*keys, "_should_score"), keys, "left").select(
                    *keys, (F.col("score") + F.coalesce("_should_score", F.lit(0.0))).alias("score"))
        else:
            join_type = "inner" if eff_msm > 0 else "left"
            result = result.join(sh.select(*keys, "_should_score"), keys, join_type).select(
                *keys, (F.col("score") + F.coalesce("_should_score", F.lit(0.0))).alias("score"))
    elif result is None:
        # only filters / must_not: matching docs score 0.0; pure-negative gets
        # implicit match_all (adjustPureNegative, BoolQueryBuilder.java:72,318)
        base = ctx.docs
        if base_pred is not None:
            base = base.where(base_pred)
        result = base.select(*keys, F.lit(0.0).alias("score"))
    else:
        if base_pred is not None:
            # ensure must-results respect predicate filters even when the must
            # leaf pre-filtered on base_pred already (idempotent semi-join)
            result = result.join(ctx.docs.where(base_pred).select(*keys), keys, "left_semi")

    for f in df_filters:
        if isinstance(f, tuple):
            result = result.join(f[1], keys, "left_anti")
        else:
            result = result.join(f, keys, "left_semi")
    if base_pred is not None and not must and should:
        result = result.join(ctx.docs.where(base_pred).select(*keys), keys, "left_semi")
    return Compiled(scored=result)


def _dis_max(ctx: _Ctx, body: dict) -> Compiled:
    tie = float(body.get("tie_breaker", 0.0))
    clauses = [_scored_leaf(ctx, q) for q in _as_list(body.get("queries"))]
    uni = reduce(lambda a, b: a.unionByName(b), clauses)
    agg = uni.groupBy(*ctx.key_cols).agg(
        F.max("score").alias("_mx"), F.sum("score").alias("_sm")
    )
    return Compiled(
        scored=agg.select(
            *ctx.key_cols,
            (F.col("_mx") + F.lit(tie) * (F.col("_sm") - F.col("_mx"))).alias("score"),
        )
    )


def _boosting(ctx: _Ctx, body: dict) -> Compiled:
    pos = _scored_leaf(ctx, body["positive"])
    neg = _compile(body["negative"], ctx)
    nb = float(body.get("negative_boost", 0.5))
    neg_keys = neg.as_scored(ctx).select(*ctx.key_cols, F.lit(True).alias("_neg"))
    return Compiled(
        scored=pos.join(neg_keys, ctx.key_cols, "left").select(
            *ctx.key_cols,
            F.when(F.col("_neg"), F.col("score") * nb).otherwise(F.col("score")).alias("score"),
        )
    )
