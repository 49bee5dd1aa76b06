"""DuckDB oracle-SQL generator.

For each supported ES-style query dict, emits ANSI-ish SQL that DuckDB can run
over the driver's parquet views to produce the *same rows* as the Spark plan
compiler in plans/query_dsl.py — same tokenizer (shared regex), same BM25
formula (shared SQL snippets from functions/scoring.py), same rounding and
deterministic tie-break. This is an independent execution path (DuckDB SQL vs
Catalyst plans) over shared formula definitions, which is exactly what the
driver's CORRECTNESS gate compares.

The transcripts table is derived from `documents` with the deterministic view
in sources/transcripts.py, identical in both dialects.
"""

from __future__ import annotations

from .functions import analysis, painless, scoring
from .functions.analysis import analyze
from .sources.transcripts import transcripts_view_sql

K1, B = scoring.K1, scoring.B

TRANSCRIPTS_CTE = "WITH transcripts AS (" + transcripts_view_sql("documents", "duckdb") + ")"


def _toks(field: str) -> str:
    return analysis.tokens_sql(field, "duckdb")


def _sql_str(v) -> str:
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return str(v)


def _match_scored_sql(field: str, spec, alias: str) -> tuple[str, str]:
    """Returns (ctes, alias) where `alias` selects (conv_id, turn_idx, score)."""
    if isinstance(spec, str):
        spec = {"query": spec}
    qterms = list(dict.fromkeys(analyze(spec["query"])))
    operator = spec.get("operator", "or").lower()
    msm = spec.get("minimum_should_match")
    need = len(qterms) if operator == "and" else (msm or 1)
    terms_in = ", ".join(_sql_str(t) for t in qterms) or "''"
    t = _toks(field)
    dl_q = scoring.quantized_dl_sql("dl", "duckdb")
    idf = scoring.idf_sql("n_docs", "df")
    score = scoring.term_score_sql("tf", dl_q, "avgdl", idf)
    ctes = f"""
{alias}_toks AS (
  SELECT conv_id, turn_idx, len({t}) AS dl, unnest({t}) AS term FROM transcripts
),
{alias}_tf AS (
  SELECT conv_id, turn_idx, dl, term, count(*) AS tf
  FROM {alias}_toks WHERE term IN ({terms_in})
  GROUP BY conv_id, turn_idx, dl, term
),
{alias}_stats AS (
  SELECT count(*) AS n_docs, sum(len({t})) * 1.0 / count(*) AS avgdl FROM transcripts
),
{alias}_df AS (
  SELECT term, count(*) AS df FROM (
    SELECT DISTINCT conv_id, turn_idx, term FROM {alias}_toks WHERE term IN ({terms_in})
  ) GROUP BY term
),
{alias} AS (
  SELECT f.conv_id, f.turn_idx, sum({score}) AS score, count(*) AS n_matched
  FROM {alias}_tf f JOIN {alias}_df USING (term) CROSS JOIN {alias}_stats
  GROUP BY f.conv_id, f.turn_idx
  HAVING count(*) >= {need}
)"""
    return ctes, alias


def _match_phrase_scored_sql(field: str, spec, alias: str) -> tuple[str, str]:
    if isinstance(spec, str):
        spec = {"query": spec}
    qterms = analyze(spec["query"])
    slop = int(spec.get("slop", 0))
    if slop > 0 and len(set(qterms)) != len(qterms):
        raise ValueError("slop > 0 with repeated phrase terms is unsupported")
    m = len(qterms)
    t = _toks(field)
    if slop > 0:
        from .plans.query_dsl import sloppy_pf_expr

        pf_expr = sloppy_pf_expr(qterms, slop, "duckdb")
    else:
        conds = " AND ".join(
            f"toks[p + {i}] = {_sql_str(term)}" for i, term in enumerate(qterms)
        )
        pf_expr = (
            f"len(list_filter(generate_series(1, greatest(len(toks) - {m - 1}, 0)),"
            f" p -> {conds}))"
        )
    terms_in = ", ".join(_sql_str(x) for x in sorted(set(qterms)))
    dl_q = scoring.quantized_dl_sql("dl", "duckdb")
    idf = scoring.idf_sql("n_docs", "df")
    ctes = f"""
{alias}_docs AS (
  SELECT conv_id, turn_idx, {t} AS toks, len({t}) AS dl FROM transcripts
),
{alias}_pf AS (
  SELECT conv_id, turn_idx, dl, {pf_expr} AS pf
  FROM {alias}_docs
),
{alias}_stats AS (
  SELECT count(*) AS n_docs, sum(dl) * 1.0 / count(*) AS avgdl FROM {alias}_docs
),
{alias}_idf AS (
  SELECT sum({idf}) AS idf_sum FROM (
    SELECT term, count(*) AS df FROM (
      SELECT DISTINCT conv_id, turn_idx, unnest(toks) AS term FROM {alias}_docs
    ) WHERE term IN ({terms_in}) GROUP BY term
  ) CROSS JOIN {alias}_stats
),
{alias} AS (
  SELECT conv_id, turn_idx,
    idf_sum * {K1 + 1.0} * pf / (pf + ({K1} * (1.0 - {B} + {B} * cast({dl_q} as double) / avgdl))) AS score
  FROM {alias}_pf CROSS JOIN {alias}_stats CROSS JOIN {alias}_idf
  WHERE pf > 0
)"""
    return ctes, alias


def _match_phrase_prefix_sql(field: str, spec, alias: str) -> tuple[str, str]:
    """Twin of plans/query_dsl._match_phrase_prefix: phrase of leading terms,
    trailing term matched against the dictionary expansion set (term order,
    capped at max_expansions=50); idf blended over the DISTINCT union of
    leading terms and expansions (MultiPhrasePrefixQuery -> MultiPhraseQuery
    rewrite semantics)."""
    if isinstance(spec, str):
        spec = {"query": spec}
    qterms = analyze(spec["query"])
    lead, pref = qterms[:-1], qterms[-1]
    max_exp = int(spec.get("max_expansions", 50))
    m = len(qterms)
    t = _toks(field)
    conds = [f"toks[p + {i}] = {_sql_str(term)}" for i, term in enumerate(lead)]
    conds.append(f"list_contains(exps, toks[p + {m - 1}])")
    cond = " AND ".join(conds)
    dl_q = scoring.quantized_dl_sql("dl", "duckdb")
    idf = scoring.idf_sql("n_docs", "df")
    lead_in = ", ".join(_sql_str(x) for x in sorted(set(lead))) or "NULL"
    ctes = f"""
{alias}_docs AS (
  SELECT conv_id, turn_idx, {t} AS toks, len({t}) AS dl FROM transcripts
),
{alias}_exp AS (
  SELECT term FROM (
    SELECT DISTINCT unnest(toks) AS term FROM {alias}_docs
  ) WHERE starts_with(term, {_sql_str(pref)}) ORDER BY term LIMIT {max_exp}
),
{alias}_expl AS (
  SELECT coalesce(list(term ORDER BY term), []) AS exps FROM {alias}_exp
),
{alias}_pf AS (
  SELECT conv_id, turn_idx, dl,
    len(list_filter(generate_series(1, greatest(len(toks) - {m - 1}, 0)), p -> {cond})) AS pf
  FROM {alias}_docs CROSS JOIN {alias}_expl
),
{alias}_stats AS (
  SELECT count(*) AS n_docs, sum(dl) * 1.0 / count(*) AS avgdl FROM {alias}_docs
),
{alias}_idf AS (
  SELECT coalesce(sum({idf}), 1.0) AS idf_sum FROM (
    SELECT term, count(*) AS df FROM (
      SELECT DISTINCT conv_id, turn_idx, unnest(toks) AS term FROM {alias}_docs
    ) WHERE term IN ({lead_in}) OR term IN (SELECT term FROM {alias}_exp)
    GROUP BY term
  ) CROSS JOIN {alias}_stats
),
{alias} AS (
  SELECT conv_id, turn_idx,
    idf_sum * {K1 + 1.0} * pf / (pf + ({K1} * (1.0 - {B} + {B} * cast({dl_q} as double) / avgdl))) AS score
  FROM {alias}_pf CROSS JOIN {alias}_stats CROSS JOIN {alias}_idf
  WHERE pf > 0
)"""
    return ctes, alias


def _terms_set_sql(field: str, spec: dict, alias: str) -> tuple[str, str]:
    """Twin of plans/query_dsl._terms_set: per-doc msm threshold from a field
    or SQL expression; score = sum of matched-term BM25."""
    terms = sorted({t.lower() for t in spec["terms"]})
    msm_expr = spec.get("minimum_should_match_field") or spec.get(
        "minimum_should_match_script"
    )
    terms_in = ", ".join(_sql_str(t) for t in terms)
    t = _toks(field)
    dl_q = scoring.quantized_dl_sql("dl", "duckdb")
    idf = scoring.idf_sql("n_docs", "df")
    score = scoring.term_score_sql("tf", dl_q, "avgdl", idf)
    ctes = f"""
{alias}_toks AS (
  SELECT conv_id, turn_idx, len({t}) AS dl, unnest({t}) AS term FROM transcripts
),
{alias}_tf AS (
  SELECT conv_id, turn_idx, dl, term, count(*) AS tf
  FROM {alias}_toks WHERE term IN ({terms_in})
  GROUP BY conv_id, turn_idx, dl, term
),
{alias}_stats AS (
  SELECT count(*) AS n_docs, sum(len({t})) * 1.0 / count(*) AS avgdl FROM transcripts
),
{alias}_df AS (
  SELECT term, count(*) AS df FROM (
    SELECT DISTINCT conv_id, turn_idx, term FROM {alias}_toks WHERE term IN ({terms_in})
  ) GROUP BY term
),
{alias}_msm AS (
  SELECT conv_id, turn_idx, ({msm_expr}) AS msm FROM transcripts
),
{alias} AS (
  SELECT f.conv_id, f.turn_idx, sum({score}) AS score
  FROM {alias}_tf f JOIN {alias}_df USING (term) CROSS JOIN {alias}_stats
  JOIN {alias}_msm m ON m.conv_id = f.conv_id AND m.turn_idx = f.turn_idx
  GROUP BY f.conv_id, f.turn_idx
  HAVING count(*) >= max(m.msm)
)"""
    return ctes, alias


def _intervals_sql(body: dict, a: str) -> tuple[str, str]:
    """Twin of plans/query_dsl._intervals: the freq CTE from
    _intervals_freq_sql wrapped through the field similarity exactly as
    SpanWeight does — score = w * (k1+1) * freq / (freq + k1*(1-b+b*
    dl_q/avgdl)), w = idf summed over the distinct concrete terms (+
    within-chain terms; expansion steps and span_not exclusions contribute
    none, all-absent/expansion-only chains fall back to w=1.0)."""
    from .functions import scoring
    from .functions.analysis import analyze

    cf, af = _intervals_freq_sql(body, f"{a}f")
    (field, spec), = body.items()
    src = spec["match"]
    qterms = src.get("steps") or analyze(src["query"])
    sfields = src.get("fields") or [field] * len(qterms)
    pairs = {
        (sfields[i], t) for i, t in enumerate(qterms) if not isinstance(t, dict)
    }
    if src.get("within_query"):
        pairs |= {(field, t) for t in analyze(src["within_query"])}
    n_sq = "(SELECT count(*) FROM transcripts)"
    idf_parts = []
    for fld, t in sorted(pairs):
        dfq = (
            f"(SELECT count(*) FROM transcripts WHERE "
            f"list_contains(list_distinct({_toks(fld)}), {_sql_str(t)}))"
        )
        # absent terms contribute nothing (kernel binds dictionary-present
        # idfs only); a required absent term means zero matching docs anyway
        idf_parts.append(
            f"(CASE WHEN {dfq} > 0 THEN "
            f"ln(1.0 + ({n_sq} - {dfq} + 0.5) / ({dfq} + 0.5)) ELSE 0.0 END)"
        )
    w = "(" + " + ".join(idf_parts) + ")" if idf_parts else "1.0"
    dl = f"len({_toks(field)})"
    dl_q = scoring.quantized_dl_sql(dl, "duckdb")
    avg = f"(SELECT avg(len({_toks(field)})) FROM transcripts)"
    norm = (
        f"({scoring.K1} * (1.0 - {scoring.B} + {scoring.B} * "
        f"cast({dl_q} as double) / {avg}))"
    )
    c = f"""{cf},
{a} AS (
  SELECT f.conv_id, f.turn_idx,
         {w} * {scoring.K1 + 1.0} * f.score / (f.score + {norm}) AS score
  FROM {af} f JOIN transcripts USING (conv_id, turn_idx)
)"""
    return c, a


def _intervals_freq_sql(body: dict, a: str) -> tuple[str, str]:
    """Twin of plans/query_dsl._intervals (match source), freq stage.
    Plain intervals: sum of 1/(1 + slop) over the MINIMAL interval set
    (IntervalQuery minimal-interval summation). span_stream (span rewrites):
    SpanScorer's per-start stream — greedy chain per lead (ordered, factor
    1/(1+gaps)) / min-advance walk windows (unordered plain, factor
    1/(1 + start-to-start width)), no containment minimization. Single-term
    shapes score the surviving occurrence count under both."""
    from .functions.analysis import analyze

    (field, spec), = body.items()
    src = spec["match"]
    # steps: per-position specs (str, or {"prefix": v} from span_multi
    # nested in span_near) — twin of query_dsl._intervals
    qterms = src.get("steps") or analyze(src["query"])
    max_gaps = int(src.get("max_gaps", -1))
    ordered = bool(src.get("ordered", False))
    span_stream = bool(src.get("span_stream", False))
    first_end = src.get("first_end")
    not_terms = analyze(src["not_query"]) if src.get("not_query") else []
    m = len(qterms)
    # same validations as the engine twins (query_dsl._intervals, topk
    # lowering): reject shapes whose branches below would drop a constraint
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
    # per-step source fields (field_masking_span in span_near) — twin of
    # query_dsl._intervals: step i reads sfields[i]'s token stream,
    # not_query always the outer field
    sfields = src.get("fields") or [field] * m
    if len(sfields) != m:
        raise ValueError("intervals `fields` must align with the steps")
    if src.get("fields") and (src.get("within_query") or first_end is not None):
        raise ValueError("per-step fields support plain ordered/unordered chains")
    tok_col = {f: ("toks" if f == field else f"toks_{i}")
               for i, f in enumerate(dict.fromkeys([field, *sfields]))}
    t = ", ".join(f"{_toks(f)} AS {c}" for f, c in tok_col.items())
    # span_gap separations — twin of query_dsl._intervals
    gaps = src.get("gaps") or [0] * max(m - 1, 0)
    gap_total = sum(gaps)
    if len(gaps) != max(m - 1, 0):
        raise ValueError("intervals `gaps` must have one entry per adjacency")
    if gap_total and (not ordered or src.get("within_query") or first_end is not None):
        raise ValueError("gaps (span_gap) need a plain ordered chain")

    def pos(term, src_field=field) -> str:
        # 0-based positions (1-based index i over the token list); composite
        # steps accept any token matching: {"prefix": v} (span_multi /
        # Intervals.prefix), {"pattern": re} (Intervals.wildcard, anchored
        # regex shared with the engine), {"any": [terms]} (Intervals.or)
        col = tok_col[src_field]
        if isinstance(term, dict):
            if "prefix" in term:
                cond = f"starts_with({col}[i], {_sql_str(term['prefix'])})"
            elif "pattern" in term:
                cond = f"regexp_matches({col}[i], {_sql_str(term['pattern'])})"
            elif "fuzzy" in term:
                fv, fk = term["fuzzy"]
                cond = f"levenshtein({col}[i], {_sql_str(fv)}) <= {fk}"
            else:
                lits = ", ".join(_sql_str(t) for t in term["any"])
                cond = f"list_contains([{lits}], {col}[i])"
        else:
            cond = f"{col}[i] = {_sql_str(term)}"
        return (
            f"list_transform(list_filter(range(1, len({col}) + 1), "
            f"i -> {cond}), i -> i - 1)"
        )

    def ex_pos() -> str:
        parts = [pos(t_) for t_ in not_terms]
        out = parts[0]
        for p_ in parts[1:]:
            out = f"list_concat({out}, {p_})"
        return out

    within_q = src.get("within_query")
    if within_q:
        # twin of _intervals' within branch (span_within / span_containing):
        # little occurrence q enclosed by a big ordered chain [pb, pc].
        # within_mode "little" counts enclosed little occurrences; "big"
        # sums 1/(1+slop) over minimal big spans containing a little
        wt = analyze(within_q)
        wg = int(src.get("within_gaps", -1))
        mode = src.get("within_mode", "little")
        pq = pos(qterms[0])
        if mode == "little":
            if len(wt) == 1:
                kp = f"list_filter({pq}, q -> list_contains({pos(wt[0])}, q))"
            elif span_stream:
                # containment against EMITTED big spans only: the greedy
                # chain of the latest lead pb* <= q (checking pb* alone
                # suffices — proof in topk.IntervalsLeaf)
                pbm = f"list_max(list_filter({pos(wt[0])}, pb -> pb <= q))"
                e = f"list_min(list_filter({pos(wt[1])}, p -> p > {pbm}))"
                gap = "true" if wg < 0 else f"({e}) - ({pbm}) - 1 <= {wg}"
                kp = (
                    f"list_filter({pq}, q -> "
                    f"coalesce(({e}) >= q AND {gap}, false))"
                )
            else:
                gap = "true" if wg < 0 else f"pc - pb - 1 <= {wg}"
                kp = (
                    f"list_filter({pq}, q -> "
                    f"len(list_filter({pos(wt[0])}, pb -> pb <= q AND "
                    f"len(list_filter({pos(wt[1])}, pc -> pc >= q AND pc > pb "
                    f"AND {gap})) > 0)) > 0)"
                )
        elif len(wt) == 1:
            # width-0 big spans: contain a little iff they share its position
            kp = f"list_filter({pos(wt[0])}, pb -> list_contains({pq}, pb))"
        else:
            pairs = (
                f"list_filter(list_transform({pos(wt[0])}, pb -> "
                f"{{'e': list_min(list_filter({pos(wt[1])}, p -> p > pb)), "
                f"'b': pb}}), x -> struct_extract(x, 'e') IS NOT NULL)"
            )
            gapf = (
                "" if wg < 0
                else f" AND struct_extract(x, 'e') - struct_extract(x, 'b') - 1 <= {wg}"
            )
            if span_stream:
                # SpanContainingQuery: every emitted (per-start greedy) big
                # span containing a little counts — no same-end dedup
                dedup = ""
            else:
                dedup = (
                    f"len(list_filter({pairs}, y -> "
                    f"struct_extract(y, 'e') = struct_extract(x, 'e') AND "
                    f"struct_extract(y, 'b') > struct_extract(x, 'b'))) = 0 AND "
                )
            kept = (
                f"list_filter(list_filter({pairs}, x -> "
                f"{dedup}true{gapf}), x -> len(list_filter({pq}, q -> "
                f"q >= struct_extract(x, 'b') AND "
                f"q <= struct_extract(x, 'e'))) > 0)"
            )
            c = f"""
{a} AS (
  SELECT conv_id, turn_idx,
         list_sum(list_transform(kp, x ->
           1.0 / (struct_extract(x, 'e') - struct_extract(x, 'b')))) AS score
  FROM (
    SELECT conv_id, turn_idx, {kept} AS kp
    FROM (SELECT conv_id, turn_idx, {t} FROM transcripts)
  ) WHERE len(kp) > 0
)"""
            return c, a
        c = f"""
{a} AS (
  SELECT conv_id, turn_idx, CAST(len(kp) AS DOUBLE) AS score
  FROM (
    SELECT conv_id, turn_idx, {kp} AS kp
    FROM (SELECT conv_id, turn_idx, {t} FROM transcripts)
  ) WHERE len(kp) > 0
)"""
        return c, a

    if m == 0:
        cond = "false"
    elif m == 1:
        # each surviving occurrence is a width-0 minimal interval: score =
        # occurrence count (sloppyFreq == 1 per span) — twin of the engine
        p0 = pos(qterms[0], sfields[0])
        if first_end is not None:
            p0 = f"list_filter({p0}, p -> p < {int(first_end)})"
        if not_terms:
            p0 = f"list_filter({p0}, p -> NOT list_contains({ex_pos()}, p))"
        c = f"""
{a} AS (
  SELECT conv_id, turn_idx, CAST(len(p) AS DOUBLE) AS score
  FROM (
    SELECT conv_id, turn_idx, {p0} AS p
    FROM (SELECT conv_id, turn_idx, {t} FROM transcripts)
  ) WHERE len(p) > 0
)"""
        return c, a
    elif ordered:
        # per-start greedy chain end (smallest valid successor at each step
        # minimizes the final width — twin of the kernel's greedy chain).
        # Minimal-interval set: ends are non-decreasing in start, so an
        # interval contains exactly the same-end larger-slop siblings — keep
        # each (end, slop) pair with no same-end smaller-slop sibling;
        # score = sum of 1/(1 + slop) over the kept intervals
        end = "p0"
        for i in range(1, m):
            end = (
                f"list_min(list_filter({pos(qterms[i], sfields[i])}, "
                f"p -> p > ({end}) + {gaps[i - 1]}))"
            )
        valid = f"({end}) IS NOT NULL"
        if max_gaps >= 0:
            valid += f" AND ({end}) - p0 - {m - 1 + gap_total} <= {max_gaps}"
        if not_terms:
            valid += (
                f" AND len(list_filter({ex_pos()}, "
                f"q -> q >= p0 AND q <= ({end}))) = 0"
            )
        pairs = (
            f"list_filter(list_transform({pos(qterms[0], sfields[0])}, "
            f"p0 -> CASE WHEN {valid} THEN {{'e': ({end}), "
            f"'s': ({end}) - p0 - {m - 1 + gap_total}}} END), "
            f"x -> x IS NOT NULL)"
        )
        if span_stream:
            # NearSpansOrdered: one greedy chain per lead, no minimization
            kept = "pv"
        else:
            kept = (
                "list_filter(pv, x -> len(list_filter(pv, y ->\n"
                "             struct_extract(y, 'e') = struct_extract(x, 'e') AND\n"
                "             struct_extract(y, 's') < struct_extract(x, 's'))) = 0)"
            )
        c = f"""
{a} AS (
  SELECT conv_id, turn_idx,
         list_sum(list_transform(
           {kept},
           x -> 1.0 / (1 + struct_extract(x, 's')))) AS score
  FROM (
    SELECT conv_id, turn_idx, {pairs} AS pv
    FROM (SELECT conv_id, turn_idx, {t} FROM transcripts)
  ) WHERE len(pv) > 0
)"""
        return c, a
    elif m == 2 and (
        any(isinstance(t_, dict) for t_ in qterms)
        or src.get("fields")
        or len(set(map(str, qterms))) != m
    ):
        # non-plain unordered pair (prefix-expanded / masked / duplicate
        # steps — occurrence sets may overlap): per-END minimal windows,
        # freq-sum — twin of the engine (see query_dsl._intervals)
        p1 = pos(qterms[0], sfields[0])
        p2 = pos(qterms[1], sfields[1])
        start = (
            f"greatest("
            f"CASE WHEN list_contains(pb_, x) THEN "
            f"list_max(list_filter(pa_, p -> p < x)) END, "
            f"CASE WHEN list_contains(pa_, x) THEN "
            f"list_max(list_filter(pb_, p -> p < x)) END)"
        )
        pairs = (
            f"list_filter(list_transform("
            f"list_sort(list_distinct(list_concat(pa_, pb_))), "
            f"x -> {{'e': x, 's0': {start}}}), "
            f"x -> struct_extract(x, 's0') IS NOT NULL)"
        )
        gapf = (
            "" if max_gaps < 0
            else (f" AND struct_extract(x, 'e') - struct_extract(x, 's0') - 1"
                  f" <= {max_gaps}")
        )
        kept = (
            f"list_filter(pv, x -> len(list_filter(pv, y -> "
            f"struct_extract(y, 'e') < struct_extract(x, 'e') AND "
            f"struct_extract(y, 's0') >= struct_extract(x, 's0'))) = 0"
            f"{gapf})"
        )
        c = f"""
{a} AS (
  SELECT conv_id, turn_idx, score FROM (
    SELECT conv_id, turn_idx,
           list_sum(list_transform({kept}, x ->
             1.0 / (struct_extract(x, 'e') - struct_extract(x, 's0')))) AS score
    FROM (
      SELECT conv_id, turn_idx, {pairs} AS pv
      FROM (SELECT conv_id, turn_idx, {p1} AS pa_, {p2} AS pb_
            FROM (SELECT conv_id, turn_idx, {t} FROM transcripts))
    ) WHERE len(pv) > 0
  ) WHERE score > 0
)"""
        return c, a
    else:
        # unordered plain distinct single-field terms (arity >= 2) — twin of
        # query_dsl._intervals' merged-stream branch: one row per occurrence,
        # running last-seen position per label via window max, covering
        # window [least(lp_i), pos] per stream row. Minimal-interval set:
        # keep a window iff its start strictly exceeds the running max of
        # previous covered starts; score = sum of 1/(1 + slop) over kept
        if (
            any(isinstance(t_, dict) for t_ in qterms)
            or src.get("fields")
            or not_terms
            or first_end is not None
            or len(set(map(str, qterms))) != m
        ):
            raise ValueError(
                "unordered intervals with arity > 2 need plain distinct "
                "single-field terms"
            )
        unions = "\n    UNION ALL\n    ".join(
            f"SELECT conv_id, turn_idx, unnest({pos(qterms[i])}) AS pos, {i} AS label "
            f"FROM (SELECT conv_id, turn_idx, {t} FROM transcripts)"
            for i in range(m)
        )
        if span_stream:
            # NearSpansUnordered min-advance walk: one window per merged
            # occurrence s = [s, max over labels of next-occurrence >= s];
            # slop CHECK end - s - (m-1) <= slop, sloppy factor
            # 1/(1 + (end - s)) (width() is start-to-start), no minimization
            nps = ", ".join(
                f"min(CASE WHEN label = {i} THEN pos END) OVER "
                f"(PARTITION BY conv_id, turn_idx ORDER BY pos "
                f"ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS np{i}"
                for i in range(m)
            )
            covered = " AND ".join(f"np{i} IS NOT NULL" for i in range(m))
            end_e = "greatest(" + ", ".join(f"np{i}" for i in range(m)) + ")"
            slop_e = f"({end_e}) - pos - {m - 1}"
            gapf = "" if max_gaps < 0 else f" AND {slop_e} <= {max_gaps}"
            c = f"""
{a} AS (
  SELECT conv_id, turn_idx, sum(1.0 / (1 + ({end_e}) - pos)) AS score
  FROM (
    SELECT conv_id, turn_idx, pos, {nps} FROM (
      {unions})
  ) WHERE {covered}{gapf}
  GROUP BY conv_id, turn_idx
)"""
            return c, a
        lps = ", ".join(
            f"max(CASE WHEN label = {i} THEN pos END) OVER "
            f"(PARTITION BY conv_id, turn_idx ORDER BY pos "
            f"ROWS UNBOUNDED PRECEDING) AS lp{i}"
            for i in range(m)
        )
        covered = " AND ".join(f"lp{i} IS NOT NULL" for i in range(m))
        least = "least(" + ", ".join(f"lp{i}" for i in range(m)) + ")"
        slop_e = f"pos - st - {m - 1}"
        gapf = "" if max_gaps < 0 else f" AND {slop_e} <= {max_gaps}"
        c = f"""
{a} AS (
  SELECT conv_id, turn_idx, sum(1.0 / (1 + {slop_e})) AS score
  FROM (
    SELECT conv_id, turn_idx, pos, st,
           max(st) OVER (PARTITION BY conv_id, turn_idx ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
    FROM (
      SELECT conv_id, turn_idx, pos,
             CASE WHEN {covered} THEN {least} END AS st
      FROM (SELECT conv_id, turn_idx, pos, {lps} FROM (
        {unions}))
    )
  ) WHERE st IS NOT NULL AND (pm IS NULL OR st > pm){gapf}
  GROUP BY conv_id, turn_idx
)"""
        return c, a
    c = f"""
{a} AS (
  SELECT conv_id, turn_idx, 1.0 AS score
  FROM (SELECT conv_id, turn_idx, {t} FROM transcripts)
  WHERE {cond}
)"""
    return c, a


def _multi_match_cross_sql(body: dict, a: str) -> tuple[str, str]:
    """Twin of plans/query_dsl._multi_match_cross (multi_match
    type=cross_fields): per term, per-field BM25 with the BLENDED idf
    (df = max across the field group), fields combined dis_max with the
    tie_breaker; terms combine with operator/msm over any-field matches."""
    from .functions import scoring
    from .functions.analysis import analyze
    from .plans.query_dsl import min_should_match

    qterms = list(dict.fromkeys(analyze(body["query"])))
    if not qterms:  # zero_terms_query=NONE
        return (
            f"\n{a} AS (SELECT conv_id, turn_idx, 0.0 AS score "
            f"FROM transcripts WHERE false)",
            a,
        )
    fields = list(body["fields"])
    op = str(body.get("operator", "or")).lower()
    tie = float(body.get("tie_breaker", 0.0))
    need = (
        len(qterms) if op == "and"
        else min_should_match(body.get("minimum_should_match"), len(qterms))
    )
    terms_in = ", ".join(_sql_str(t) for t in qterms)
    tk = {f: f"tk{i}" for i, f in enumerate(fields)}
    docs_cols = ", ".join(f"{_toks(f)} AS {tk[f]}" for f in fields)
    avgs = ", ".join(
        f"avg(len({tk[f]})) AS av{i}" for i, f in enumerate(fields)
    )
    df_parts = "\n    UNION ALL\n    ".join(
        f"SELECT term, count(*) AS df FROM (SELECT DISTINCT conv_id, "
        f"turn_idx, unnest({tk[f]}) AS term FROM {a}_docs) "
        f"WHERE term IN ({terms_in}) GROUP BY term"
        for f in fields
    )
    idf = scoring.idf_sql("n_docs", "df")
    dl_q = scoring.quantized_dl_sql("dl", "duckdb")
    ft_parts = []
    for i, f in enumerate(fields):
        norm = (
            f"({scoring.K1} * (1.0 - {scoring.B} + {scoring.B} * "
            f"cast({dl_q} as double) / av{i}))"
        )
        ft_parts.append(
            f"SELECT conv_id, turn_idx, term, "
            f"bidf * {scoring.K1 + 1.0} * tf / (tf + {norm}) AS fs "
            f"FROM (SELECT conv_id, turn_idx, term, count(*) AS tf, "
            f"any_value(dl) AS dl FROM (SELECT conv_id, turn_idx, "
            f"len({tk[f]}) AS dl, unnest({tk[f]}) AS term FROM {a}_docs) "
            f"WHERE term IN ({terms_in}) GROUP BY conv_id, turn_idx, term) "
            f"JOIN {a}_idf USING (term) CROSS JOIN {a}_stats"
        )
    ft = "\n    UNION ALL\n    ".join(ft_parts)
    c = f"""
{a}_docs AS (SELECT conv_id, turn_idx, {docs_cols} FROM transcripts),
{a}_stats AS (SELECT count(*) AS n_docs, {avgs} FROM {a}_docs),
{a}_idf AS (
  SELECT term, {idf} AS bidf FROM (
    SELECT term, max(df) AS df FROM (
    {df_parts}) GROUP BY term
  ) CROSS JOIN {a}_stats
),
{a}_pt AS (
  SELECT conv_id, turn_idx, term,
         max(fs) + {tie} * (sum(fs) - max(fs)) AS ts
  FROM (
    {ft})
  GROUP BY conv_id, turn_idx, term
),
{a} AS (
  SELECT conv_id, turn_idx, sum(ts) AS score
  FROM {a}_pt GROUP BY conv_id, turn_idx HAVING count(*) >= {need}
)"""
    return c, a


def _pred_sql(kind: str, body: dict) -> str:
    if kind == "term":
        (field, v), = body.items()
        v = v["value"] if isinstance(v, dict) else v
        return f"{field} = {_sql_str(v)}"
    if kind == "terms":
        (field, vs), = body.items()
        if isinstance(vs, dict):
            # terms lookup (indices/TermsLookup.java): scalar subquery GET
            conv, _, turn = vs["id"].partition("#")
            return (
                f"{field} IN (SELECT {vs['path']} FROM transcripts "
                f"WHERE conv_id = {_sql_str(conv)} AND turn_idx = {int(turn)})"
            )
        return f"{field} IN ({', '.join(_sql_str(v) for v in vs)})"
    if kind == "range":
        (field, spec), = body.items()
        ops = {"gt": ">", "gte": ">=", "lt": "<", "lte": "<="}
        return " AND ".join(f"{field} {ops[o]} {_sql_str(v)}" for o, v in spec.items() if o in ops)
    if kind == "exists":
        return f"{body['field']} IS NOT NULL"
    if kind == "ids":
        vals = ", ".join(_sql_str(v) for v in body["values"])
        return f"(conv_id || '#' || cast(turn_idx as varchar)) IN ({vals})"
    if kind == "match_all":
        return "TRUE"
    if kind == "match_none":
        return "FALSE"
    if kind == "parent_id":
        # children of the given parent (ParentIdQueryBuilder.java:135-142);
        # parent = conversation opener, routing key = conv_id
        return f"conv_id = {_sql_str(body['id'])} AND turn_idx > 0"
    if kind == "script":
        # ScriptQueryBuilder: same Painless-subset translation as the engine
        return f"({painless.script_sql(body['script'])})"
    raise ValueError(f"not predicate-expressible: {kind}")


_PRED_KINDS = {
    "term", "terms", "range", "exists", "ids", "match_all", "match_none",
    "parent_id", "script",
}


def _keyword_idf_sql(kind: str, body: dict, alias: str) -> tuple[str, str]:
    """term/terms in scoring context: score = idf(value) (norms-less keyword)."""
    (field, v), = body.items()
    if kind == "terms" and isinstance(v, dict):
        raise ValueError("terms lookup is filter-context only")
    vals = list(v) if kind == "terms" else [v["value"] if isinstance(v, dict) else v]
    vals_in = ", ".join(_sql_str(x) for x in vals)
    idf = scoring.idf_sql("n_docs", "df")
    ctes = f"""
{alias}_df AS (
  SELECT {field} AS v, count(*) AS df FROM transcripts WHERE {field} IN ({vals_in}) GROUP BY {field}
),
{alias}_n AS (SELECT count(*) AS n_docs FROM transcripts),
{alias} AS (
  SELECT t.conv_id, t.turn_idx, {idf} AS score
  FROM transcripts t JOIN {alias}_df d ON t.{field} = d.v CROSS JOIN {alias}_n
)"""
    return ctes, alias


class _SqlGen:
    def __init__(self):
        self.ctes: list[str] = []
        self.n = 0

    def fresh(self, prefix: str) -> str:
        self.n += 1
        return f"{prefix}_{self.n}"

    def scored(self, q: dict) -> str:
        """Register CTEs; return alias selecting (conv_id, turn_idx, score)."""
        from .plans.query_dsl import normalize_query

        q = normalize_query(q)
        (kind, body), = q.items()
        a = self.fresh(kind)
        if kind == "match":
            (field, spec), = body.items()
            c, a = _match_scored_sql(field, spec, a)
            self.ctes.append(c)
            return a
        if kind == "match_phrase":
            (field, spec), = body.items()
            c, a = _match_phrase_scored_sql(field, spec, a)
            self.ctes.append(c)
            return a
        if kind in ("term", "terms"):
            c, a = _keyword_idf_sql(kind, body, a)
            self.ctes.append(c)
            return a
        if kind in _PRED_KINDS:
            self.ctes.append(
                f"\n{a} AS (SELECT conv_id, turn_idx, 1.0 AS score FROM transcripts WHERE {_pred_sql(kind, body)})"
            )
            return a
        if kind == "intervals":
            c, a = _intervals_sql(body, a)
            self.ctes.append(c)
            return a
        if kind == "multi_match_cross":
            c, a = _multi_match_cross_sql(body, a)
            self.ctes.append(c)
            return a
        if kind in ("prefix", "wildcard", "fuzzy", "regexp"):
            # multi-term queries: constant-score rewrite => 1.0 (default
            # rewrite method, PrefixQueryBuilder / RegexpQueryBuilder et al.)
            (field, v), = body.items()
            spec = v if isinstance(v, dict) else {"value": v}
            val = spec["value"]
            t = _toks(field)
            if kind == "prefix":
                cond = f"starts_with(x, {_sql_str(val)})"
            elif kind == "wildcard":
                cond = f"regexp_matches(x, {_sql_str(analysis.wildcard_regex(val))})"
            elif kind == "regexp":
                cond = f"regexp_matches(x, {_sql_str('^' + val + '$')})"
            else:
                fz = int(spec.get("fuzziness", 2))
                cond = f"levenshtein(x, {_sql_str(val)}) <= {fz}"
            self.ctes.append(
                f"""
{a} AS (
  SELECT conv_id, turn_idx, 1.0 AS score FROM transcripts
  WHERE len(list_filter({t}, x -> {cond})) > 0
)"""
            )
            return a
        if kind == "constant_score":
            inner = self.matched_keys(body["filter"])
            boost = float(body.get("boost", 1.0))
            self.ctes.append(
                f"\n{a} AS (SELECT conv_id, turn_idx, {boost} AS score FROM {inner})"
            )
            return a
        if kind == "dis_max":
            aliases = [self.scored(c) for c in body.get("queries", [])]
            tie = float(body.get("tie_breaker", 0.0))
            uni = " UNION ALL ".join(f"SELECT conv_id, turn_idx, score FROM {x}" for x in aliases)
            self.ctes.append(
                f"""
{a} AS (
  SELECT conv_id, turn_idx, max(score) + {tie} * (sum(score) - max(score)) AS score
  FROM ({uni}) GROUP BY conv_id, turn_idx
)"""
            )
            return a
        if kind == "bool":
            return self._bool(body, a)
        if kind == "boosting":
            pos = self.scored(body["positive"])
            neg = self.matched_keys(body["negative"])
            nb = float(body.get("negative_boost", 0.5))
            self.ctes.append(
                f"""
{a} AS (
  SELECT p.conv_id, p.turn_idx,
    CASE WHEN EXISTS (SELECT 1 FROM {neg} n
                      WHERE n.conv_id = p.conv_id AND n.turn_idx = p.turn_idx)
         THEN p.score * {nb} ELSE p.score END AS score
  FROM {pos} p
)"""
            )
            return a
        if kind == "match_phrase_prefix":
            (field, spec), = body.items()
            c, a = _match_phrase_prefix_sql(field, spec, a)
            self.ctes.append(c)
            return a
        if kind == "terms_set":
            (field, spec), = body.items()
            c, a = _terms_set_sql(field, spec, a)
            self.ctes.append(c)
            return a
        if kind == "distance_feature":
            fld = body["field"]
            piv = float(body["pivot"])
            org = float(body["origin"])
            boost = float(body.get("boost", 1.0))
            self.ctes.append(
                f"""
{a} AS (
  SELECT conv_id, turn_idx,
    {boost} * {piv} / ({piv} + abs(cast({fld} as double) - {org})) AS score
  FROM transcripts WHERE {fld} IS NOT NULL
)"""
            )
            return a
        if kind == "function_score":
            return self._function_score(body, a)
        if kind == "more_like_this":
            return self._more_like_this(body, a)
        if kind == "rank_feature":
            # twin of plans/query_dsl._rank_feature (mapper-extras
            # RankFeatureQueryBuilder.java:47-294)
            f_ = body["field"]
            boost = float(body.get("boost", 1.0))
            vv = f"cast({f_} as double)"
            specs = {k: body[k] for k in ("saturation", "log", "sigmoid") if k in body}
            if len(specs) != 1:
                raise ValueError("rank_feature needs exactly one of saturation/log/sigmoid")
            (fn, spec), = specs.items()
            if fn == "saturation":
                if "pivot" not in spec:
                    raise ValueError("rank_feature saturation requires an explicit pivot")
                e = f"{vv} / ({vv} + {float(spec['pivot'])!r})"
            elif fn == "log":
                e = f"ln({float(spec['scaling_factor'])!r} + {vv})"
            else:
                p, x = float(spec["pivot"]), float(spec["exponent"])
                e = f"power({vv}, {x!r}) / (power({vv}, {x!r}) + {p ** x!r})"
            self.ctes.append(
                f"""
{a} AS (
  SELECT conv_id, turn_idx, {boost!r} * ({e}) AS score
  FROM transcripts WHERE {f_} IS NOT NULL AND {vv} > 0
)"""
            )
            return a
        if kind == "has_child":
            # twin of plans/query_dsl._has_child (HasChildQueryBuilder.java):
            # inner query scores over the WHOLE index, child restriction is a
            # candidate filter after scoring
            inner = self.scored(body["query"])
            mode = body.get("score_mode", "none")
            min_c = int(body.get("min_children", 1))
            max_c = body.get("max_children")
            expr = {
                "none": "1.0", "sum": "sum(c.score)", "max": "max(c.score)",
                "min": "min(c.score)", "avg": "avg(c.score)",
            }[mode]
            max_clause = f" AND pp.nc <= {int(max_c)}" if max_c is not None else ""
            self.ctes.append(
                f"""
{a}_pp AS (
  SELECT c.conv_id, {expr} AS cscore, count(*) AS nc
  FROM {inner} c WHERE c.turn_idx > 0 GROUP BY c.conv_id
),
{a} AS (
  SELECT p.conv_id, p.turn_idx, cast(pp.cscore as double) AS score
  FROM transcripts p JOIN {a}_pp pp ON p.conv_id = pp.conv_id
  WHERE p.turn_idx = 0 AND pp.nc >= {min_c}{max_clause}
)"""
            )
            return a
        if kind == "has_parent":
            # twin of plans/query_dsl._has_parent (HasParentQueryBuilder.java)
            inner = self.scored(body["query"])
            sc = "cast(p.score as double)" if body.get("score") else "1.0"
            self.ctes.append(
                f"""
{a} AS (
  SELECT c.conv_id, c.turn_idx, {sc} AS score
  FROM transcripts c JOIN {inner} p
    ON c.conv_id = p.conv_id AND p.turn_idx = 0
  WHERE c.turn_idx > 0
)"""
            )
            return a
        raise ValueError(f"oracle cannot express: {kind}")

    def _more_like_this(self, body: dict, a: str) -> str:
        """Twin of plans/query_dsl._more_like_this (ids-only likes)."""
        field = (body.get("fields") or ["text"])[0]
        like = body["like"] if isinstance(body["like"], list) else [body["like"]]
        ids = [x["_id"] for x in like if isinstance(x, dict)]
        if len(ids) != len(like):
            raise ValueError("oracle MLT supports _id likes only")
        mqt = int(body.get("max_query_terms", 25))
        mtf = int(body.get("min_term_freq", 2))
        mdf = int(body.get("min_doc_freq", 5))
        msm_raw = body.get("minimum_should_match", "30%")
        pct = int(msm_raw[:-1]) / 100.0 if isinstance(msm_raw, str) and msm_raw.endswith("%") else None
        ids_in = ", ".join(_sql_str(v) for v in ids)
        t = _toks(field)
        dl_q = scoring.quantized_dl_sql("dl", "duckdb")
        idf = scoring.idf_sql("n_docs", "df")
        score = scoring.term_score_sql("tf", dl_q, "avgdl", idf)
        idexpr = "(conv_id || '#' || cast(turn_idx as varchar))"
        msm_sql = (
            f"greatest(1, cast(floor({pct} * (SELECT count(*) FROM {a}_sel)) as bigint))"
            if pct is not None
            else str(int(msm_raw))
        )
        self.ctes.append(f"""
{a}_liketf AS (
  SELECT term, count(*) AS ltf FROM (
    SELECT unnest({t}) AS term FROM transcripts WHERE {idexpr} IN ({ids_in})
  ) GROUP BY term HAVING count(*) >= {mtf}
),
{a}_stats AS (
  SELECT count(*) AS n_docs, sum(len({t})) * 1.0 / count(*) AS avgdl FROM transcripts
),
{a}_alldf AS (
  SELECT term, count(*) AS df FROM (
    SELECT DISTINCT conv_id, turn_idx, unnest({t}) AS term FROM transcripts
  ) WHERE term IN (SELECT term FROM {a}_liketf) GROUP BY term HAVING count(*) >= {mdf}
),
{a}_sel AS (
  SELECT term, df FROM (
    SELECT l.term, d.df, l.ltf * {scoring.idf_sql('n_docs', 'd.df')} AS sal
    FROM {a}_liketf l JOIN {a}_alldf d USING (term) CROSS JOIN {a}_stats
  ) ORDER BY sal DESC, term LIMIT {mqt}
),
{a}_tf AS (
  SELECT conv_id, turn_idx, dl, term, count(*) AS tf FROM (
    SELECT conv_id, turn_idx, len({t}) AS dl, unnest({t}) AS term FROM transcripts
  ) WHERE term IN (SELECT term FROM {a}_sel)
  GROUP BY conv_id, turn_idx, dl, term
),
{a} AS (
  SELECT f.conv_id, f.turn_idx, sum({score}) AS score
  FROM {a}_tf f JOIN {a}_sel USING (term) CROSS JOIN {a}_stats
  WHERE (f.conv_id || '#' || cast(f.turn_idx as varchar)) NOT IN ({ids_in})
  GROUP BY f.conv_id, f.turn_idx
  HAVING count(*) >= {msm_sql}
)""")
        return a

    def _function_score(self, body: dict, a: str) -> str:
        inner = self.scored(body.get("query", {"match_all": {}}))
        functions = body.get("functions", [])
        score_mode = body.get("score_mode", "multiply")
        boost_mode = body.get("boost_mode", "multiply")
        if not functions:
            self.ctes.append(f"\n{a} AS (SELECT * FROM {inner})")
            return a
        fexprs = []
        for fn in functions:
            if "weight" in fn and not ({"field_value_factor", "script_score"} & fn.keys()):
                v = str(float(fn["weight"]))
            elif "field_value_factor" in fn:
                fv = fn["field_value_factor"]
                e = f"coalesce(cast(t.{fv['field']} as double), {float(fv.get('missing', 1.0))})"
                e = f"({e} * {float(fv.get('factor', 1.0))})"
                mod = fv.get("modifier", "none")
                if mod == "log1p":
                    e = f"log10({e} + 1.0)"
                elif mod == "sqrt":
                    e = f"sqrt({e})"
                v = f"({e} * {float(fn.get('weight', 1.0))})"
            elif "script_score" in fn:
                s = painless.script_sql(fn["script_score"]["script"])
                v = f"(({s}) * {float(fn.get('weight', 1.0))})"
            else:
                raise ValueError(f"unsupported function: {list(fn)}")
            if "filter" in fn:
                (fk, fb), = fn["filter"].items()
                pred = _pred_sql(fk, fb)
                ident = "1.0" if score_mode == "multiply" else "0.0"
                v = f"(CASE WHEN {pred} THEN {v} ELSE {ident} END)"
            fexprs.append(v)
        op = {"multiply": " * ", "sum": " + "}.get(score_mode)
        if op:
            combined = op.join(fexprs)
        elif score_mode == "max":
            combined = f"greatest({', '.join(fexprs)})"
        elif score_mode == "min":
            combined = f"least({', '.join(fexprs)})"
        elif score_mode == "avg":
            combined = f"(({' + '.join(fexprs)}) / {float(len(fexprs))})"
        else:
            raise ValueError(score_mode)
        if boost_mode == "multiply":
            final = f"q.score * ({combined})"
        elif boost_mode == "sum":
            final = f"q.score + ({combined})"
        elif boost_mode == "replace":
            final = f"({combined})"
        else:
            raise ValueError(boost_mode)
        self.ctes.append(
            f"""
{a} AS (
  SELECT q.conv_id, q.turn_idx, {final} AS score
  FROM {inner} q JOIN transcripts t USING (conv_id, turn_idx)
)"""
        )
        return a

    def matched_keys(self, q: dict) -> str:
        """Alias selecting distinct (conv_id, turn_idx) matching q."""
        (kind, body), = q.items()
        if kind in _PRED_KINDS:
            a = self.fresh(f"{kind}_keys")
            self.ctes.append(
                f"\n{a} AS (SELECT conv_id, turn_idx FROM transcripts WHERE {_pred_sql(kind, body)})"
            )
            return a
        s = self.scored(q)
        a = self.fresh("keys")
        self.ctes.append(f"\n{a} AS (SELECT conv_id, turn_idx FROM {s})")
        return a

    def _bool(self, body: dict, a: str) -> str:
        def as_list(x):
            return [] if x is None else (x if isinstance(x, list) else [x])

        must = as_list(body.get("must"))
        filt = as_list(body.get("filter"))
        should = as_list(body.get("should"))
        must_not = as_list(body.get("must_not"))
        msm = body.get("minimum_should_match")
        has_anchor = bool(must or filt)
        eff_msm = int(msm) if msm is not None else (0 if has_anchor else 1)

        must_aliases = [self.scored(q) for q in must]
        filt_aliases = [self.matched_keys(q) for q in filt]
        not_aliases = [self.matched_keys(q) for q in must_not]

        if must_aliases:
            base = must_aliases[0]
            expr_score = f"{base}.score"
            joins = ""
            for i, ma in enumerate(must_aliases[1:], 1):
                joins += f" JOIN {ma} USING (conv_id, turn_idx)"
                expr_score += f" + {ma}.score"
            anchor_sql = f"SELECT conv_id, turn_idx, {expr_score} AS score FROM {base}{joins}"
        elif filt_aliases or not_aliases:
            anchor_sql = "SELECT conv_id, turn_idx, 0.0 AS score FROM transcripts"
        else:
            anchor_sql = None

        should_alias = None
        if should:
            parts = []
            for i, q in enumerate(should):
                sa = self.scored(q)
                parts.append(f"SELECT conv_id, turn_idx, score, {i} AS clause FROM {sa}")
            sh = self.fresh("should")
            having = f"HAVING count(DISTINCT clause) >= {eff_msm}" if eff_msm > 0 else ""
            self.ctes.append(
                f"""
{sh} AS (
  SELECT conv_id, turn_idx, sum(score) AS score
  FROM ({' UNION ALL '.join(parts)}) GROUP BY conv_id, turn_idx {having}
)"""
            )
            should_alias = sh

        if anchor_sql is None:
            final = f"SELECT conv_id, turn_idx, score FROM {should_alias}"
        else:
            anc = self.fresh("anchor")
            self.ctes.append(f"\n{anc} AS ({anchor_sql})")
            if should_alias:
                jt = "JOIN" if eff_msm > 0 else "LEFT JOIN"
                final = (
                    f"SELECT {anc}.conv_id, {anc}.turn_idx, "
                    f"{anc}.score + coalesce({should_alias}.score, 0.0) AS score "
                    f"FROM {anc} {jt} {should_alias} USING (conv_id, turn_idx)"
                )
            else:
                final = f"SELECT conv_id, turn_idx, score FROM {anc}"

        where = []
        for fa in filt_aliases:
            where.append(
                f"EXISTS (SELECT 1 FROM {fa} WHERE {fa}.conv_id = __b.conv_id AND {fa}.turn_idx = __b.turn_idx)"
            )
        for na in not_aliases:
            where.append(
                f"NOT EXISTS (SELECT 1 FROM {na} WHERE {na}.conv_id = __b.conv_id AND {na}.turn_idx = __b.turn_idx)"
            )
        body_sql = f"SELECT * FROM ({final}) __b"
        if where:
            body_sql += " WHERE " + " AND ".join(where)
        self.ctes.append(f"\n{a} AS ({body_sql})")
        return a


def search_after_sql(query: dict, sort_cols: list[str], after: tuple, size: int) -> str:
    """Oracle for cursor.search_after: keyset pagination by sort tuple."""
    g = _SqlGen()
    a = g.scored(query)
    ctes = ",".join(g.ctes)
    cols = ", ".join(sort_cols)
    vals = ", ".join(_sql_str(v) for v in after)
    return f"""{TRANSCRIPTS_CTE},{ctes}
SELECT conv_id, turn_idx FROM {a} JOIN transcripts USING (conv_id, turn_idx)
WHERE ({cols}) > ({vals})
ORDER BY {cols} LIMIT {size}"""


def script_fields_sql(query: dict, fields: dict, k: int = 10) -> str:
    """Oracle for cursor.script_fields: top-k + per-hit script columns (the
    translator emits SQL valid in both Spark and DuckDB)."""
    from .functions.painless import script_sql

    g = _SqlGen()
    a = g.scored(query)
    ctes = ",".join(g.ctes)
    cols = ", ".join(
        f"{script_sql(spec)} AS {name}" for name, spec in sorted(fields.items())
    )
    return f"""{TRANSCRIPTS_CTE},{ctes},
hits AS (
  SELECT conv_id, turn_idx, round(score, 4) AS score FROM {a}
  ORDER BY round(score, 6) DESC, conv_id, turn_idx LIMIT {k}
)
SELECT conv_id, turn_idx, score, {cols}
FROM (
  SELECT t.*, h.score
  FROM hits h JOIN transcripts t
    ON t.conv_id = h.conv_id AND t.turn_idx = h.turn_idx
)"""


def script_sort_sql(query: dict, script, order: str = "asc", size: int = 10) -> str:
    """Oracle for cursor.script_sort: matched set ordered by script value."""
    from .functions.painless import script_sql

    g = _SqlGen()
    a = g.scored(query)
    ctes = ",".join(g.ctes)
    return f"""{TRANSCRIPTS_CTE},{ctes}
SELECT conv_id, turn_idx, {script_sql(script)} AS sort_value
FROM {a} JOIN transcripts t USING (conv_id, turn_idx)
ORDER BY sort_value {order.upper()} NULLS LAST, conv_id, turn_idx LIMIT {size}"""


def explain_match_sql(query_text: str, k: int = 10) -> str:
    """Oracle for match.explain_match: per-term BM25 components for the
    top-k hits of a match query (shared formula snippets)."""
    ctes, a = _match_scored_sql("text", {"query": query_text}, "q")
    dl_q = scoring.quantized_dl_sql("dl", "duckdb")
    idf = scoring.idf_sql("n_docs", "df")
    score = scoring.term_score_sql("tf", dl_q, "avgdl", idf)
    return f"""{TRANSCRIPTS_CTE},{ctes},
hits AS (
  SELECT conv_id, turn_idx, round(score, 4) AS total_score FROM {a}
  ORDER BY round(score, 6) DESC, conv_id, turn_idx LIMIT {k}
)
SELECT f.conv_id, f.turn_idx, f.term,
       f.tf AS term_freq, df AS doc_freq,
       round({idf}, 4) AS idf,
       cast({dl_q} AS double) AS dl_quantized,
       round({score}, 4) AS term_score,
       h.total_score
FROM {a}_tf f
JOIN {a}_df USING (term)
CROSS JOIN {a}_stats
JOIN hits h ON h.conv_id = f.conv_id AND h.turn_idx = f.turn_idx"""


def field_sort_sql(query: dict, sorts: list[dict], size: int = 10) -> str:
    """Oracle for cursor.field_sort: matched set under multi-field sort."""
    g = _SqlGen()
    a = g.scored(query)
    ctes = ",".join(g.ctes)
    parts = []
    for sspec in sorts:
        o = sspec.get("order", "asc").upper()
        nulls = "NULLS LAST" if sspec.get("missing", "_last") == "_last" else "NULLS FIRST"
        parts.append(f"{sspec['field']} {o} {nulls}")
    order = ", ".join(parts)
    sel = ", ".join(
        sspec["field"] for sspec in sorts
        if sspec["field"] not in ("conv_id", "turn_idx")
    )
    sel = (", " + sel) if sel else ""
    return f"""{TRANSCRIPTS_CTE},{ctes}
SELECT conv_id, turn_idx{sel}
FROM {a} JOIN transcripts t USING (conv_id, turn_idx)
ORDER BY {order}, conv_id, turn_idx LIMIT {size}"""


def msearch_sql(queries: list[dict], k: int = 10) -> str:
    """Oracle for cursor.msearch: tagged union of independent top-k runs."""
    g = _SqlGen()
    parts = []
    for i, qd in enumerate(queries):
        a = g.scored(qd)
        parts.append(f"""SELECT {i} AS req, conv_id, turn_idx, score FROM (
  SELECT conv_id, turn_idx, round(score, 4) AS score FROM {a}
  ORDER BY round(score, 6) DESC, conv_id, turn_idx LIMIT {k})""")
    ctes = ",".join(g.ctes)
    return f"{TRANSCRIPTS_CTE},{ctes}\n" + "\nUNION ALL\n".join(parts)


def count_sql(query: dict) -> str:
    """Oracle for cursor.count: matching-doc count."""
    g = _SqlGen()
    a = g.scored(query)
    ctes = ",".join(g.ctes)
    return f"""{TRANSCRIPTS_CTE},{ctes}
SELECT count(*) AS cnt FROM {a}"""


def source_filtering_sql(
    query: dict, cols: list[str], k: int = 10
) -> str:
    """Oracle for cursor.source_filtering: top-k + projected source cols."""
    g = _SqlGen()
    a = g.scored(query)
    ctes = ",".join(g.ctes)
    sel = ", ".join(f"t.{c}" for c in cols)
    return f"""{TRANSCRIPTS_CTE},{ctes},
hits AS (
  SELECT conv_id, turn_idx, round(score, 4) AS score FROM {a}
  ORDER BY round(score, 6) DESC, conv_id, turn_idx LIMIT {k}
)
SELECT h.conv_id, h.turn_idx, h.score, {sel}
FROM hits h JOIN transcripts t ON t.conv_id = h.conv_id AND t.turn_idx = h.turn_idx"""


def collapse_sql(query: dict, field: str, k: int, inner_hits: int) -> str:
    """Oracle for cursor.collapse: best-hit-per-key + inner_hits expansion."""
    g = _SqlGen()
    a = g.scored(query)
    ctes = ",".join(g.ctes)
    keep = max(1, inner_hits)
    return f"""{TRANSCRIPTS_CTE},{ctes},
base AS (
  SELECT x.conv_id, x.turn_idx, t.{field} AS fld, x.score
  FROM {a} x JOIN transcripts t ON t.conv_id = x.conv_id AND t.turn_idx = x.turn_idx
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY fld ORDER BY round(score, 6) DESC, conv_id, turn_idx) AS rn
  FROM base
),
ih AS (
  SELECT fld, conv_id, turn_idx, round(score, 4) AS score, rn AS hit_rank
  FROM ranked WHERE rn <= {keep}
),
best AS (SELECT fld FROM ih WHERE hit_rank = 1 ORDER BY score DESC, fld LIMIT {k})
SELECT ih.fld AS {field}, conv_id, turn_idx, score, hit_rank
FROM ih JOIN best USING (fld)"""


def rescore_sql(
    query: dict,
    rescore_query: dict,
    window_size: int,
    query_weight: float,
    rescore_query_weight: float,
    k: int,
) -> str:
    """Oracle for cursor.rescore: top-window second-pass re-ranking."""
    g = _SqlGen()
    a1 = g.scored(query)
    a2 = g.scored(rescore_query)
    ctes = ",".join(g.ctes)
    return f"""{TRANSCRIPTS_CTE},{ctes},
win AS (
  SELECT conv_id, turn_idx, score FROM {a1}
  ORDER BY round(score, 6) DESC, conv_id, turn_idx LIMIT {window_size}
),
comb AS (
  SELECT w.conv_id, w.turn_idx,
         w.score * {query_weight} + coalesce(r.score, 0.0) * {rescore_query_weight} AS score
  FROM win w LEFT JOIN {a2} r ON r.conv_id = w.conv_id AND r.turn_idx = w.turn_idx
)
SELECT conv_id, turn_idx, round(score, 4) AS score FROM comb
ORDER BY round(score, 6) DESC, conv_id, turn_idx LIMIT {k}"""


def highlight_search_sql(query: dict, terms: list[str], k: int = 10, fragment_size: int = 100) -> str:
    """Oracle for a top-k search with a highlighted fragment per hit."""
    from .functions.highlight import highlight_sql

    g = _SqlGen()
    a = g.scored(query)
    ctes = ",".join(g.ctes)
    return f"""{TRANSCRIPTS_CTE},{ctes},
hits AS (
  SELECT conv_id, turn_idx, round(score, 4) AS score FROM {a}
  ORDER BY round(score, 6) DESC, conv_id, turn_idx LIMIT {k}
)
SELECT h.conv_id, h.turn_idx, h.score,
       {highlight_sql('t.text', terms, fragment_size)} AS fragment
FROM hits h JOIN transcripts t ON t.conv_id = h.conv_id AND t.turn_idx = h.turn_idx"""


def highlight_fragments_search_sql(
    query: dict, terms: list[str], k: int = 10, **hl_opts
) -> str:
    """Oracle for a top-k search with the multi-fragment highlighter
    (pre/post tags, number_of_fragments, order="score", no_match_size)."""
    from .functions.highlight import highlight_fragments_sql

    g = _SqlGen()
    a = g.scored(query)
    ctes = ",".join(g.ctes)
    return f"""{TRANSCRIPTS_CTE},{ctes},
hits AS (
  SELECT conv_id, turn_idx, round(score, 4) AS score FROM {a}
  ORDER BY round(score, 6) DESC, conv_id, turn_idx LIMIT {k}
)
SELECT h.conv_id, h.turn_idx, h.score,
       {highlight_fragments_sql('t.text', terms, **hl_opts)} AS fragments
FROM hits h JOIN transcripts t ON t.conv_id = h.conv_id AND t.turn_idx = h.turn_idx"""


def search_sql(query: dict, k: int = 10) -> str:
    """Full oracle SQL for `search(docs, query, k)`: top-k with the same
    deterministic ordering and rounding as operators/match.top_k."""
    g = _SqlGen()
    a = g.scored(query)
    ctes = ",".join(g.ctes)
    return f"""{TRANSCRIPTS_CTE},{ctes}
SELECT conv_id, turn_idx, round(score, 4) AS score
FROM {a}
ORDER BY round(score, 6) DESC, conv_id ASC, turn_idx ASC
LIMIT {k}"""
