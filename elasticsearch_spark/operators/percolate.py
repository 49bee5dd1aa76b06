"""Percolate: reverse search — match incoming documents against STORED
queries (reference: modules/percolator/, PercolateQueryBuilder.java; candidate
pruning via extracted query terms in QueryAnalyzer.java — the percolator only
executes queries whose required terms occur in the document).

Spark-first shape: that candidate-extraction design IS a relational plan.
Stored queries decompose to (query_id, term, need) rows; documents tokenize
and explode to (doc_key, term) rows; an equi-join on term + a groupBy
(doc, query) counting distinct matched terms >= need evaluates every
match-style query against every doc in ONE shuffle — no per-(doc, query)
loop, no per-doc memory index. At 100 TB both sides partition by term and the
query side is broadcast when small (the common case: queries are curated).

Supported stored-query shapes (the percolator's core use): match with
operator or/and and minimum_should_match, term/terms, prefix, and wildcard on the
analyzed field — answered by the term/startswith/rlike joins alone — plus
match_phrase and bool
compounds via the SAME two-phase design ES uses (PercolateQuery's
candidate-then-verify, QueryAnalyzer.java extraction): the term join
produces candidates from the query's positive terms, then a residual verify
pass re-evaluates the exact query (positions, must_not, msm) with the
logical query compiler over ONLY the candidate docs.

Keyword-field-only, pure-negative, and range-only stored queries have no
extractable terms; ES marks those matchAllDocs in QueryAnalyzer.java and
verifies them per-doc via MemoryIndex. The analog here (round 5): such
queries take the SCAN arm — candidate = every doc of the percolated batch,
verified exactly by the logical compiler. Cost is bounded by the percolated
batch size (the docs the caller hands in), never the corpus, matching ES's
per-percolated-doc MemoryIndex cost model.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import analysis
from ..plans.query_dsl import min_should_match


class UnextractableQuery(ValueError):
    """Stored query with no extractable positive text terms (keyword-only /
    pure-negative / range-only / msm<=0 shapes) — QueryAnalyzer.java marks
    these matchAllDocs and ES verifies per-doc via MemoryIndex; the scan arm
    handles them exactly. Distinct from a plain ValueError, which signals an
    INVALID stored query (e.g. a malformed minimum_should_match) and always
    propagates to the caller."""


def _query_terms(query: dict) -> tuple[list[str], int, bool]:
    """(terms, needed distinct matches, residual) for one stored query.

    `residual`=False: candidate == match (the term-count test IS the query).
    `residual`=True: the terms only PRUNE (sound: every match contains >=
    `need` of them); an exact verify pass must confirm candidates
    (QueryAnalyzer.java extraction + PercolateQuery verified-matches)."""
    (kind, body), = query.items()
    if kind == "match":
        (field, spec), = body.items()
        if field != "text":
            raise UnextractableQuery("percolate supports the analyzed `text` field")
        if isinstance(spec, str):
            spec = {"query": spec}
        terms = list(dict.fromkeys(analysis.analyze(spec["query"])))
        op = spec.get("operator", "or").lower()
        need = (
            len(terms) if op == "and"
            else min_should_match(spec.get("minimum_should_match"), len(terms))
        )
        return terms, need, False
    if kind in ("term", "terms"):
        (field, v), = body.items()
        if field != "text":
            raise UnextractableQuery("percolate supports the analyzed `text` field")
        vals = list(v) if kind == "terms" else [v["value"] if isinstance(v, dict) else v]
        return [str(x).lower() for x in vals], 1, False
    if kind == "match_phrase":
        (field, spec), = body.items()
        if field != "text":
            raise UnextractableQuery("percolate supports the analyzed `text` field")
        text = spec["query"] if isinstance(spec, dict) else spec
        terms = list(dict.fromkeys(analysis.analyze(text)))
        # all distinct phrase terms are required; positions verify residually
        return terms, len(terms), True
    if kind == "bool":
        # sound pruning (QueryAnalyzer.java extraction): need=1 keeps
        # extraction simple — the verify pass is exact anyway. Soundness
        # rules: a required (must/filter) child's terms always prune (every
        # match satisfies that child); SHOULD terms prune only when the bool
        # has NO required clauses (then >=1 should clause must match) AND
        # every should child is extractable — if one isn't, a doc could
        # match through it alone and would be wrongly pruned.
        req_terms: list[str] = []
        had_required = False
        for clause in ("must", "filter"):
            items = body.get(clause) or []
            for sub in items if isinstance(items, list) else [items]:
                had_required = True
                try:
                    ts, _, _ = _query_terms(sub)
                except UnextractableQuery:
                    continue  # another required clause may still prune soundly
                req_terms += ts
        if had_required:
            if not req_terms:
                raise UnextractableQuery(
                    "percolate bool query has no extractable required terms "
                    "(keyword-only / range-only must clauses route to the "
                    "exact scan arm)"
                )
            return list(dict.fromkeys(req_terms)), 1, True
        msm = body.get("minimum_should_match")
        if msm is not None and str(msm).rstrip("%").lstrip("-").isdigit() \
                and int(str(msm).rstrip("%")) <= 0:
            # msm<=0 makes should clauses OPTIONAL (the bool matches every
            # doc); term-based candidate pruning would silently drop matches,
            # so refuse loudly like the other unsupported stored shapes
            raise UnextractableQuery(
                "percolate bool with minimum_should_match<=0 matches all "
                "docs; term pruning is unsound for this stored query"
            )
        sh_terms: list[str] = []
        items = body.get("should") or []
        for sub in items if isinstance(items, list) else [items]:
            # an un-extractable should child makes should-based pruning
            # unsound — its UnextractableQuery propagates and routes the
            # whole bool to the exact scan arm
            ts, _, _ = _query_terms(sub)
            sh_terms += ts
        if not sh_terms:
            raise UnextractableQuery(
                "percolate bool query has no extractable positive terms "
                "(pure-negative / keyword-only stored queries route to the "
                "exact scan arm)"
            )
        return list(dict.fromkeys(sh_terms)), 1, True
    raise UnextractableQuery(f"percolate cannot index stored query kind: {kind}")


def percolate(
    docs: DataFrame,
    stored_queries: dict[str, dict],
    key_cols: list[str] | None = None,
    text_col: str = "text",
) -> DataFrame:
    """(key_cols..., query_id) for every (document, stored query) match."""
    key_cols = key_cols or ["conv_id", "turn_idx"]
    spark = docs.sparkSession
    rows = []
    prefix_rows = []
    pattern_rows = []
    residual_ids = []
    scan_ids = []
    for qid in sorted(stored_queries):
        q = stored_queries[qid]
        (qk, qb), = q.items()
        if qk in ("prefix", "wildcard"):
            # PrefixQueryBuilder / WildcardQueryBuilder over the analyzed
            # field: a doc matches iff any token matches the pattern — the
            # candidate test IS the query (MultiTermQuery term enumeration,
            # here a startswith/rlike join on the exploded distinct tokens;
            # query side broadcast)
            (field, v), = qb.items()
            if field != text_col:
                scan_ids.append(qid)  # keyword-field pattern: scan arm
                continue
            v = v["value"] if isinstance(v, dict) else v
            v = str(v).lower()
            if qk == "wildcard":
                # same translation the engine + oracle use (topk.expand_terms)
                pattern_rows.append((qid, analysis.wildcard_regex(v)))
            else:
                prefix_rows.append((qid, v))
            continue
        try:
            terms, need, residual = _query_terms(q)
        except UnextractableQuery:
            # no extractable positive terms (keyword-only / pure-negative /
            # range-only / msm<=0): QueryAnalyzer.java marks these
            # matchAllDocs and ES verifies per-doc via MemoryIndex — here
            # the scan arm verifies them exactly over the percolated batch
            scan_ids.append(qid)
            continue
        if not terms:
            continue  # zero-term query matches nothing (zero_terms NONE)
        if residual:
            residual_ids.append(qid)
        rows += [(qid, t, need) for t in terms]
    qterms = spark.createDataFrame(rows, "query_id string, term string, need int")
    doc_terms = docs.select(
        *key_cols,
        F.explode(F.array_distinct(analysis.tokens(text_col))).alias("term"),
    )
    cand = (
        doc_terms.join(F.broadcast(qterms), "term")
        .groupBy(*key_cols, "query_id")
        .agg(F.count(F.lit(1)).alias("_m"), F.max("need").alias("_need"))
        .where(F.col("_m") >= F.col("_need"))
        .select(*key_cols, "query_id")
    )
    if prefix_rows:
        pq = spark.createDataFrame(prefix_rows, "query_id string, prefix string")
        pcand = (
            doc_terms.join(F.broadcast(pq), F.col("term").startswith(F.col("prefix")))
            .select(*key_cols, "query_id")
            .distinct()
        )
        cand = cand.unionByName(pcand)
    if pattern_rows:
        wq = spark.createDataFrame(pattern_rows, "query_id string, pattern string")
        wcand = (
            doc_terms.join(F.broadcast(wq), F.expr("term rlike pattern"))
            .select(*key_cols, "query_id")
            .distinct()
        )
        cand = cand.unionByName(wcand)
    from ..plans import query_dsl as Q

    def tokenized_terms(q):
        # term/terms on the ANALYZED field rewrite to single-token matches
        # first: a term query against a text field matches the indexed
        # TOKENS (TermQueryBuilder over TextFieldMapper), which is the
        # percolator semantics the candidate join already implements —
        # query_dsl's term leaf would compare the whole raw value instead.
        if not (isinstance(q, dict) and len(q) == 1):
            return q
        (k, b), = q.items()
        if k in ("term", "terms") and isinstance(b, dict) and len(b) == 1:
            (f, v), = b.items()
            if f == text_col:
                vals = list(v) if k == "terms" else [v["value"] if isinstance(v, dict) else v]
                return {"match": {f: " ".join(str(x).lower() for x in vals)}}
        if k == "bool":
            out = {}
            for cl, items in b.items():
                if items is None:
                    continue
                if cl in ("must", "filter", "should", "must_not"):
                    out[cl] = [
                        tokenized_terms(s)
                        for s in (items if isinstance(items, list) else [items])
                    ]
                else:  # scalar options (minimum_should_match, boost, ...)
                    out[cl] = items
            return {"bool": out}
        return q

    if residual_ids:
        # verify pass (PercolateQuery's verified matches): re-evaluate each
        # residual query exactly, over ONLY its candidate docs (semi-join
        # pruning — the verify subplan never scans the full doc stream).
        direct = cand.where(~F.col("query_id").isin(residual_ids))
        parts = [direct]
        for qid in residual_ids:
            sub = docs.join(
                cand.where(F.col("query_id") == qid).select(*key_cols),
                key_cols,
                "left_semi",
            )
            hit = Q.compile_query(tokenized_terms(stored_queries[qid]), sub, key_cols, text_col)
            parts.append(
                hit.select(*key_cols).withColumn("query_id", F.lit(qid))
            )
        cand = parts[0]
        for p in parts[1:]:
            cand = cand.unionByName(p)
    for qid in scan_ids:
        # scan arm: exact evaluation over the whole percolated batch (the
        # MemoryIndex analog) — candidate pruning has nothing to offer these
        hit = Q.compile_query(
            tokenized_terms(stored_queries[qid]), docs, key_cols, text_col
        )
        cand = cand.unionByName(
            hit.select(*key_cols).withColumn("query_id", F.lit(qid))
        )
    return cand.orderBy(*key_cols, "query_id")
