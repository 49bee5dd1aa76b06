"""Cursoring / pagination / re-ranking operators (SURVEY.md §2.1, §2.5).

Reference semantics:
  * from/size        — SearchService.java:165-166 (defaults 0/10).
  * search_after     — cursor by sort-key tuple (SearchAfterBuilder.java):
                       WHERE (sort keys) > (last seen) — no deep-paging cost.
  * scroll           — stateful cursor over a point-in-time reader
                       (SearchScrollQueryThenFetchAsyncAction; MinDocQuery
                       skip optimization QueryPhase.java:183-215). Spark
                       analog: pin an immutable snapshot id, page by the
                       dense index-time ordinal — each page is a range scan
                       the parquet reader prunes by ordinal min/max.
  * sliced scroll    — hash(doc) slices (slice/SliceBuilder.java): pmod of
                       xxhash64 over the doc key.
  * field collapse   — one best hit per key + inner_hits expansion
                       (CollapsingTopDocsCollectorContext,
                       ExpandSearchPhase.java) -> row_number windows.
  * rescore          — re-rank the top `window_size` docs with a second query
                       (search/rescore/QueryRescorer.java): final =
                       query_weight * first + rescore_query_weight * second
                       for docs in the window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans import query_dsl as Q
from ..sources.segment_store import read_spark


def from_size(
    scored_sorted: DataFrame,
    from_: int = 0,
    size: int = 10,
    order_cols: list | None = None,
) -> DataFrame:
    """Offset pagination: LIMIT from+size then slice (coordinator-side skip,
    like ES's from+size over merged shard tops).

    order_cols re-establishes the caller's sort inside the window — Spark does
    not guarantee row order survives the limit->window exchange, so ranking by
    a constant would silently pick wrong rows on multi-partition plans. The
    default applies ONLY to search()-shaped frames (a `score` column) and
    matches that contract: (round(score,6) desc, other cols asc); any other
    frame must pass its sort explicitly — guessing a sort here would page
    from the wrong end without an error.
    """
    if order_cols is None:
        cols = scored_sorted.columns
        if "score" not in cols:
            raise ValueError(
                "from_size needs order_cols for frames without a score column"
            )
        order_cols = [F.round(F.col("score"), 6).desc()] + [
            F.col(c).asc() for c in cols if c != "score"
        ]
    w = Window.orderBy(*order_cols)
    head = scored_sorted.limit(from_ + size)
    return (
        head.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") > from_)
        .drop("_rn")
    )


def search_after(
    docs: DataFrame,
    query: dict,
    key_cols: list[str],
    sort_cols: list[str],
    after: tuple | None,
    size: int = 10,
) -> DataFrame:
    """Keyset pagination: strict lexicographic (sort tuple) > after."""
    scored = Q.compile_query(query, docs, key_cols)
    full = scored.join(docs, key_cols)
    if after is not None:
        pred = None
        for i in range(len(sort_cols)):
            eqs = [F.col(sort_cols[j]) == F.lit(after[j]) for j in range(i)]
            gt = F.col(sort_cols[i]) > F.lit(after[i])
            clause = gt
            for e in eqs:
                clause = e & clause
            pred = clause if pred is None else (pred | clause)
        full = full.where(pred)
    return (
        full.orderBy(*[F.col(c).asc() for c in sort_cols])
        .limit(size)
        .select(*key_cols, *[c for c in sort_cols if c not in key_cols])
    )


class Scroll:
    """Point-in-time cursor over a segment store: the snapshot id is pinned at
    open (writers never disturb it), pages advance by ordinal ranges."""

    def __init__(
        self,
        spark: SparkSession,
        store,
        size: int = 100,
        predicate: str | None = None,
        snapshot_id: int | None = None,
        n_slices: int = 1,
        slice_id: int = 0,
    ):
        from .topk import read_segment_docs

        self.snapshot_id = snapshot_id if snapshot_id is not None else store.current_snapshot_id()
        snap = store.snapshot(self.snapshot_id)
        docs = read_segment_docs(spark, store, snap)
        if snap.delete_files:
            dels = read_spark(spark, *snap.delete_files)
            docs = docs.join(dels, ["segment", "ordinal"], "left_anti")
        if predicate:
            docs = docs.where(predicate)
        if n_slices > 1:
            # sliced scroll: hash-slice by doc key (TermsSliceQuery analog)
            h = F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(n_slices))
            docs = docs.where(h == slice_id)
        self._docs = docs
        self._size = size
        self._cursor = (None, -1)  # (segment, ordinal) last seen

    def next_page(self) -> list:
        seg, off = self._cursor
        d = self._docs
        if seg is not None:
            d = d.where(
                (F.col("segment") > seg)
                | ((F.col("segment") == seg) & (F.col("ordinal") > off))
            )
        rows = d.orderBy("segment", "ordinal").limit(self._size).collect()
        if rows:
            self._cursor = (rows[-1].segment, rows[-1].ordinal)
        return rows


def terminate_after_scan(
    spark: SparkSession,
    store,
    predicate: str,
    n: int,
    snapshot_id: int | None = None,
    batch_counter=None,
) -> DataFrame:
    """terminate_after: stop collecting after `n` matching docs per partition
    (EarlyTerminatingCollector.java semantics — ES stops the per-shard
    collector at N and flags partial results).

    The mapInPandas generator stops CONSUMING its Arrow batch iterator once n
    matches are buffered, so remaining row groups of the partition are never
    read — a real early exit, not a post-hoc LIMIT.

    Exactness requires each partition's first n matches to be its n SMALLEST
    keys. Spark packs multiple files into a scan partition in SIZE order (not
    key order), which breaks that prefix property — so the scan is built as a
    union of per-FILE reads: each docs file is key-sorted with a disjoint key
    range (a small segment is one sorted file written on the driver; a larger
    build range-partitions by key and each task writes one sorted part
    file), each union leg's partitions contain only that file's splits,
    and the delete anti-join is broadcast so no shuffle disturbs the
    ordering. Per-file prefix + coordinator orderBy().limit(n) == the global
    first n matching docs by (conv_id, turn_idx), deterministically. (At a
    100 TB file count, group files into key-ordered buckets instead of one
    leg per file.)
    `batch_counter` (a Spark accumulator) counts consumed Arrow batches.
    """
    import glob
    import os
    from collections.abc import Iterator
    from functools import reduce

    import pandas as pd

    from .topk import _deletes_df

    snap = store.snapshot(snapshot_id)
    legs = []
    for seg in snap.segments:
        for f in sorted(glob.glob(os.path.join(store.docs_path(seg.segment_id), "*.parquet"))):
            legs.append(
                read_spark(spark, f).withColumn("segment", F.lit(seg.segment_id))
            )
    docs = reduce(lambda a, b: a.unionByName(b), legs)
    dels = _deletes_df(spark, store, snap)
    if dels is not None:
        docs = docs.join(F.broadcast(dels), ["segment", "ordinal"], "left_anti")
    # predicate pushed to the parquet scan; the early exit bounds how many
    # surviving batches each partition materializes
    matched = docs.where(predicate).select("conv_id", "turn_idx")

    def take_n(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        found = 0
        for pdf in it:
            if batch_counter is not None:
                batch_counter.add(1)
            take = min(n - found, len(pdf))
            if take > 0:
                yield pdf.iloc[:take]
                found += take
            if found >= n:
                return  # stop consuming: remaining batches are never read

    out = matched.mapInPandas(take_n, schema="conv_id string, turn_idx int")
    return out.orderBy("conv_id", "turn_idx").limit(n)


def collapse(
    docs: DataFrame,
    query: dict,
    key_cols: list[str],
    collapse_field: str,
    k: int = 10,
    inner_hits: int = 0,
) -> DataFrame:
    """Field collapse: best hit per collapse key ranked by score; optional
    inner_hits expansion returns the per-key top inner_hits rows flat."""
    scored = Q.compile_query(query, docs, key_cols).join(
        docs.select(*key_cols, collapse_field), key_cols
    )
    w = Window.partitionBy(collapse_field).orderBy(
        F.round(F.col("score"), 6).desc(), *[F.col(c).asc() for c in key_cols]
    )
    ranked = scored.withColumn("_rn", F.row_number().over(w))
    keep = max(1, inner_hits)
    out = (
        ranked.where(F.col("_rn") <= keep)
        .select(
            collapse_field,
            *key_cols,
            F.round(F.col("score"), 4).alias("score"),
            F.col("_rn").alias("hit_rank"),
        )
    )
    # top-k collapse groups by their best (rank-1) score
    best = out.where(F.col("hit_rank") == 1).orderBy(
        F.col("score").desc(), F.col(collapse_field).asc()
    ).limit(k).select(collapse_field)
    return out.join(F.broadcast(best), collapse_field)


def rescore(
    docs: DataFrame,
    query: dict,
    rescore_query: dict,
    key_cols: list[str],
    window_size: int = 10,
    query_weight: float = 1.0,
    rescore_query_weight: float = 1.0,
    k: int = 10,
) -> DataFrame:
    """QueryRescorer: first-pass top-window re-scored by a second query."""
    first = Q.compile_query(query, docs, key_cols)
    window = (
        first.orderBy(F.round(F.col("score"), 6).desc(), *[F.col(c).asc() for c in key_cols])
        .limit(window_size)
    )
    second = Q.compile_query(rescore_query, docs, key_cols).withColumnRenamed(
        "score", "_s2"
    )
    combined = window.join(second, key_cols, "left").select(
        *key_cols,
        (
            F.col("score") * F.lit(query_weight)
            + F.coalesce(F.col("_s2"), F.lit(0.0)) * F.lit(rescore_query_weight)
        ).alias("score"),
    )
    return (
        combined.orderBy(F.round(F.col("score"), 6).desc(), *[F.col(c).asc() for c in key_cols])
        .limit(k)
        .select(*key_cols, F.round(F.col("score"), 4).alias("score"))
    )


def script_fields(
    docs: DataFrame,
    query: dict,
    key_cols: list[str],
    fields: dict[str, dict | str],
    k: int = 10,
) -> DataFrame:
    """Script fields (search/fetch/subphase/ScriptFieldsPhase.java; Painless
    FIELDS context): run the query top-k as usual, then the fetch phase
    computes one extra column per named script over each hit's doc values.
    Scripts use the shared Painless expression subset (doc['f'].value,
    params, Math.*, arithmetic/ternary) translated to a Spark SQL
    expression — JVM-side, no per-hit Python."""
    from ..functions import painless

    hits = Q.search(docs, query, key_cols, k=k)
    exprs = [
        F.expr(painless.script_sql(spec)).alias(name)
        for name, spec in sorted(fields.items())
    ]
    return hits.join(docs, key_cols).select(*key_cols, "score", *exprs)


def script_sort(
    docs: DataFrame,
    query: dict,
    key_cols: list[str],
    script: dict | str,
    order: str = "asc",
    size: int = 10,
) -> DataFrame:
    """Script sort (sort [{"_script": {"type": "number", ...}}],
    ScriptSortBuilder / Painless NUMBER_SORT context): the matched set
    ordered by the script value instead of relevance, ties by doc key.
    The script translates to one SQL expression evaluated in the same scan
    that applies the query predicate — no extra pass."""
    from ..functions import painless

    if order not in ("asc", "desc"):
        raise ValueError(f"order must be asc/desc, got {order!r}")
    matched = Q.compile_query(query, docs, key_cols)
    expr = F.expr(painless.script_sql(script))
    full = matched.join(docs, key_cols).select(
        *key_cols, expr.alias("sort_value")
    )
    # explicit null placement (Spark asc defaults NULLS FIRST, DuckDB NULLS
    # LAST — pin LAST on both so a script that evaluates to NULL on some
    # rows cannot diverge engine-vs-oracle)
    ov = (
        F.col("sort_value").asc_nulls_last()
        if order == "asc"
        else F.col("sort_value").desc_nulls_last()
    )
    return full.orderBy(ov, *[F.col(c).asc() for c in key_cols]).limit(size)


def count(docs: DataFrame, query: dict, key_cols: list[str]) -> DataFrame:
    """_count endpoint (RestCountAction -> query phase with size=0): the
    number of docs matching the query, as a 1-row (cnt) DataFrame. Runs as
    a count aggregate over the match set — no fetch phase, no top-k heap."""
    matched = Q.compile_query(query, docs, key_cols)
    return matched.agg(F.count(F.lit(1)).alias("cnt"))


def source_filtering(
    docs: DataFrame,
    query: dict,
    key_cols: list[str],
    includes: list[str] | None = None,
    excludes: list[str] | None = None,
    k: int = 10,
) -> DataFrame:
    """Fetch-phase _source filtering (FetchSourceContext.java:124-186):
    top-k hits carry only the included-minus-excluded source fields.
    Column pruning reaches the parquet scan — an excluded wide column is
    never read."""
    hits = Q.search(docs, query, key_cols, k=k)
    cols = [c for c in docs.columns if c not in key_cols]
    if includes is not None:
        cols = [c for c in cols if c in includes]
    if excludes:
        cols = [c for c in cols if c not in excludes]
    return hits.join(docs.select(*key_cols, *cols), key_cols).select(
        *key_cols, "score", *cols
    )


def field_sort(
    docs: DataFrame,
    query: dict,
    key_cols: list[str],
    sorts: list[dict],
    size: int = 10,
) -> DataFrame:
    """Field sort (FieldSortBuilder): the matched set ordered by sort specs
    [{"field": f, "order": "asc"|"desc", "missing": "_first"|"_last"}, ...],
    ties broken by doc key asc. Null field values follow `missing`
    (default _last, as ES does for asc sorts on absent values)."""
    matched = Q.compile_query(query, docs, key_cols)
    full = matched.join(docs, key_cols)
    order = []
    for s in sorts:
        c = F.col(s["field"])
        o = s.get("order", "asc")
        miss = s.get("missing", "_last")
        if o not in ("asc", "desc") or miss not in ("_first", "_last"):
            raise ValueError(f"bad sort spec: {s!r}")
        if o == "asc":
            order.append(c.asc_nulls_last() if miss == "_last" else c.asc_nulls_first())
        else:
            order.append(c.desc_nulls_last() if miss == "_last" else c.desc_nulls_first())
    order += [F.col(c).asc() for c in key_cols]
    return (
        full.orderBy(*order)
        .limit(size)
        .select(*key_cols, *[s["field"] for s in sorts if s["field"] not in key_cols])
    )


def msearch(
    docs: DataFrame,
    queries: list[dict],
    key_cols: list[str],
    k: int = 10,
) -> DataFrame:
    """_msearch (multi search API, RestMultiSearchAction): each sub-search
    runs independently over the same snapshot; rows carry the 0-based
    request index (ES returns one response object per request — flattened
    here to a tagged union). The per-request plans share one scan when
    Catalyst can reuse the exchange; there is no cross-request state."""
    if not queries:
        raise ValueError("msearch needs at least one query")
    outs = [
        Q.search(docs, qd, key_cols, k=k).select(
            F.lit(i).alias("req"), *key_cols, "score"
        )
        for i, qd in enumerate(queries)
    ]
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out
