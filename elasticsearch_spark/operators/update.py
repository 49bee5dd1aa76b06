"""Updates with before/after `_source` images — the fork's signature feature.

Reference semantics (cited into /root/reference):
  * `req_old_source` / `req_new_source` params: value true/false or a comma
    field list (list implies includes); includes/excludes projection —
    search/fetch/subphase/FetchSourceContext.java:124-186.
  * `_update` captures the pre-image from the same getForUpdate used to run
    the update and embeds old+new GetResults in the response —
    UpdateHelper.java:77-100, TransportUpdateAction.java:177-234,
    UpdateResponse.java:38-42,97-110.
  * `_update_by_query` accumulates per-doc old/new sources up to
    `max_docs_return` (default 10, UpdateByQueryRequest.java:52) —
    AbstractAsyncBulkByScrollAction.java:416-475.
  * Scripted updates mutate ctx._source fields (UpdateHelper.java:126-145);
    our analog is SQL SET expressions over the doc columns.

Spark shape (SURVEY.md §2.11): MERGE INTO semantics against the segment
store — matched rows become positional deletes (Lucene liveDocs analog) plus
a fresh segment holding the updated rows; unmatched update rows are inserted
(doc_as_upsert). Pre/post images are snapshot time-travel reads (`VERSION AS
OF` the snapshots bracketing the commit). Single-writer, so no version
conflicts (the reference's retry_on_conflict loop is unnecessary).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.segment_store import SegmentStore, read_spark
from .index_build import DOC_COLS, build_segment
from .topk import read_segment_docs

KEYS = ["conv_id", "turn_idx"]
UPDATABLE = [c for c in DOC_COLS if c not in KEYS]
MAX_DOCS_RETURN = 10  # UpdateByQueryRequest.java:52


def project_source(df: DataFrame, spec) -> DataFrame:
    """FetchSourceContext projection: spec is True, False, or field list
    (list implies includes); keys always kept (they are the _id analog)."""
    if spec is True or spec is None:
        return df
    if spec is False:
        return df.select(*KEYS)
    fields = [spec] if isinstance(spec, str) else list(spec)
    keep = [c for c in df.columns if c in KEYS or c in fields]
    return df.select(*keep)


@dataclass
class UpdateResult:
    """The fork's UpdateResponse analog (UpdateResponse.java:38-42)."""

    before_snapshot: int
    after_snapshot: int
    n_updated: int
    n_inserted: int
    old_source: DataFrame | None  # req_old_source (capped)
    new_source: DataFrame | None  # req_new_source (capped)


def apply_updates(
    spark: SparkSession,
    store: SegmentStore,
    updates: DataFrame,
    partitions: int | None = None,
    req_old_source=False,
    req_new_source=False,
    max_docs_return: int = MAX_DOCS_RETURN,
) -> UpdateResult:
    """MERGE INTO the store: partial-doc update by (conv_id, turn_idx).

    `updates` columns: the key plus any of role/text/tool/ts; a null (or
    absent) column keeps the old value (ES partial doc merge,
    UpdateHelper.java:106-125). Unmatched keys are inserted as new docs
    (doc_as_upsert) when all doc columns are present.
    """
    before = store.current_snapshot_id()
    snap = store.snapshot()
    if snap is None:
        raise ValueError("empty store")

    for c in DOC_COLS:
        if c not in updates.columns:
            updates = updates.withColumn(c, F.lit(None))
    updates = updates.select(*DOC_COLS)

    docs = read_segment_docs(spark, store, snap)
    if snap.delete_files:
        dels = read_spark(spark, *snap.delete_files)
        docs = docs.join(dels, ["segment", "ordinal"], "left_anti")

    u = updates.alias("u")
    d = docs.alias("d")
    joined = d.join(u, KEYS, "inner")
    matched = joined.select(
        "d.segment",
        "d.ordinal",
        *KEYS,
        *[F.coalesce(f"u.{c}", f"d.{c}").alias(c) for c in UPDATABLE],
    ).persist()
    n_updated = matched.count()

    inserts = u.join(d.select(*KEYS), KEYS, "left_anti").select(*DOC_COLS).persist()
    n_inserted = inserts.count()

    if n_updated == 0 and n_inserted == 0:
        matched.unpersist()
        inserts.unpersist()
        return UpdateResult(before, before, 0, 0, None, None)

    # positional delete file for the replaced rows (Lucene liveDocs analog)
    del_path = None
    if n_updated:
        del_path = store.new_delete_file()
        matched.select("segment", "ordinal").write.mode("overwrite").parquet(del_path)

    new_rows = matched.select(*DOC_COLS).unionByName(inserts)
    meta = build_segment(spark, store, new_rows, f"update@{before}", partitions)
    new_snap = store.commit(
        snap.segments + [meta],
        "update",
        delete_files=snap.delete_files + ([del_path] if del_path else []),
        summary={"updated": n_updated, "inserted": n_inserted},
    )

    old_src = new_src = None
    keys = updates.select(*KEYS)
    if req_old_source:
        old_all = read_snapshot_table(spark, store, before).join(keys, KEYS, "left_semi")
        old_src = project_source(old_all, req_old_source).orderBy(*KEYS).limit(max_docs_return)
    if req_new_source:
        new_all = read_snapshot_table(spark, store, new_snap.snapshot_id).join(
            keys, KEYS, "left_semi"
        )
        new_src = project_source(new_all, req_new_source).orderBy(*KEYS).limit(max_docs_return)

    matched.unpersist()
    inserts.unpersist()
    return UpdateResult(
        before_snapshot=before,
        after_snapshot=new_snap.snapshot_id,
        n_updated=n_updated,
        n_inserted=n_inserted,
        old_source=old_src,
        new_source=new_src,
    )


def read_snapshot_table(
    spark: SparkSession, store: SegmentStore, snapshot_id: int | None = None
) -> DataFrame:
    """Time-travel read (`VERSION AS OF` analog): live docs at a snapshot."""
    snap = store.snapshot(snapshot_id)
    if snap is None:
        raise ValueError("no such snapshot")
    docs = read_segment_docs(spark, store, snap)
    if snap.delete_files:
        dels = read_spark(spark, *snap.delete_files)
        docs = docs.join(dels, ["segment", "ordinal"], "left_anti")
    return docs.select(*DOC_COLS)


def update_by_query(
    spark: SparkSession,
    store: SegmentStore,
    predicate: str,
    set_exprs: dict[str, str] | None = None,
    partitions: int | None = None,
    req_old_source=False,
    req_new_source=False,
    max_docs_return: int = MAX_DOCS_RETURN,
    script=None,
) -> UpdateResult:
    """_update_by_query: SQL predicate selects docs; new rows come from SET
    expressions (e.g. {"tool": "upper(tool)"}) or from a Painless update
    script (`script={"source": "ctx._source.tool = ...", ...}`) compiled to
    the same SET form (UpdateHelper.java:126-145 executeScript; ctx._source
    assignments, if/else, ctx.op='noop' — functions/painless.compile_update).
    """
    if (set_exprs is None) == (script is None):
        raise ValueError("update_by_query needs exactly one of set_exprs/script")
    noop_cond = None
    if script is not None:
        from ..functions.painless import update_script_sql

        set_exprs, noop_cond = update_script_sql(script)
        for c in set_exprs:
            if c not in UPDATABLE:
                raise ValueError(f"update script assigns non-updatable field {c!r}")
    current = read_snapshot_table(spark, store)
    sel = current.where(predicate)
    if noop_cond is not None:
        # ctx.op='noop' docs are left untouched (no delete+rewrite, no image)
        sel = sel.where(f"NOT coalesce(({noop_cond}), FALSE)")
    upd = sel.select(
        *KEYS,
        *[F.expr(set_exprs[c]).alias(c) if c in set_exprs else F.col(c) for c in UPDATABLE],
    )
    return apply_updates(
        spark,
        store,
        upd,
        partitions,
        req_old_source=req_old_source,
        req_new_source=req_new_source,
        max_docs_return=max_docs_return,
    )


def delete_by_query(
    spark: SparkSession, store: SegmentStore, predicate: str
) -> tuple[int, int]:
    """_delete_by_query: positional-delete every matching live doc.
    Returns (n_deleted, new_snapshot_id)."""
    snap = store.snapshot()
    if snap is None:
        raise ValueError("empty store")
    docs = read_segment_docs(spark, store, snap)
    if snap.delete_files:
        dels = read_spark(spark, *snap.delete_files)
        docs = docs.join(dels, ["segment", "ordinal"], "left_anti")
    hit = docs.where(predicate).select("segment", "ordinal").persist()
    n = hit.count()
    if not n:
        hit.unpersist()
        return 0, snap.snapshot_id
    path = store.new_delete_file()
    hit.write.mode("overwrite").parquet(path)
    hit.unpersist()
    new_snap = store.commit(
        snap.segments,
        "delete",
        delete_files=snap.delete_files + [path],
        summary={"deleted": n},
    )
    return n, new_snap.snapshot_id
