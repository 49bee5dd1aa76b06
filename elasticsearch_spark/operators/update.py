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
conflicts (the reference's retry_on_conflict loop is unnecessary). A key may
appear at most once per batch: a DataFrame has no "last" row to keep.

Two paths, chosen by batch size. A batch of at most LOCAL_UPDATE_MAX_ROWS
rows is collected to the driver and applied there, like the reference's
realtime get by `_id` plus a small refreshed segment: the matched rows are
point reads of the key-sorted docs tables, the delete file and the new
segment are written with pyarrow (`write_local`, `build_segment_local`), and
the images are driver-local frames, so the whole update runs at most the one
job that collects the batch. A larger batch, too big to hold on the driver,
runs as Spark joins and `build_segment`; it first pays for the collect that
found it too big. Its new segment is over the build's own driver cap
(LOCAL_BUILD_MAX_ROWS, which is below this one), so `build_segment` pays a
second limited collect and then encodes in Spark tasks.
LOCAL_UPDATE_MAX_ROWS is the build's MAX_LOCAL_ROWS, the most rows one Python
process encodes at once.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..sources.segment_store import (
    SegmentStore,
    Snapshot,
    footer_schema,
    read_point,
    read_spark,
    write_local,
)
from .index_build import DOC_COLS, build_segment, build_segment_local
from .index_build import MAX_LOCAL_ROWS as LOCAL_UPDATE_MAX_ROWS
from .topk import read_segment_docs

KEYS = ["conv_id", "turn_idx"]
UPDATABLE = [c for c in DOC_COLS if c not in KEYS]
MAX_DOCS_RETURN = 10  # UpdateByQueryRequest.java:52
# footer schema of a Spark-written delete file (segment is a literal)
DELETES_SCHEMA = T.StructType(
    [
        T.StructField("segment", T.StringType(), nullable=False),
        T.StructField("ordinal", T.LongType()),
    ]
)


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
    (doc_as_upsert) when all doc columns are present. A key given twice
    raises ValueError.
    """
    before = store.current_snapshot_id()
    snap = store.snapshot()
    if snap is None:
        raise ValueError("empty store")

    for c in DOC_COLS:
        if c not in updates.columns:
            updates = updates.withColumn(c, F.lit(None))
    updates = updates.select(*DOC_COLS)

    schema = _doc_cols_schema(store, snap)
    # timestamps travel as UTC microseconds: collect() would turn them into
    # naive local datetimes, which lose the hour a DST fall-back repeats
    head = (
        updates.select(
            *[
                F.unix_micros(F.col(f.name).cast(f.dataType)).alias(f.name)
                if isinstance(f.dataType, T.TimestampType)
                else F.col(f.name).cast(f.dataType)
                for f in schema
            ]
        )
        .limit(LOCAL_UPDATE_MAX_ROWS + 1)
        .collect()
    )
    if len(head) <= LOCAL_UPDATE_MAX_ROWS:
        return _apply_local(
            spark, store, snap, schema, _arrow_rows(head, schema),
            req_old_source, req_new_source, max_docs_return,
        )
    dup = updates.groupBy(*KEYS).count().where("count > 1").limit(1).collect()
    if dup:
        _raise_duplicate(dup[0].conv_id, dup[0].turn_idx)

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


def _raise_duplicate(conv_id, turn_idx) -> None:
    raise ValueError(f"update batch holds key ({conv_id!r}, {turn_idx}) more than once")


def _doc_cols_schema(store: SegmentStore, snap: Snapshot, *extra: str) -> T.StructType:
    """Spark schema of `extra` columns and DOC_COLS as the store's docs
    tables hold them, every field nullable."""
    s = footer_schema(store.docs_path(snap.segments[0].segment_id))
    return T.StructType([s[c] for c in [*extra, *DOC_COLS]])


def _arrow_rows(rows: list, schema: T.StructType) -> pa.Table:
    """Collected rows of `schema` as an Arrow table; timestamp columns were
    collected as UTC microseconds."""
    arrow = to_arrow_schema(schema)
    cols = [
        pa.array([r[i] for r in rows], pa.int64() if pa.types.is_timestamp(af.type) else af.type)
        for i, af in enumerate(arrow)
    ]
    return pa.Table.from_arrays([c.cast(af.type) for c, af in zip(cols, arrow)], schema=arrow)


def _live_rows(store: SegmentStore, snap: Snapshot, keys: pa.Table) -> pa.Table:
    """The live docs rows of `snap` whose key is in `keys` (a conv_id,
    turn_idx table), with their segment and ordinal. Each segment's docs are
    point-read on the driver (`conv_id in ...` prunes row groups: the docs
    files are key-sorted) and joined on the exact keys; rows named in the
    snapshot's delete files are dropped. No Spark job."""
    arrow = to_arrow_schema(_doc_cols_schema(store, snap, "ordinal"))
    keys = keys.cast(pa.schema([arrow.field(c) for c in KEYS]))
    conv_ids = pc.unique(keys["conv_id"]).to_pylist()
    parts = []
    for seg in snap.segments:
        t = read_point(store.docs_path(seg.segment_id), arrow.names, [[("conv_id", "in", conv_ids)]])
        t = t.cast(arrow).join(keys, KEYS, join_type="inner")
        parts.append(t.add_column(0, "segment", pa.array([seg.segment_id] * t.num_rows, pa.string())))
    live = pa.concat_tables(parts)
    if snap.delete_files:
        ids = [s.segment_id for s in snap.segments]
        dels = to_arrow_schema(DELETES_SCHEMA)
        gone = pa.concat_tables(
            read_point(f, dels.names, [[("segment", "in", ids)]]).cast(dels)
            for f in snap.delete_files
        )
        live = live.join(gone, ["segment", "ordinal"], join_type="left anti")
    return live


def _apply_local(
    spark: SparkSession,
    store: SegmentStore,
    snap: Snapshot,
    schema: T.StructType,
    u: pa.Table,
    req_old_source,
    req_new_source,
    max_docs_return: int,
) -> UpdateResult:
    """`apply_updates` for a batch of at most LOCAL_UPDATE_MAX_ROWS rows
    (`u`, the batch as Arrow with the docs' DOC_COLS `schema`), applied on
    the driver with pyarrow: no Spark job."""
    before = snap.snapshot_id
    keys = u.select(KEYS)
    counts = keys.group_by(KEYS).aggregate([([], "count_all")])
    if counts.num_rows < u.num_rows:
        dup = counts.filter(pc.greater(counts["count_all"], 1)).slice(0, 1).to_pylist()[0]
        _raise_duplicate(dup["conv_id"], dup["turn_idx"])

    live = _live_rows(store, snap, keys)
    d = live.rename_columns([f"d_{c}" if c in UPDATABLE else c for c in live.column_names])
    m = u.join(d, KEYS, join_type="inner")
    matched = pa.table(
        {
            "segment": m["segment"],
            "ordinal": m["ordinal"],
            **{c: m[c] for c in KEYS},
            **{c: pc.coalesce(m[c], m[f"d_{c}"]) for c in UPDATABLE},
        }
    )
    inserts = u.join(live.select(KEYS), KEYS, join_type="left anti")
    n_updated, n_inserted = matched.num_rows, inserts.num_rows
    if n_updated == 0 and n_inserted == 0:
        return UpdateResult(before, before, 0, 0, None, None)

    del_path = None
    if n_updated:
        del_path = store.new_delete_file()
        write_local(del_path, matched, DELETES_SCHEMA)
    new_rows = pa.concat_tables([matched.select(DOC_COLS), inserts.select(DOC_COLS)])
    meta = build_segment_local(store, new_rows, f"update@{before}")
    new_snap = store.commit(
        snap.segments + [meta],
        "update",
        delete_files=snap.delete_files + ([del_path] if del_path else []),
        summary={"updated": n_updated, "inserted": n_inserted},
    )

    def image(at: Snapshot, spec) -> DataFrame:
        # sorted and capped here: a Spark sort would run a job, while a
        # projection over a local relation runs none
        rows = _live_rows(store, at, keys).select(DOC_COLS).sort_by([(c, "ascending") for c in KEYS])
        return project_source(spark.createDataFrame(rows.slice(0, max_docs_return), schema), spec)

    return UpdateResult(
        before_snapshot=before,
        after_snapshot=new_snap.snapshot_id,
        n_updated=n_updated,
        n_inserted=n_inserted,
        old_source=image(snap, req_old_source) if req_old_source else None,
        new_source=image(new_snap, req_new_source) if req_new_source else None,
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
