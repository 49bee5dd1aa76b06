"""LSM segment merge / tiered compaction.

Reference semantics: ES compacts Lucene segments with a tiered merge policy —
floor size 2MB, at most 10 segments per tier, max merged segment 5GB, deletes
purged during merge (index/MergePolicyConfig.java:123-130,
EsTieredMergePolicy.java:35-51); background scheduling in
ElasticsearchConcurrentMergeScheduler.java. Snapshot isolation: readers on an
old snapshot keep seeing the pre-merge segments (soft deletes / point-in-time
readers, InternalEngine.java:180,238).

Spark-first design: a merge REBUILDS the union of the input segments' live
docs through the same build as indexing (`build_segment`: live docs of at
most LOCAL_BUILD_MAX_ROWS rows are collected and encoded on the driver, more
are encoded by Spark tasks, one key range each). Unlike Lucene we hold the
original `_source` rows in columnar form, so re-analysis is a narrow scan
plus the build's encode, and buys two invariants that a postings-remap merge
cannot give:
  * merged segment == fresh build of the same docs, bit-for-bit (property
    tested), because there is exactly one build path;
  * ordinals stay globally (conv_id, turn_idx)-ordered, which keeps BM25
    score-tie ranking identical to the reference's docID tie-break
    (SearchPhaseController.java:221-243) after any number of merges.
Positional deletes for merged segments are applied (rows dropped) and their
ids retired; the commit publishes a new snapshot, old snapshots remain
readable (Iceberg-style time travel).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..sources.segment_store import SegmentMeta, SegmentStore, read_point, read_spark
from .index_build import DOC_COLS, build_segment

FLOOR_BYTES = 2 * 1024 * 1024  # MergePolicyConfig.java:123 floor_segment 2mb
MAX_MERGE_AT_ONCE = 10  # max_merge_at_once default 10
MAX_MERGED_BYTES = 5 * 1024**3  # max_merged_segment 5gb


def merge_segments(
    spark: SparkSession,
    store: SegmentStore,
    segment_ids: list[str],
    partitions: int | None = None,
    commit: bool = True,
):
    """Merge the given segments into one; returns (new SegmentMeta, snapshot).

    Reads each input segment's docs, drops rows hit by positional deletes
    (Lucene liveDocs purge during merge), rebuilds, and commits a snapshot
    where the inputs are replaced by the merged segment.
    """
    snap = store.snapshot()
    if snap is None:
        raise ValueError("empty store")
    by_id = {s.segment_id: s for s in snap.segments}
    missing = [sid for sid in segment_ids if sid not in by_id]
    if missing:
        raise ValueError(f"segments not live: {missing}")

    docs = None
    for sid in segment_ids:
        d = read_spark(spark, store.docs_path(sid)).withColumn("segment", F.lit(sid))
        docs = d if docs is None else docs.unionByName(d)
    if snap.delete_files:
        dels = read_spark(spark, *snap.delete_files)
        docs = docs.join(dels, ["segment", "ordinal"], "left_anti")
    live = docs.select(*DOC_COLS)

    lineage = "+".join(sorted(by_id[sid].slice_id for sid in segment_ids))
    meta = build_segment(spark, store, live, f"merge({lineage})", partitions)
    meta.metrics["merged_from"] = sorted(segment_ids)
    # carry constituent slice ids so completed_slices() keeps recognizing the
    # original build slices / streaming batch ids after compaction
    src: set[str] = set()
    for sid in segment_ids:
        src |= by_id[sid].effective_slices
    meta.source_slices = sorted(src)

    if not commit:
        return meta, None
    new_live = [s for s in snap.segments if s.segment_id not in set(segment_ids)] + [meta]
    # positional-delete hygiene: the merged segment purged its inputs'
    # deletes, so a delete file whose rows all target merged-away segments is
    # dead weight — at scale they'd accumulate forever. Keep only files still
    # referencing a live segment: each file's `segment` column is read on the
    # driver with the live ids pushed down, no Spark job.
    live_ids = sorted(s.segment_id for s in new_live)
    kept_dels = [
        f for f in snap.delete_files
        if read_point(f, ["segment"], [[("segment", "in", live_ids)]]).num_rows
    ]
    new_snap = store.commit(
        new_live,
        "merge",
        delete_files=kept_dels,
        summary={"merged": sorted(segment_ids), "into": meta.segment_id},
    )
    return meta, new_snap


def pick_merges(segments: list[SegmentMeta]) -> list[list[str]]:
    """Tiered merge selection (EsTieredMergePolicy.java:35-51 semantics).

    Segments below the 2MB floor all count as one tier; above it, a tier is a
    ~10x size band. Any tier holding >= MAX_MERGE_AT_ONCE segments yields one
    merge of its smallest MAX_MERGE_AT_ONCE members, capped so the merged
    output stays under MAX_MERGED_BYTES.
    """
    import math

    tiers: dict[int, list[SegmentMeta]] = {}
    for s in segments:
        size = max(s.tier_bytes, 1)
        tier = 0 if size < FLOOR_BYTES else int(math.log10(size / FLOOR_BYTES)) + 1
        tiers.setdefault(tier, []).append(s)
    out: list[list[str]] = []
    for _, members in sorted(tiers.items()):
        if len(members) < 2:
            continue
        members = sorted(members, key=lambda s: s.tier_bytes)
        if len(members) >= MAX_MERGE_AT_ONCE or sum(m.tier_bytes for m in members) < MAX_MERGED_BYTES:
            batch, total = [], 0
            for m in members[:MAX_MERGE_AT_ONCE]:
                if batch and total + m.tier_bytes > MAX_MERGED_BYTES:
                    break
                batch.append(m.segment_id)
                total += m.tier_bytes
            if len(batch) >= 2:
                out.append(batch)
    return out


def compact(
    spark: SparkSession,
    store: SegmentStore,
    partitions: int | None = None,
    max_rounds: int = 10,
) -> int:
    """Run tiered compaction to a fixpoint; returns number of merges done."""
    done = 0
    for _ in range(max_rounds):
        snap = store.snapshot()
        if snap is None:
            return done
        merges = pick_merges(snap.segments)
        if not merges:
            return done
        for batch in merges:
            merge_segments(spark, store, batch, partitions)
            done += 1
    return done
