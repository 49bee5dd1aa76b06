"""Streaming ingest: Structured Streaming micro-batches -> index segments.

Reference analog: ES is batch-ingest with near-real-time visibility — docs
become searchable at the next refresh (default 1s, index/IndexSettings.java:187)
when an in-memory buffer is flushed into a new immutable segment; durability
rides the translog checkpoint (translog/Checkpoint.java:43-106).

Spark mapping: `readStream` over an arriving-files source; every micro-batch
is flushed through the SAME segment build as batch indexing and
committed as a snapshot — "refresh" == micro-batch boundary. Exactly-once
across restarts comes from two layers, mirroring translog + Lucene commit:
  * Structured Streaming's checkpoint replays an interrupted batch;
  * the segment-store commit is idempotent per slice_id (a replayed batch id
    that already committed is skipped), so replays cannot double-index.
`Trigger.AvailableNow` drains a backlog then stops (batch catch-up);
`processingTime="1 second"` reproduces the reference's refresh cadence.
The LSM compaction job (operators/merge.py) then folds the many small
streamed segments into larger tiers, exactly like ES's background merges.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..operators import index_build
from ..sources.segment_store import SegmentStore
from ..sources.transcripts import TRANSCRIPTS_SCHEMA


def stream_ingest(
    spark: SparkSession,
    source_dir: str,
    store_root: str,
    checkpoint_dir: str,
    available_now: bool = True,
    processing_time: str = "1 second",
    partitions: int | None = None,
):
    """Index transcripts parquet files as they arrive in `source_dir`.

    Returns the StreamingQuery; call .awaitTermination() (AvailableNow stops
    by itself after draining the backlog).
    """
    store = SegmentStore(store_root)
    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(source_dir)
    )

    def flush(batch_df, batch_id: int):
        slice_id = f"stream_batch_{batch_id:08d}"
        if slice_id in store.completed_slices():
            return  # replayed batch after restart: already committed
        if batch_df.isEmpty():
            return
        meta = index_build.build_segment(spark, store, batch_df, slice_id, partitions)
        snap = store.snapshot()
        live = (snap.segments if snap else []) + [meta]
        store.commit(
            live,
            "append",
            delete_files=snap.delete_files if snap else [],
            summary={"slice": slice_id, "streaming": True},
        )

    writer = stream.writeStream.foreachBatch(flush).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
