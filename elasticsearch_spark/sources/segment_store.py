"""SegmentStore — an Iceberg-style snapshot/manifest table format on parquet.

Plays the role of ES's translog-checkpoint + Lucene segment files
(index/translog/Checkpoint.java:43-106; segments created by refresh at
InternalEngine.java:889-968) AND of Iceberg snapshots for time-travel:

  <root>/
    CURRENT                      -> current snapshot id (atomic rename write)
    snapshots/v{n}.json          -> manifest: live segments + delete files +
                                    per-segment lineage/metrics (resumability)
    seg_<id>/docs.parquet        -> ordinal, conv_id, turn_idx, role, text,
                                    tool, ts, dl, norm  (sorted by ordinal)
    seg_<id>/postings.parquet    -> field, term, bk, n, max_tf, min_dlq,
                                    encoded docs/tfs/norms/positions per block
    seg_<id>/term_stats.parquet  -> field, term, df  (sorted by field, term)
    seg_<id>/dv_stats.parquet    -> col, val, bk     (sorted by col, val)
    deletes/<id>.parquet         -> (segment string, ordinal long) positional
                                    deletes (Lucene liveDocs analog)

Every table is a parquet directory in Spark's layout (`part-*.parquet`
data files plus a `_SUCCESS` marker, the Spark schema in each footer). One
pyarrow writer, `write_local`, produces the segment tables: each Spark task
of a large build writes its own part file of the docs and postings, and the
driver writes the term dictionary, the dv block index, every table of a small
segment, and the delete file of a small update batch. Spark's DataFrame writer writes only the
delete files of Spark-side updates and deletes. Reads come in two kinds (see
the bottom of this module): the tables a query scans in bulk (docs,
postings, delete files) are Spark DataFrames whose schema comes from the
parquet footer, and the small sorted tables a query only seeks into (term
dictionary, dv block index, a few docs rows by ordinal or key) are read on
the driver with pyarrow, pruned by row-group min/max statistics.

Commit protocol (mirrors Iceberg): write all data files, write the new
snapshot json, then atomically swap CURRENT via os.rename. A killed build
leaves CURRENT at the previous snapshot => resumable, never corrupt.

On a real deployment this module is swapped for Iceberg catalog calls
(writeTo(...).append() / MERGE INTO / VERSION AS OF); the sandbox has no
Iceberg runtime jars, so the same semantics are implemented on plain parquet.
Everything above this layer (indexer, queries, updates) is storage-agnostic.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field
from typing import Any

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructField, StructType


@dataclass
class SegmentMeta:
    segment_id: str
    n_docs: int
    slice_id: str  # lineage: which input slice produced this segment
    tier_bytes: int = 0  # on-disk size, drives LSM tier selection
    metrics: dict[str, Any] = field(default_factory=dict)
    # constituent input slices carried through merges: a merged segment keeps
    # every original slice_id so completed_slices() (idempotent-replay guard
    # for streaming/resume) still recognizes them after compaction rewrites
    # slice_id to "merge(...)".
    source_slices: list[str] = field(default_factory=list)
    # per-indexed-field token-count sums (BM25 avgdl numerators)
    field_sum_dl: dict[str, int] = field(default_factory=dict)

    @property
    def effective_slices(self) -> set[str]:
        out = set(self.source_slices)
        if self.slice_id and not self.slice_id.startswith("merge("):
            out.add(self.slice_id)
        return out

    def to_json(self) -> dict:
        return self.__dict__.copy()

    @staticmethod
    def from_json(d: dict) -> "SegmentMeta":
        return SegmentMeta(**d)


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    operation: str  # "append" | "merge" | "update" | "delete"
    segments: list[SegmentMeta]
    delete_files: list[str]
    committed_at: float
    summary: dict[str, Any] = field(default_factory=dict)

    @property
    def n_docs(self) -> int:
        return sum(s.n_docs for s in self.segments)

    def field_sum_dl(self, field_name: str) -> int:
        """Per-field sum of token counts."""
        return sum(s.field_sum_dl[field_name] for s in self.segments)


class SegmentStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(os.path.join(root, "snapshots"), exist_ok=True)
        os.makedirs(os.path.join(root, "deletes"), exist_ok=True)

    # ------------------------------------------------------------ snapshots
    def current_snapshot_id(self) -> int | None:
        p = os.path.join(self.root, "CURRENT")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return int(f.read().strip())

    def snapshot(self, snapshot_id: int | None = None) -> Snapshot | None:
        """Read a snapshot (time-travel: pass an older id == VERSION AS OF)."""
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot_id()
        if sid is None:
            return None
        with open(os.path.join(self.root, "snapshots", f"v{sid}.json")) as f:
            d = json.load(f)
        return Snapshot(
            snapshot_id=d["snapshot_id"],
            parent_id=d["parent_id"],
            operation=d["operation"],
            segments=[SegmentMeta.from_json(s) for s in d["segments"]],
            delete_files=d["delete_files"],
            committed_at=d["committed_at"],
            summary=d.get("summary", {}),
        )

    def history(self) -> list[int]:
        out = []
        for name in os.listdir(os.path.join(self.root, "snapshots")):
            if name.startswith("v") and name.endswith(".json"):
                out.append(int(name[1:-5]))
        return sorted(out)

    def commit(
        self,
        segments: list[SegmentMeta],
        operation: str,
        delete_files: list[str] | None = None,
        summary: dict | None = None,
    ) -> Snapshot:
        """Atomically publish a new snapshot with the given live set."""
        parent = self.current_snapshot_id()
        sid = (parent or 0) + 1
        snap = {
            "snapshot_id": sid,
            "parent_id": parent,
            "operation": operation,
            "segments": [s.to_json() for s in segments],
            "delete_files": delete_files or [],
            "committed_at": time.time(),
            "summary": summary or {},
        }
        spath = os.path.join(self.root, "snapshots", f"v{sid}.json")
        with open(spath, "w") as f:
            json.dump(snap, f, indent=1)
        tmp = os.path.join(self.root, f".CURRENT.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            f.write(str(sid))
        os.rename(tmp, os.path.join(self.root, "CURRENT"))  # atomic swap
        return self.snapshot(sid)

    # ------------------------------------------------------------ file paths
    def new_segment_id(self) -> str:
        return f"seg_{uuid.uuid4().hex[:12]}"

    def segment_dir(self, segment_id: str) -> str:
        return os.path.join(self.root, segment_id)

    def docs_path(self, segment_id: str) -> str:
        return os.path.join(self.root, segment_id, "docs.parquet")

    def postings_path(self, segment_id: str) -> str:
        return os.path.join(self.root, segment_id, "postings.parquet")

    def term_stats_path(self, segment_id: str) -> str:
        """Per-segment term dictionary (field, term, df) — the Lucene
        terms-dict metadata analog; makes the query stats phase a pruned
        point read."""
        return os.path.join(self.root, segment_id, "term_stats.parquet")

    def dv_stats_path(self, segment_id: str) -> str:
        """Per-segment numeric doc-value block index (col, val, bk) sorted by
        (col, val) — the Lucene BKD-points analog (ES answers numeric ranges
        from points, index/mapper/NumberFieldMapper.java): a range query reads
        this tiny value-sorted table with the range pushed down and gets the
        candidate ordinal blocks, instead of scanning the docs tables."""
        return os.path.join(self.root, segment_id, "dv_stats.parquet")

    def new_delete_file(self) -> str:
        return os.path.join(self.root, "deletes", f"del_{uuid.uuid4().hex[:12]}.parquet")

    # ------------------------------------------------------------ retention
    def expire_snapshots(self, keep_last: int = 1) -> list[str]:
        """Iceberg expire_snapshots analog: drop all but the newest
        `keep_last` snapshots and DELETE segment dirs / delete files no
        longer referenced by any retained snapshot. Returns removed paths."""
        import shutil

        ids = self.history()
        if len(ids) <= keep_last:
            return []
        keep_ids = set(ids[-keep_last:])
        keep_segs: set[str] = set()
        keep_dels: set[str] = set()
        for sid in keep_ids:
            snap = self.snapshot(sid)
            keep_segs.update(s.segment_id for s in snap.segments)
            keep_dels.update(snap.delete_files)
        removed: list[str] = []
        for sid in ids:
            if sid in keep_ids:
                continue
            snap = self.snapshot(sid)
            for s in snap.segments:
                if s.segment_id not in keep_segs:
                    d = self.segment_dir(s.segment_id)
                    if os.path.isdir(d):
                        shutil.rmtree(d, ignore_errors=True)
                        removed.append(d)
                        keep_segs.add(s.segment_id)  # don't re-remove
            for df in snap.delete_files:
                if df not in keep_dels and os.path.exists(df):
                    shutil.rmtree(df)
                    removed.append(df)
                    keep_dels.add(df)
            os.remove(os.path.join(self.root, "snapshots", f"v{sid}.json"))
        return removed

    # ------------------------------------------------------------ lineage
    def completed_slices(self) -> set[str]:
        """Slice ids already committed (resume support: skip finished slices).

        Unions each segment's constituent slices so a post-merge replay of an
        already-indexed micro-batch / build slice is still skipped (the
        exactly-once guard survives compaction)."""
        snap = self.snapshot()
        if snap is None:
            return set()
        out: set[str] = set()
        for s in snap.segments:
            out |= s.effective_slices
            if s.slice_id:
                out.add(s.slice_id)
        return out

    def dir_size(self, segment_id: str) -> int:
        total = 0
        d = self.segment_dir(segment_id)
        for base, _, files in os.walk(d):
            total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
        return total


# ------------------------------------------------------------------ reading
# Key under which Spark stores the DataFrame schema (as StructType JSON) in
# the footer of every parquet file it writes.
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _data_files(path: str) -> list[str]:
    """Parquet files of a table directory, skipping the `_SUCCESS` marker and
    hidden `.crc` files (the same files Spark and pyarrow datasets read)."""
    if not os.path.isdir(path):
        return [path]
    return [
        os.path.join(path, f)
        for f in sorted(os.listdir(path))
        if not f.startswith(("_", "."))
    ]


def footer_schema(path: str) -> StructType | None:
    """The Spark schema of a table, read from the footer of its first data
    file: one small driver read instead of the schema-inference job that
    `spark.read.parquet` runs per call. Tables are immutable once committed,
    so the footer never goes stale. None when the table has no data file or
    was not written by Spark."""
    files = _data_files(path)
    if not files:
        return None
    meta = pq.read_metadata(files[0]).metadata or {}
    raw = meta.get(SPARK_SCHEMA_KEY)
    if raw is None:
        return None
    # every field nullable, as Spark reports a schema it infers from parquet
    st = StructType.fromJson(json.loads(raw))
    return StructType([StructField(f.name, f.dataType, True, f.metadata) for f in st.fields])


def read_spark(spark: SparkSession, *paths: str) -> DataFrame:
    """Spark DataFrame over one or more tables of the same schema (docs,
    postings, delete files), with the schema from the first table's footer."""
    schema = footer_schema(paths[0])
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(*paths)


def read_point(path: str, columns: list[str], filters: list) -> pa.Table:
    """Driver-side read of a few columns of a small or sorted table.

    `filters` is pyarrow's DNF form (a list of AND-lists of
    (column, op, value) tuples, OR-ed together); row groups whose min/max
    statistics exclude every conjunct are never decoded. This is the seek
    into the term dictionary, the dv block index, or the docs rows of a few
    ordinals: no Spark job, no task scheduling."""
    return pq.read_table(_data_files(path), columns=columns, filters=filters)


# pyarrow writer settings by column name. Near-unique terms and the
# postings' encoded blobs gain nothing from a dictionary page; min/max
# statistics pay only on the columns a reader prunes by, so the postings
# keep them on field, term and bk alone.
NO_DICTIONARY = frozenset({"term", "docs", "tfs", "norms", "poss"})
NO_STATISTICS = frozenset({"n", "max_tf", "min_dlq", "docs", "tfs", "norms", "poss"})


def write_local(path: str, table: pa.Table, spark_schema: StructType, part: int = 0) -> None:
    """Write `table` as data file `part-{part:05d}.parquet` of the table
    directory `path`, in the layout Spark's writer leaves: a `_SUCCESS`
    marker, and `spark_schema` stored under `SPARK_SCHEMA_KEY`.
    `footer_schema`, `read_spark`, `read_point` and merges read it like a
    Spark-written table. Columns are cast to the Arrow form of
    `spark_schema` (timestamps as UTC microseconds), so Spark reads back
    exactly the declared types. The file is written under a hidden temporary
    name and renamed into place, so readers never see half a file and a
    retried Spark task rewrites the same bytes."""
    from pyspark.sql.pandas.types import to_arrow_schema

    table = table.select(spark_schema.names).cast(to_arrow_schema(spark_schema))
    table = table.replace_schema_metadata({SPARK_SCHEMA_KEY: spark_schema.json().encode()})
    os.makedirs(path, exist_ok=True)
    name = f"part-{part:05d}.parquet"
    tmp = os.path.join(path, f".{name}.{uuid.uuid4().hex}")
    pq.write_table(
        table,
        tmp,
        use_dictionary=[c for c in table.column_names if c not in NO_DICTIONARY],
        write_statistics=[c for c in table.column_names if c not in NO_STATISTICS],
    )
    os.replace(tmp, os.path.join(path, name))
    open(os.path.join(path, "_SUCCESS"), "w").close()
