"""Inverted-index build: transcripts DataFrame -> segment tables.

Shape (SURVEY.md §3.2): a segment is built where its documents are, like
Lucene's per-thread segment writer and ES's per-shard indexing, and no token
occurrence crosses a shuffle. One encoder, `_build_part`, turns a key range
of rows into one docs and one postings part file: analyze -> (term, packed)
occurrence arrays -> columnar sort -> delta+varbyte blocks. The driver sums
the parts' term counts and dv rows into one sorted term dictionary and one dv
block index. `build_segment` runs the encoder in one of two places:
  * on the driver, once over the whole slice, when the slice has at most
    LOCAL_BUILD_MAX_ROWS rows, like ES writing a small segment at refresh
    inside the indexing process: one limited collect is the only Spark job;
  * in Spark tasks, one per key range of a range-partitioned larger slice.
`build_segment_local` is the driver path for rows already on the driver.

Scale design decisions:
  * Doc ordinals follow key order within a segment. Each part's first
    ordinal is a multiple of BLOCK_RANGE, computed from the per-partition
    row counts, so no postings block spans two parts; ordinals therefore
    have gaps between parts, and n_docs is the sum of the parts' rows. A
    driver-built segment has one part, so its ordinals are dense.
    Offsets derive from deterministic key ranges, never from
    monotonically_increasing_id (SURVEY §7).
  * Postings blocks are FIXED ORDINAL RANGES (BLOCK_RANGE ordinals), not
    fixed posting counts: a hot term ("the", df=every doc) is one postings
    row per block, and block-max metadata stays exact after any merge.
  * The driver path is chosen by time, not memory: below the cap the Spark
    path's fixed per-job cost exceeds the single-threaded encode it saves.
  * A task holds its key range in memory (the Lucene RAM-buffer-then-flush
    analog), so parts average at most MAX_LOCAL_ROWS rows; and each part
    starts a new block, so a slice gets no more parts than the blocks its
    rows fill (ceil(n / BLOCK_RANGE)), however much parallelism is asked.
  * A segment is the unit of resumability: one committed snapshot per input
    slice (ES translog-checkpoint analog, Checkpoint.java:43-106); a killed
    build resumes by skipping slice_ids already in the manifest.
  * `SegmentMeta.metrics` records the path ("build_path") and each stage's
    seconds ("stage_sec": the collect, the Spark path's partitioning, the
    encode and part writes, the dictionary and dv writes).

Per-block metadata for block-max WAND (TopDocsCollectorContext.java:212-296
enables the threshold; skipping machinery is Lucene impacts): max_tf and
min_dlq (the quantized length minimizing the BM25 norm) give an exact upper
bound for the block's best score at query time.
"""

from __future__ import annotations

import time
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema

from ..functions import analysis, codec, scoring
from ..sources.segment_store import SegmentMeta, SegmentStore, write_local

BLOCK_BITS = 12
BLOCK_RANGE = 1 << BLOCK_BITS  # ordinals per postings block

# The most rows one Python process encodes at once: a driver-side update
# batch, or one Spark task's key range. It bounds memory, not time: on a
# 4-core host the driver-side update path's peak grew ~11 KB a row (~0.5 GB
# at 50k rows) and was faster than the Spark path at every size up to 200k.
MAX_LOCAL_ROWS = 50_000

# The most rows `build_segment` builds on the driver instead of in Spark
# tasks. It bounds time, not memory: the driver encoder is single-threaded,
# so past some size the parallel tasks win. Measured on a 4-core host, one
# process, seed-7 `generate_transcripts` parquet, median of 3 warm builds,
# Spark path -> driver path (s): 5,000 rows 1.16 -> 0.48; 10,000 1.09 ->
# 0.61; 16,384 1.16 -> 1.06; 20,000 1.22 -> 1.29; 30,000 1.52 -> 2.03;
# 50,000 1.76 -> 3.04. The cap is the largest size measured where the
# driver path was not slower.
LOCAL_BUILD_MAX_ROWS = 4 * BLOCK_RANGE

KEYS = ["conv_id", "turn_idx"]

# The encoder sorts one int64 per token occurrence next to its term. Packing
# (fid, ordinal, pos, norm) into one long makes that sort a lexsort over two
# int arrays (term rank, packed), and run boundaries neighbour comparisons
# of ints.
#
# Bit layout (high -> low): fid:4 | ordinal:32 | pos:20 | norm:8.
#   * 4-bit field id: up to 8 posting fields (sign bit must stay clear).
#   * 32-bit ordinal: ordinals below 2^32 per SEGMENT; a 10^12-turn build
#     runs many slices (build_index n_slices), each its own segment.
#     Guarded in _encode_run.
#   * 20-bit position: up to 1M tokens per doc (Lucene caps positions at
#     2^31; transcript turns are far below both). Guarded in _encode_run.
#   * 8-bit norm: the byte4-quantized doc length (already 0..255).
# Sorting by (term, packed) yields (term, fid, bk, ordinal, pos) run order
# because bk = ordinal >> BLOCK_BITS is a prefix of the ordinal bits.
PACK_NORM_BITS = 8
PACK_POS_BITS = 20
PACK_ORD_BITS = 32
PACK_ORD_SHIFT = PACK_NORM_BITS + PACK_POS_BITS  # 28
PACK_FID_SHIFT = PACK_ORD_SHIFT + PACK_ORD_BITS  # 60
PACK_FIDBK_SHIFT = PACK_ORD_SHIFT + BLOCK_BITS  # 40

DOC_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]

# fields with full-text postings (DOCS_AND_FREQS_AND_POSITIONS). The reference
# indexes every mapped text field into the same per-segment inverted index
# (index/mapper/TextFieldMapper.java); here `text` is the body and `tool` the
# secondary match/multi_match-able field.
INDEXED_FIELDS = ["text", "tool"]

# numeric doc-value block index (Lucene BKD points analog,
# index/mapper/NumberFieldMapper.java — ES answers numeric ranges from the
# points tree, not doc values): per segment, distinct (col, val, bk) rows
# sorted by (col, val). A docs-only range query reads this with the range
# pushed into the parquet scan (value-sorted files => row-group pruning) and
# prunes the docs scan to the candidate ordinal blocks. `ts` prunes for free
# via ordinal-order correlation (docs files are ordinal == time sorted);
# `turn_idx` cycles per conversation, so without this every turn_idx range
# was a full O(corpus) docs scan. Size: O(distinct values per block) —
# ~n_docs * n_distinct / BLOCK_RANGE rows for cyclic low-cardinality columns.
NUMERIC_DV_COLS = ["turn_idx"]

# keyword subfields: UNTOKENIZED single-term postings over the raw value
# (index/mapper/KeywordFieldMapper.java — keyword fields index the exact
# value, norms disabled, so a term query is answered from the terms
# dictionary in O(df), TermQueryBuilder -> TermStates). One posting per doc,
# tf=1, no positions, no norms; dictionary df == exact-equality doc count by
# construction, so term/terms queries anchor the block-max kernel instead of
# scanning the docs tables. Numeric ranges (turn_idx, ts) stay on the docs
# tables = the doc-values path.
KEYWORD_FIELDS = ["role", "tool"]


def kw_field(f: str) -> str:
    """Postings field name of a keyword subfield (ES `<field>.keyword`)."""
    return f + ".kw"


# fid order in the packed occurrence key: analyzed fields first, then keyword
# subfields. 4-bit fid budget (PACK layout below) => at most 8 total.
POSTING_FIELDS = INDEXED_FIELDS + [kw_field(f) for f in KEYWORD_FIELDS]


def dl_col(f: str) -> str:
    return "dl" if f == "text" else f"dl_{f}"


def norm_col(f: str) -> str:
    return "norm" if f == "text" else f"norm_{f}"


_POSTINGS_ARROW = pa.schema(
    [
        ("field", pa.string()),
        ("term", pa.string()),
        ("bk", pa.int32()),
        ("n", pa.int32()),
        ("max_tf", pa.int32()),
        ("min_dlq", pa.int64()),
        ("docs", pa.binary()),
        ("tfs", pa.binary()),
        ("norms", pa.binary()),
        ("poss", pa.binary()),
    ]
)

POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("field", T.StringType()),
        T.StructField("term", T.StringType()),
        T.StructField("bk", T.IntegerType()),  # block key = ordinal // BLOCK_RANGE
        T.StructField("n", T.IntegerType()),  # postings in block
        T.StructField("max_tf", T.IntegerType()),
        T.StructField("min_dlq", T.LongType()),  # min quantized dl in block
        T.StructField("docs", T.BinaryType()),  # delta+varbyte ordinals
        T.StructField("tfs", T.BinaryType()),  # varbyte tfs
        T.StructField("norms", T.BinaryType()),  # byte4 norm per posting
        # token positions (DOCS_AND_FREQS_AND_POSITIONS, TextFieldMapper.java:341):
        # per posting, tf positions delta+varbyte encoded; postings concatenated
        # in block order — the tf stream gives the split offsets
        T.StructField("poss", T.BinaryType()),
    ]
)
TERM_STATS_SCHEMA = T.StructType(
    [
        T.StructField("field", T.StringType()),
        T.StructField("term", T.StringType()),
        T.StructField("df", T.LongType()),
    ]
)
DV_STATS_SCHEMA = T.StructType(
    [
        T.StructField("col", T.StringType(), nullable=False),
        T.StructField("val", T.LongType()),
        T.StructField("bk", T.IntegerType()),
    ]
)


def _encode_runs(term_of_run, codes: np.ndarray, packed: np.ndarray):
    """Vectorized encode of occurrence arrays sorted by (term code, packed).

    Input arrays are one element per TOKEN OCCURRENCE — tf is the count of
    adjacent duplicate ordinals. (fid, ordinal, pos, norm) unpack from the
    single int64 (see PACK_* layout above). Run boundaries come from
    neighbor comparison on two int arrays; term strings
    materialize only once per output block via `term_of_run(code)` — no
    per-occurrence Python objects anywhere.
    """
    if not len(packed):
        return None
    fidbk = packed >> PACK_FIDBK_SHIFT  # (fid, bk) combined — the run key
    n_rows = len(packed)
    new_run = np.empty(n_rows, dtype=bool)
    new_run[0] = True
    new_run[1:] = (codes[1:] != codes[:-1]) | (fidbk[1:] != fidbk[:-1])
    starts = np.flatnonzero(new_run)

    fields_arr = np.array(POSTING_FIELDS, dtype=object)
    bk = fidbk & ((1 << (PACK_ORD_BITS - BLOCK_BITS)) - 1)
    ords = (packed >> PACK_ORD_SHIFT) & ((1 << PACK_ORD_BITS) - 1)
    norms = (packed & 0xFF).astype(np.uint8)
    poss = (packed >> PACK_NORM_BITS) & ((1 << PACK_POS_BITS) - 1)
    decode_tbl = np.array([scoring.byte4_to_int(b) for b in range(256)], dtype=np.int64)

    # collapse duplicate (term, bk, ordinal) occurrences into postings with tf
    new_post = np.empty(n_rows, dtype=bool)
    new_post[0] = True
    new_post[1:] = (ords[1:] != ords[:-1]) | new_run[1:]
    post_starts = np.flatnonzero(new_post)
    n_posts = len(post_starts)
    tfs = np.empty(n_posts, dtype=np.int64)
    np.subtract(post_starts[1:], post_starts[:-1], out=tfs[:-1])
    tfs[-1] = n_rows - post_starts[-1]
    p_ords = ords[post_starts]
    p_norms = norms[post_starts]
    # group boundaries in posting index space (every run start is a posting start)
    g_starts = np.searchsorted(post_starts, starts)
    g_ends = np.append(g_starts[1:], n_posts)

    # per-run delta of ordinals (run heads keep their absolute ordinal)
    deltas = np.empty(n_posts, dtype=np.int64)
    deltas[0] = p_ords[0]
    np.subtract(p_ords[1:], p_ords[:-1], out=deltas[1:])
    deltas[g_starts] = p_ords[g_starts]
    docs_buf, docs_nb = codec.varbyte_encode_sized(deltas.astype(np.uint64))
    tfs_buf, tfs_nb = codec.varbyte_encode_sized(tfs.astype(np.uint64))
    # positions: delta within each posting (sorted by pos inside each
    # (term, bk, ordinal) run; posting heads keep their absolute position)
    pos_deltas = np.empty(n_rows, dtype=np.int64)
    pos_deltas[0] = poss[0]
    np.subtract(poss[1:], poss[:-1], out=pos_deltas[1:])
    pos_deltas[post_starts] = poss[post_starts]
    poss_buf, poss_nb = codec.varbyte_encode_sized(pos_deltas.astype(np.uint64))
    docs_off = np.concatenate([[0], np.cumsum(docs_nb)])
    tfs_off = np.concatenate([[0], np.cumsum(tfs_nb)])
    poss_off = np.concatenate([[0], np.cumsum(poss_nb)])
    docs_all, tfs_all = docs_buf.tobytes(), tfs_buf.tobytes()
    poss_all = poss_buf.tobytes()
    norms_all = p_norms.tobytes()
    # positions byte-range per block spans occurrence rows [starts, ends)
    ends_occ = np.append(starts[1:], n_rows)

    return pd.DataFrame(
        {
            "field": fields_arr[(packed[starts] >> PACK_FID_SHIFT).astype(np.int64)],
            "term": [term_of_run(c) for c in codes[starts]],
            "bk": bk[starts].astype(np.int32),
            "n": (g_ends - g_starts).astype(np.int32),
            "max_tf": np.maximum.reduceat(tfs, g_starts).astype(np.int32),
            "min_dlq": np.minimum.reduceat(decode_tbl[p_norms], g_starts),
            "docs": [docs_all[docs_off[s] : docs_off[e]] for s, e in zip(g_starts, g_ends)],
            "tfs": [tfs_all[tfs_off[s] : tfs_off[e]] for s, e in zip(g_starts, g_ends)],
            "norms": [norms_all[s:e] for s, e in zip(g_starts, g_ends)],
            "poss": [poss_all[poss_off[s] : poss_off[e]] for s, e in zip(starts, ends_occ)],
        }
    )


def _encode_postings(terms: pa.Array, packed: np.ndarray) -> pa.Table:
    """Occurrence arrays (term, packed) -> one postings row per
    (field, term, block), in (term, fid, bk) order so parquet row-group
    min/max stats prune term point-reads.

    Terms dictionary-encode to int codes (hash-based Arrow C++ kernel) and
    the sort is np.lexsort over two int arrays (packed within lex-rank of
    term): the big arrays never sort on strings."""
    denc = pc.dictionary_encode(terms)
    codes = denc.indices.to_numpy().astype(np.int64)
    vocab = np.asarray(denc.dictionary.to_pylist(), dtype=object)
    # lexicographic rank per code: sort the (small) vocabulary once
    lexrank = np.empty(len(vocab), dtype=np.int64)
    lexrank[np.argsort(vocab, kind="stable")] = np.arange(len(vocab))
    order = np.lexsort((packed, lexrank[codes]))
    out = _encode_runs(lambda c: vocab[c], codes[order], packed[order])
    if out is None:
        return _POSTINGS_ARROW.empty_table()
    return pa.Table.from_pandas(out, schema=_POSTINGS_ARROW, preserve_index=False)


def _check_pack_budget(end_ordinal: int, max_dl: int) -> None:
    """A segment must fit the packed occurrence key: ordinals below 2^32
    and 20-bit positions (see the PACK_* layout)."""
    if end_ordinal > (1 << PACK_ORD_BITS):
        raise ValueError(
            f"segment ordinals reach {end_ordinal} > 2^{PACK_ORD_BITS} ordinal budget; "
            "raise build_index(n_slices=...) so each slice fits one segment"
        )
    if max_dl > (1 << PACK_POS_BITS):
        raise ValueError(
            f"doc with {max_dl} tokens exceeds the 2^{PACK_POS_BITS} position budget"
        )


def _encode_run(rows: pa.Table, first: int):
    """Encode one key range of a segment: `rows` (DOC_COLS) get ordinals
    first, first+1, ... in (conv_id, turn_idx) order.

    Returns (docs, postings, term_df, dv, n_docs, field_sum_dl): the range's
    docs and postings tables, its per-(field, term) doc counts, its distinct
    (col, val, bk) dv rows, and its row count and per-field token sums.
    Tokens come from `analysis.analyze`, norms from `scoring.int_to_byte4`.
    A NULL field has NULL dl and norm and no postings, and counts nothing
    towards the field's sum (the logical path's corpus_stats skips NULL
    token arrays the same way)."""
    rows = rows.select(DOC_COLS).sort_by([(k, "ascending") for k in KEYS], null_placement="at_start")
    n_docs = rows.num_rows
    ordinal = np.arange(first, first + n_docs, dtype=np.int64)
    docs = {"ordinal": pa.array(ordinal), **{c: rows[c] for c in DOC_COLS}}
    terms: list[str] = []
    packed: list[np.ndarray] = []
    field_sum_dl, max_dl = {}, 0
    for fid, f in enumerate(INDEXED_FIELDS):
        toks = [None if v is None else analysis.analyze(v) for v in rows[f].to_pylist()]
        dl = [None if t is None else len(t) for t in toks]
        norm = [None if n is None else scoring.int_to_byte4(n) for n in dl]
        docs[dl_col(f)] = pa.array(dl, pa.int32())
        docs[norm_col(f)] = pa.array(norm, pa.int32())
        lens = np.array([n or 0 for n in dl], dtype=np.int64)
        field_sum_dl[f] = int(lens.sum())
        max_dl = max(max_dl, int(lens.max(initial=0)))
        starts = np.repeat(np.cumsum(lens) - lens, lens)
        pos = np.arange(len(starts), dtype=np.int64) - starts
        terms += [t for ts in toks if ts for t in ts]
        packed.append(
            (fid << PACK_FID_SHIFT)
            + (np.repeat(ordinal, lens) << PACK_ORD_SHIFT)
            + (pos << PACK_NORM_BITS)
            + np.repeat(np.array([n or 0 for n in norm], dtype=np.int64), lens)
        )
    _check_pack_budget(first + n_docs, max_dl)
    # keyword subfields: the raw value (KeywordFieldMapper indexes the exact
    # bytes) at pos 0 with norm 0 (norms disabled on keyword fields)
    for j, f in enumerate(KEYWORD_FIELDS):
        present = pc.is_valid(rows[f]).to_numpy(zero_copy_only=False)
        terms += rows[f].filter(present).to_pylist()
        packed.append(((len(INDEXED_FIELDS) + j) << PACK_FID_SHIFT) + (ordinal[present] << PACK_ORD_SHIFT))
    postings = _encode_postings(pa.array(terms, pa.string()), np.concatenate(packed))
    dfs = postings.group_by(["field", "term"]).aggregate([("n", "sum")])
    term_df = pa.table({"field": dfs["field"], "term": dfs["term"], "df": dfs["n_sum"].cast(pa.int64())})
    dv = []
    for c in NUMERIC_DV_COLS:
        present = pc.is_valid(rows[c]).to_numpy(zero_copy_only=False)
        vals = rows[c].filter(present).cast(pa.int64())
        bks = pa.array(ordinal[present] >> BLOCK_BITS, pa.int32())
        dv.append(pa.table({"col": pa.array([c] * len(vals), pa.string()), "val": vals, "bk": bks}))
    dv = pa.concat_tables(dv).group_by(["col", "val", "bk"]).aggregate([])
    return pa.table(docs), postings, term_df, dv, n_docs, field_sum_dl


def _docs_schema(doc_cols: T.StructType) -> T.StructType:
    """Footer schema of a docs table whose DOC_COLS have the Spark schema
    `doc_cols`: a field's dl and norm are NULL where the field is."""
    fields = [T.StructField("ordinal", T.LongType()), *[doc_cols[c] for c in DOC_COLS]]
    for f in INDEXED_FIELDS:
        nullable = doc_cols[f].nullable
        fields += [
            T.StructField(dl_col(f), T.IntegerType(), nullable),
            T.StructField(norm_col(f), T.IntegerType(), nullable),
        ]
    return T.StructType(fields)


class _Part(NamedTuple):
    """What a part hands the driver: its row count, per-field token sums (in
    INDEXED_FIELDS order), (field, term, df) rows and dv rows."""

    n_docs: int
    field_sum_dl: list[int]
    term_df: pa.Table
    dv: pa.Table


def _build_part(
    store: SegmentStore, seg_id: str, docs_schema: T.StructType, rows: pa.Table, first: int, part: int
) -> _Part:
    """Encode one key range (`_encode_run`) and write its docs and postings
    as part file `part` of the segment's tables; returns the small tables
    and counts the driver sums over the parts."""
    docs, postings, term_df, dv, n_docs, field_sum_dl = _encode_run(rows, first)
    write_local(store.docs_path(seg_id), docs, docs_schema, part)
    write_local(store.postings_path(seg_id), postings, POSTINGS_SCHEMA, part)
    return _Part(n_docs, [field_sum_dl[f] for f in INDEXED_FIELDS], term_df, dv)


class _Clock:
    """Wall seconds of a build's stages, for `SegmentMeta.metrics`."""

    def __init__(self):
        self.start = self.last = time.perf_counter()
        self.stage_sec: dict[str, float] = {}

    def lap(self, stage: str) -> None:
        now = time.perf_counter()
        self.stage_sec[stage] = round(now - self.last, 3)
        self.last = now


def _finish_segment(
    store: SegmentStore, seg_id: str, slice_id: str, parts: list[_Part], partition_rows: list[int],
    path: str, clock: _Clock,
) -> SegmentMeta:
    """Driver side of a build: sum the parts' term counts into one sorted
    term dictionary and merge their dv rows into one sorted dv block index
    (parts hold disjoint blocks, so their dv rows are already distinct),
    write both, and return the segment's meta."""
    dfs = pa.concat_tables([p.term_df for p in parts]).group_by(["field", "term"]).aggregate([("df", "sum")])
    term_stats = pa.table({"field": dfs["field"], "term": dfs["term"], "df": dfs["df_sum"]})
    write_local(
        store.term_stats_path(seg_id),
        term_stats.sort_by([("field", "ascending"), ("term", "ascending")]),
        TERM_STATS_SCHEMA,
    )
    dv = pa.concat_tables([p.dv for p in parts])
    write_local(
        store.dv_stats_path(seg_id),
        dv.sort_by([("col", "ascending"), ("val", "ascending"), ("bk", "ascending")]),
        DV_STATS_SCHEMA,
    )
    clock.lap("dict_dv_write")
    return SegmentMeta(
        segment_id=seg_id,
        n_docs=sum(p.n_docs for p in parts),
        slice_id=slice_id,
        tier_bytes=store.dir_size(seg_id),
        metrics={
            "partitions": len(parts),
            "posting_fields": list(POSTING_FIELDS),
            # per-partition lineage/metrics (north rule): rows each key range
            # held, in partition-id order, + build wall time
            "partition_rows": partition_rows,
            # "driver" or "spark", and the seconds of each stage the path ran
            "build_path": path,
            "stage_sec": clock.stage_sec,
            "build_sec": round(time.perf_counter() - clock.start, 3),
        },
        field_sum_dl={f: sum(p.field_sum_dl[i] for p in parts) for i, f in enumerate(INDEXED_FIELDS)},
    )


def _ipc(table: pa.Table) -> bytes:
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return sink.getvalue().to_pybytes()


# one row per part, the _Part a task returns to the driver
_PART_SCHEMA = T.StructType(
    [
        T.StructField("n_docs", T.LongType()),
        T.StructField("field_sum_dl", T.ArrayType(T.LongType())),
        T.StructField("term_df", T.BinaryType()),  # Arrow IPC stream
        T.StructField("dv", T.BinaryType()),  # Arrow IPC stream
    ]
)


def build_segment(
    spark: SparkSession,
    store: SegmentStore,
    slice_df: DataFrame,
    slice_id: str,
    partitions: int | None = None,
) -> SegmentMeta:
    """Build one immutable segment from a transcripts slice.

    A slice of at most LOCAL_BUILD_MAX_ROWS rows is built on the driver: one
    limited collect (`limit(cap + 1).toArrow()`, Spark's only work), then the
    encode it shares with `build_segment_local`; the segment has one part and
    dense ordinals, and `partitions` is not used.

    A larger slice, the rows of that collect discarded, is range-partitioned
    by (conv_id, turn_idx) into P key ranges, and each Spark task runs
    `_build_part` over its range, writing one docs and one postings part
    file. P is `partitions` (default: the default parallelism), lowered to
    ceil(n / BLOCK_RANGE) and raised to ceil(n / MAX_LOCAL_ROWS). Part i's
    first ordinal is the block-rounded row count of the ranges before it.
    Spark jobs: the limited collect, the row count, the range sample and
    per-range counts over the cached ranges, and the encode."""
    from pyspark import StorageLevel, TaskContext

    clock = _Clock()
    slice_df = slice_df.select(*DOC_COLS)
    docs_schema = _docs_schema(slice_df.schema)
    head = slice_df.limit(LOCAL_BUILD_MAX_ROWS + 1).toArrow()
    clock.lap("collect")
    if head.num_rows <= LOCAL_BUILD_MAX_ROWS:
        return _build_on_driver(store, docs_schema, head, slice_id, clock)

    seg_id = store.new_segment_id()
    n = slice_df.count()
    p = max(
        min(partitions or spark.sparkContext.defaultParallelism, -(-n // BLOCK_RANGE)),
        -(-n // MAX_LOCAL_ROWS),
        1,
    )
    ranges = slice_df.repartitionByRange(p, *KEYS).persist(StorageLevel.MEMORY_AND_DISK)
    counts = {
        r.pid: r.n
        for r in ranges.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    firsts, acc = {}, 0
    for pid in sorted(counts):
        firsts[pid] = acc
        acc += -(-counts[pid] // BLOCK_RANGE) * BLOCK_RANGE
    empty = to_arrow_schema(slice_df.schema).empty_table()
    part_arrow = to_arrow_schema(_PART_SCHEMA)
    clock.lap("partition")

    def encode(batches):
        pid = TaskContext.get().partitionId()
        batches = list(batches)
        rows = pa.Table.from_batches(batches) if batches else empty
        part = _build_part(store, seg_id, docs_schema, rows, firsts.get(pid, 0), pid)
        yield pa.record_batch(
            [[part.n_docs], [part.field_sum_dl], [_ipc(part.term_df)], [_ipc(part.dv)]],
            schema=part_arrow,
        )

    try:
        collected = ranges.mapInArrow(encode, _PART_SCHEMA).collect()
    finally:
        ranges.unpersist()
    parts = [
        _Part(
            r.n_docs,
            list(r.field_sum_dl),
            pa.ipc.open_stream(pa.py_buffer(r.term_df)).read_all(),
            pa.ipc.open_stream(pa.py_buffer(r.dv)).read_all(),
        )
        for r in collected
    ]
    clock.lap("encode_write")
    return _finish_segment(
        store, seg_id, slice_id, parts, [counts[k] for k in sorted(counts)], "spark", clock
    )


def _build_on_driver(
    store: SegmentStore, docs_schema: T.StructType, rows: pa.Table, slice_id: str, clock: _Clock
) -> SegmentMeta:
    """`_build_part` once, over all of `rows`, from ordinal 0: one part."""
    seg_id = store.new_segment_id()
    part = _build_part(store, seg_id, docs_schema, rows, 0, 0)
    clock.lap("encode_write")
    return _finish_segment(store, seg_id, slice_id, [part], [part.n_docs], "driver", clock)


def build_segment_local(store: SegmentStore, rows: pa.Table, slice_id: str) -> SegmentMeta:
    """`build_segment`'s driver path for rows already on the driver (at most
    MAX_LOCAL_ROWS of them, such as an update batch): no Spark job. `rows`
    holds DOC_COLS; its Arrow schema (types and nullability) gives the docs
    table's."""
    docs_schema = _docs_schema(from_arrow_schema(rows.select(DOC_COLS).schema))
    return _build_on_driver(store, docs_schema, rows, slice_id, _Clock())


def build_index(
    spark: SparkSession,
    df: DataFrame,
    root: str,
    n_slices: int = 1,
    resume: bool = False,
    partitions: int | None = None,
    fail_after_slices: int | None = None,
) -> SegmentStore:
    """Full index build, one committed snapshot per slice (resumable).

    Slices are deterministic hash buckets of conv_id (ES routing analog:
    floorMod(hash(routing), shards), OperationRouting.java:283-310).
    `fail_after_slices` simulates a mid-build crash for resume tests.

    Multi-slice inputs are staged ONCE: one repartition-by-slice pass writes
    the input partitioned by slice id, and each per-slice segment build is a
    partition-pruned read of its own slice. A per-slice `df.where(hash == i)`
    loop would re-scan the full input n_slices times — at a 10^12-turn build
    sized to hundreds of slices that is hundreds of reads of a ~100 TB table;
    staging costs one read + one (columnar, compressed) write. Per-slice
    commits are unchanged, so a killed build still resumes from the manifest,
    and a resume reuses the staged slices without re-reading the input
    (the _STAGED marker records the slice count it was written for).
    """
    import os
    import shutil

    store = SegmentStore(root)
    done = store.completed_slices() if resume else set()
    built = 0
    staging = None
    todo = [
        i for i in range(n_slices) if f"slice_{i:04d}_of_{n_slices}" not in done
    ]
    if n_slices > 1 and todo:
        staging = os.path.join(root, "staging")
        marker = os.path.join(staging, "_STAGED")
        staged_ok = False
        if resume and os.path.exists(marker):
            with open(marker) as fh:
                staged_ok = fh.read().strip() == str(n_slices)
        if not staged_ok:
            (
                df.withColumn(
                    "_slice", F.pmod(F.xxhash64("conv_id"), F.lit(n_slices))
                )
                .write.mode("overwrite")
                .partitionBy("_slice")
                .parquet(staging)
            )
            with open(marker, "w") as fh:
                fh.write(str(n_slices))
        staged = spark.read.parquet(staging)
    for i in range(n_slices):
        slice_id = f"slice_{i:04d}_of_{n_slices}"
        if slice_id in done:
            continue
        part = (
            staged.where(F.col("_slice") == i).drop("_slice")
            if staging is not None
            else df
        )
        meta = build_segment(spark, store, part, slice_id, partitions)
        snap = store.snapshot()
        live = (snap.segments if snap else []) + [meta]
        dels = snap.delete_files if snap else []
        store.commit(live, "append", delete_files=dels, summary={"slice": slice_id})
        built += 1
        if fail_after_slices is not None and built >= fail_after_slices:
            return store  # simulated crash: keep staging for the resume
    if staging is not None:
        shutil.rmtree(staging, ignore_errors=True)
    return store
