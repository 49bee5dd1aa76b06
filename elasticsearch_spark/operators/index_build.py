"""Inverted-index build: transcripts DataFrame -> segment tables.

Spark shape (SURVEY.md §3.2): tokenize (JVM regex) -> posexplode ->
(term, packed) two-column shuffle hash-keyed by (term, fid|block) -> columnar
dictionary-encode + int-sort + delta+varbyte encode inside one Arrow kernel
-> write term-clustered segment parquet + manifest checkpoint.

Scale design decisions:
  * Doc ordinals: dense per segment, assigned by range-repartition on the doc
    key + per-partition row_number + broadcast partition offsets — stable
    under repartitioning, never monotonically_increasing_id (SURVEY §7).
  * Postings blocks are FIXED ORDINAL RANGES (BLOCK_RANGE ordinals), not fixed
    posting counts: every encode group is <= BLOCK_RANGE rows, so a hot term
    ("the", df=every doc) is automatically split across (term, block) shuffle
    keys — the salted-key skew handling the north rule asks for, with the salt
    being the block id, and block-max metadata stays exact after any merge.
  * The shuffle carries TWO columns (term string + one packed int64) and NO
    Spark-side sort: ordering happens columnar-side in the Arrow kernel
    (np.lexsort over int arrays after dictionary-encoding terms), which is
    far cheaper in memory bandwidth than UnsafeRow sorting — bandwidth is the
    contended resource behind the north rule's scaling-efficiency gate.
  * A segment is the unit of resumability: one committed snapshot per input
    slice (ES translog-checkpoint analog, Checkpoint.java:43-106); a killed
    build resumes by skipping slice_ids already in the manifest.

Per-block metadata for block-max WAND (TopDocsCollectorContext.java:212-296
enables the threshold; skipping machinery is Lucene impacts): max_tf and
min_dlq (the quantized length minimizing the BM25 norm) give an exact upper
bound for the block's best score at query time.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import analysis, codec, scoring
from ..sources.segment_store import SegmentMeta, SegmentStore, read_spark, write_local

BLOCK_BITS = 12
BLOCK_RANGE = 1 << BLOCK_BITS  # ordinals per postings block

# The postings shuffle carries exactly TWO columns per token occurrence:
# (term string, packed int64). Packing (fid, ordinal, pos, norm) into one long
# halves the UnsafeRow shuffle bytes vs separate columns (each column costs a
# fixed 8-byte slot regardless of width) and turns the within-partition sort
# into a string + single-long-prefix comparison — the shuffle-sort is the
# memory-bandwidth-bound half of the build, so bytes here are the scaling
# lever (north_rule ≥0.8 efficiency N -> 4N).
#
# Bit layout (high -> low): fid:4 | ordinal:32 | pos:20 | norm:8.
#   * 4-bit field id: up to 8 indexed fields (sign bit must stay clear).
#   * 32-bit ordinal: up to 4.3B docs per SEGMENT; a 10^12-turn build runs
#     many slices (build_index n_slices), each its own segment. Guarded in
#     build_segment.
#   * 20-bit position: up to 1M tokens per doc (Lucene caps positions at
#     2^31; transcript turns are far below both). Guarded in build_segment.
#   * 8-bit norm: the byte4-quantized doc length (already 0..255).
# Sorting by (term, packed) yields (term, fid, bk, ordinal, pos) run order
# because bk = ordinal >> BLOCK_BITS is a prefix of the ordinal bits; the
# partition key (packed >> PACK_FIDBK_SHIFT) is exactly (fid, bk) — the
# block id bk IS the salt for hot terms.
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


# fid order in the packed shuffle key: analyzed fields first, then keyword
# subfields. 4-bit fid budget (PACK layout below) => at most 8 total.
POSTING_FIELDS = INDEXED_FIELDS + [kw_field(f) for f in KEYWORD_FIELDS]


def dl_col(f: str) -> str:
    return "dl" if f == "text" else f"dl_{f}"


def norm_col(f: str) -> str:
    return "norm" if f == "text" else f"norm_{f}"


def _postings_arrow_schema():
    import pyarrow as pa

    return pa.schema(
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


_POSTINGS_ARROW = _postings_arrow_schema()

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

# byte4-encode SQL (storage form of the norm, 1 byte/doc like Lucene norms)
def _norm_byte_sql(dl: str = "dl") -> str:
    return (
        f"case when {dl} < 8 then {dl} else "
        f"((shiftright(cast({dl} as bigint), cast(floor(log2(cast({dl} as double))) as int) - 3) & 7) "
        f"| shiftleft(cast(floor(log2(cast({dl} as double))) as int) - 2, 3)) end"
    )


_NORM_BYTE_SQL = _norm_byte_sql("dl")


def assign_ordinals(
    df: DataFrame,
    partitions: int | None = None,
    counts_out: dict[int, int] | None = None,
) -> DataFrame:
    """Add a dense 0-based `ordinal` in (conv_id, turn_idx) order.

    Range-partition + sort once, cache, collect only per-partition COUNTS
    (tiny), then stamp ordinal = partition offset + running row index in a
    zero-shuffle Arrow pass over the already-sorted cached partitions. A
    row_number window here would shuffle AND re-sort the whole table a second
    time (Spark cannot see the existing sort) — measured 3x slower. Never
    monotonically_increasing_id: offsets derive from deterministic key ranges,
    stable under recompute (SURVEY.md §7 hard part).
    """
    from pyspark import StorageLevel

    p = partitions or df.sparkSession.sparkContext.defaultParallelism
    base = (
        df.repartitionByRange(p, "conv_id", "turn_idx")
        .sortWithinPartitions("conv_id", "turn_idx")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    counts = {
        r._pid: r.c
        for r in base.groupBy(F.spark_partition_id().alias("_pid"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    if counts_out is not None:
        # per-partition row counts feed the manifest's lineage/metrics row
        counts_out.update(counts)
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]

    out_schema = T.StructType(list(base.schema.fields) + [T.StructField("ordinal", T.LongType())])

    def stamp(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        off = offsets.get(TaskContext.get().partitionId(), 0)
        for pdf in it:
            n = len(pdf)
            pdf = pdf.copy(deep=False)
            pdf["ordinal"] = range(off, off + n)
            off += n
            yield pdf

    return base.mapInPandas(stamp, schema=out_schema)


def _encode_runs(term_of_run, codes: "np.ndarray", packed: "np.ndarray"):
    """Vectorized encode of occurrence arrays sorted by (term code, packed).

    Input arrays are one element per TOKEN OCCURRENCE — tf is the count of
    adjacent duplicate ordinals, aggregated here instead of by a groupBy
    upstream, saving a full shuffle of the exploded tokens. (fid, ordinal,
    pos, norm) unpack from the single int64 (see PACK_* layout above). Run
    boundaries come from neighbor comparison on two int arrays; term strings
    materialize only once per output block via `term_of_run(code)` — no
    per-occurrence Python objects anywhere.
    """
    import numpy as np

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


def _encode_partition(it):
    """Arrow kernel: one hash partition of (term, packed) occurrence rows ->
    one output row per (field, term, block).

    Replaces Spark's row-based UnsafeExternalSorter with a columnar sort:
    terms dictionary-encode to int32 codes (hash-based Arrow C++ kernel), the
    sort is np.lexsort over two int arrays (packed within lex-rank-of-term) —
    far cheaper in memory bandwidth than comparing UnsafeRows, which is
    exactly the resource the scaling rule is gated on. The partition is
    materialized once (the Lucene RAM-buffer-then-flush analog); callers size
    `partitions` so a partition fits executor memory — the same rule a real
    cluster uses for sort-heavy stages. Output rows are emitted in (term lex
    order, fid, bk) so parquet row-group min/max stats prune term point-reads.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    batches = list(it)
    if not batches:
        return
    tbl = pa.Table.from_batches(batches).combine_chunks()
    del batches
    denc = pc.dictionary_encode(tbl.column("term").combine_chunks())
    codes = denc.indices.to_numpy().astype(np.int64)
    vocab = np.asarray(denc.dictionary.to_pylist(), dtype=object)
    packed = tbl.column("packed").to_numpy()
    del tbl, denc
    # lexicographic rank per code: sort the (small) vocabulary once, then the
    # big arrays sort purely on ints
    lexrank = np.empty(len(vocab), dtype=np.int64)
    lexrank[np.argsort(vocab, kind="stable")] = np.arange(len(vocab))
    order = np.lexsort((packed, lexrank[codes]))
    codes, packed = codes[order], packed[order]
    del order
    out = _encode_runs(lambda c: vocab[c], codes, packed)
    if out is None or not len(out):
        return
    # chunked emit keeps each Arrow batch bounded (hot-term blocks are big)
    for lo in range(0, len(out), 65536):
        yield pa.RecordBatch.from_pandas(
            out.iloc[lo : lo + 65536], schema=_POSTINGS_ARROW, preserve_index=False
        )


def _check_pack_budget(n_docs: int, max_dl: int) -> None:
    """A segment must fit the packed occurrence key: 32-bit ordinals and
    20-bit positions (see the PACK_* layout)."""
    if n_docs > (1 << PACK_ORD_BITS):
        raise ValueError(
            f"segment has {n_docs} docs > 2^{PACK_ORD_BITS} ordinal budget; "
            "raise build_index(n_slices=...) so each slice fits one segment"
        )
    if max_dl > (1 << PACK_POS_BITS):
        raise ValueError(
            f"doc with {max_dl} tokens exceeds the 2^{PACK_POS_BITS} position budget"
        )


def build_segment(
    spark: SparkSession,
    store: SegmentStore,
    slice_df: DataFrame,
    slice_id: str,
    partitions: int | None = None,
) -> SegmentMeta:
    """Build one immutable segment (docs + postings) from a transcripts slice."""
    import time as _time

    t_start = _time.perf_counter()
    seg_id = store.new_segment_id()
    part_counts: dict[int, int] = {}
    docs = assign_ordinals(slice_df, partitions, counts_out=part_counts)
    for f in INDEXED_FIELDS:
        # dl NULL (field absent) stays NULL: absent fields contribute no
        # postings and are excluded from the field's sum_dl, mirroring the
        # logical path's corpus_stats (sum skips NULL token arrays).
        docs = docs.withColumn(dl_col(f), analysis.token_count(f)).withColumn(
            norm_col(f), F.expr(_norm_byte_sql(dl_col(f))).cast("int")
        )
    docs.persist()

    extra_cols = [c for f in INDEXED_FIELDS for c in (dl_col(f), norm_col(f))]
    # assign_ordinals output is already range-partitioned by (conv_id,
    # turn_idx) == ordinal order; write directly (no extra shuffle/sample job),
    # files stay ordinal-sorted for row-group pruning on fetch.
    (
        docs.select("ordinal", *DOC_COLS, *extra_cols)
        .write.mode("overwrite")
        .parquet(store.docs_path(seg_id))
    )

    # corpus stats first (cheap agg on the cached docs) — they double as the
    # pack-width guard: a segment must fit the 32-bit ordinal / 20-bit
    # position budget, else the caller must raise n_slices (each slice is its
    # own segment with its own ordinal space).
    sums = docs.agg(
        F.count(F.lit(1)),
        *[F.coalesce(F.sum(dl_col(f)), F.lit(0)) for f in INDEXED_FIELDS],
        *[F.coalesce(F.max(dl_col(f)), F.lit(0)) for f in INDEXED_FIELDS],
    ).first()
    n_docs = int(sums[0])
    nf = len(INDEXED_FIELDS)
    field_sum_dl = {f: int(sums[1 + i]) for i, f in enumerate(INDEXED_FIELDS)}
    _check_pack_budget(n_docs, max(int(sums[1 + nf + i]) for i in range(nf)))

    # ONE shuffle for the whole postings build, TWO columns per occurrence:
    # (term, packed) where packed = fid|ordinal|pos|norm (see PACK_* layout).
    # Rows are hash-repartitioned by (term, fid|bk) and sorted by
    # (term, packed); tf is the count of adjacent duplicate ordinals,
    # aggregated inside the Arrow encoder (a groupBy here would add a second
    # full shuffle for ~25% less shuffle volume — a loss). The bk bits of the
    # partition key ARE the salt for hot terms: a term with df = all docs
    # spreads over n_docs/BLOCK_RANGE keys (north_rule's salted-key skew
    # handling), and block-max metadata stays exact. All indexed fields ride
    # the same shuffle (fid is just high bits of packed), like Lucene's single
    # per-segment terms dictionary.
    occ = None
    for fid, f in enumerate(INDEXED_FIELDS):
        o = docs.select(
            "ordinal",
            F.col(norm_col(f)).alias("norm"),
            F.posexplode(analysis.tokens(f)).alias("pos", "term"),
        ).select(
            "term",
            (
                F.lit(fid << PACK_FID_SHIFT)
                + F.shiftleft(F.col("ordinal"), PACK_ORD_SHIFT)
                + F.shiftleft(F.col("pos").cast("long"), PACK_NORM_BITS)
                + F.col("norm").cast("long")
            ).alias("packed"),
        )
        occ = o if occ is None else occ.unionByName(o)
    # keyword subfields ride the SAME shuffle: one occurrence per doc, term =
    # the raw value (KeywordFieldMapper indexes the exact bytes), pos=0 and
    # norm=0 (norms disabled on keyword fields). Adds one row per doc per
    # keyword field — negligible next to the text-token volume — and buys
    # O(df) term/terms queries from the dictionary instead of docs scans.
    for j, f in enumerate(KEYWORD_FIELDS):
        fid = len(INDEXED_FIELDS) + j
        o = docs.where(F.col(f).isNotNull()).select(
            F.col(f).alias("term"),
            (
                F.lit(fid << PACK_FID_SHIFT)
                + F.shiftleft(F.col("ordinal"), PACK_ORD_SHIFT)
            ).alias("packed"),
        )
        occ = occ.unionByName(o)
    p = partitions or spark.sparkContext.defaultParallelism
    # NO Spark-side sort: the Arrow kernel dictionary-encodes + int-sorts the
    # partition columnar-side (see _encode_partition), which measurably beats
    # UnsafeExternalSorter on memory bandwidth — the scaling-rule resource.
    postings = occ.repartition(
        p, F.col("term"), F.shiftright(F.col("packed"), PACK_FIDBK_SHIFT)
    ).mapInArrow(_encode_partition, schema=POSTINGS_SCHEMA)
    # write straight from the encode pass: files are (term, fid, bk)-sorted
    # within each hash partition, so parquet row-group min/max stats prune term
    # scans; a range repartition here would re-run the whole encode chain to
    # sample.
    postings.write.mode("overwrite").parquet(store.postings_path(seg_id))

    # term dictionary: (field, term, df) aggregated from the written postings
    # (cheap columnar re-read of small columns) — query-time stats become a
    # term-pruned point read instead of a per-query aggregation job.
    written = read_spark(spark, store.postings_path(seg_id))
    (
        written.groupBy("field", "term")
        .agg(F.sum("n").alias("df"))
        .sortWithinPartitions("field", "term")
        .write.mode("overwrite")
        .parquet(store.term_stats_path(seg_id))
    )

    # numeric doc-value block index (see NUMERIC_DV_COLS): distinct
    # (col, val, bk) from the cached docs — map-side partial aggregation
    # shrinks the shuffle to ~n_distinct rows per block per partition, so
    # this is a rounding error next to the postings shuffle.
    dv = None
    for c in NUMERIC_DV_COLS:
        d = docs.where(F.col(c).isNotNull()).select(
            F.lit(c).alias("col"),
            F.col(c).cast("long").alias("val"),
            F.shiftright(F.col("ordinal"), BLOCK_BITS).cast("int").alias("bk"),
        )
        dv = d if dv is None else dv.unionByName(d)
    if dv is not None:
        (
            # range-cluster by (col, val) so each output file covers a value
            # range and parquet min/max stats prune range reads; few files —
            # the table is tiny relative to docs/postings.
            dv.distinct()
            .repartitionByRange(max(1, (partitions or 8) // 8), "col", "val")
            .sortWithinPartitions("col", "val")
            .write.mode("overwrite")
            .parquet(store.dv_stats_path(seg_id))
        )

    docs.unpersist()
    meta = SegmentMeta(
        segment_id=seg_id,
        n_docs=n_docs,
        sum_dl=field_sum_dl["text"],
        slice_id=slice_id,
        tier_bytes=store.dir_size(seg_id),
        metrics={
            "partitions": p,
            "posting_fields": list(POSTING_FIELDS),
            # per-partition lineage/metrics (north rule): rows each input
            # partition contributed, in partition-id order, + build wall time
            "partition_rows": [part_counts[k] for k in sorted(part_counts)],
            "build_sec": round(_time.perf_counter() - t_start, 3),
        },
        field_sum_dl=field_sum_dl,
    )
    return meta


# footer schemas of the Spark build's term dictionary and dv block index
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


def build_segment_local(store: SegmentStore, rows: "pa.Table", slice_id: str) -> SegmentMeta:
    """Driver-side twin of `build_segment` for a batch small enough to hold
    in driver memory, such as an update batch: the same four tables, row for
    row and with the same footer schemas, written by `write_local` with no
    Spark job.

    It reuses the Spark build's parts: ordinals in (conv_id, turn_idx) order,
    `analysis.analyze` (the driver twin of `analysis.tokens`) for tokens and
    doc lengths, `scoring.int_to_byte4` for norms, the PACK_* occurrence
    layout, and `_encode_partition` fed the whole batch as one partition.
    `rows` holds DOC_COLS; its Arrow schema (types and nullability) gives the
    docs table's."""
    import time as _time

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.pandas.types import from_arrow_schema

    t_start = _time.perf_counter()
    seg_id = store.new_segment_id()
    rows = rows.select(DOC_COLS).sort_by([("conv_id", "ascending"), ("turn_idx", "ascending")])
    n_docs = rows.num_rows
    ordinal = np.arange(n_docs, dtype=np.int64)
    docs = {"ordinal": pa.array(ordinal), **{c: rows[c] for c in DOC_COLS}}
    docs_schema = [T.StructField("ordinal", T.LongType()), *from_arrow_schema(rows.schema)]
    terms: list[str] = []
    packed: list[np.ndarray] = []
    field_sum_dl, max_dl = {}, 0
    for fid, f in enumerate(INDEXED_FIELDS):
        toks = [None if v is None else analysis.analyze(v) for v in rows[f].to_pylist()]
        dl = [None if t is None else len(t) for t in toks]
        norm = [None if n is None else scoring.int_to_byte4(n) for n in dl]
        docs[dl_col(f)] = pa.array(dl, pa.int32())
        docs[norm_col(f)] = pa.array(norm, pa.int32())
        # size() of a NULL token array is NULL; the norm's CASE is always nullable
        docs_schema += [
            T.StructField(dl_col(f), T.IntegerType(), rows.schema.field(f).nullable),
            T.StructField(norm_col(f), T.IntegerType()),
        ]
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
    _check_pack_budget(n_docs, max_dl)
    # keyword subfields: the raw value at pos 0 with norm 0, as in build_segment
    for j, f in enumerate(KEYWORD_FIELDS):
        present = pc.is_valid(rows[f]).to_numpy(zero_copy_only=False)
        terms += rows[f].filter(present).to_pylist()
        packed.append(((len(INDEXED_FIELDS) + j) << PACK_FID_SHIFT) + (ordinal[present] << PACK_ORD_SHIFT))
    occ = pa.record_batch(
        [pa.array(terms, pa.string()), pa.array(np.concatenate(packed), pa.int64())],
        names=["term", "packed"],
    )
    postings = pa.Table.from_batches(list(_encode_partition(iter([occ]))), schema=_POSTINGS_ARROW)
    dfs = postings.group_by(["field", "term"]).aggregate([("n", "sum")])
    term_stats = pa.table({"field": dfs["field"], "term": dfs["term"], "df": dfs["n_sum"]}).sort_by(
        [("field", "ascending"), ("term", "ascending")]
    )
    dv = []
    for c in NUMERIC_DV_COLS:
        present = pc.is_valid(rows[c]).to_numpy(zero_copy_only=False)
        vals = rows[c].filter(present).cast(pa.int64())
        bks = pa.array(ordinal[present] >> BLOCK_BITS, pa.int32())
        dv.append(pa.table({"col": pa.array([c] * len(vals), pa.string()), "val": vals, "bk": bks}))
    dv = (
        pa.concat_tables(dv)
        .group_by(["col", "val", "bk"])
        .aggregate([])
        .sort_by([("col", "ascending"), ("val", "ascending"), ("bk", "ascending")])
    )

    write_local(store.docs_path(seg_id), pa.table(docs), T.StructType(docs_schema))
    write_local(store.postings_path(seg_id), postings, POSTINGS_SCHEMA)
    write_local(store.term_stats_path(seg_id), term_stats, TERM_STATS_SCHEMA)
    write_local(store.dv_stats_path(seg_id), dv, DV_STATS_SCHEMA)
    return SegmentMeta(
        segment_id=seg_id,
        n_docs=n_docs,
        sum_dl=field_sum_dl["text"],
        slice_id=slice_id,
        tier_bytes=store.dir_size(seg_id),
        metrics={
            "partitions": 1,
            "posting_fields": list(POSTING_FIELDS),
            "partition_rows": [n_docs],
            "build_sec": round(_time.perf_counter() - t_start, 3),
        },
        field_sum_dl=field_sum_dl,
    )


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
