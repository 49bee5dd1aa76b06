"""LSM merge + update/time-travel tests.

Invariants (SURVEY.md §5.3-5.4):
  * merged segments == pre-merge results == fresh single-segment build;
  * per-turn text equality under stable turn ordering after any
    index/merge/update cycle (input_hint);
  * old snapshots stay readable after merge/update (time travel);
  * the fork's req_old_source/req_new_source semantics (pre/post images,
    includes projection, max_docs_return cap).
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import time

import pandas as pd
import pyarrow.parquet as pq
import pytest
from conftest import assert_ordinal_layout, spark_jobs
from pyspark.sql import functions as F
from pyspark.sql import types as T
from test_indexed_path import INDEXED_QUERIES

from elasticsearch_spark.functions import analysis
from elasticsearch_spark.operators import index_build, merge, topk, update
from elasticsearch_spark.plans import query_dsl as Q
from elasticsearch_spark.sources import segment_store
from elasticsearch_spark.sources import transcripts as TR

KEYS = ["conv_id", "turn_idx"]
Q_OR = {"match": {"text": "spark query fast"}}
Q_BOOL = {
    "bool": {
        "must": [{"match": {"text": "join table"}}],
        "filter": [{"term": {"role": "user"}}],
    }
}


def _rows(df):
    return sorted((r.conv_id, r.turn_idx, r.score) for r in df.collect())


@pytest.fixture()
def store4(spark, transcripts, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("m4"))
    return index_build.build_index(spark, transcripts, root, n_slices=4, partitions=4)


class TestMerge:
    def test_compact_preserves_results_and_text(self, spark, transcripts, store4):
        pre_or = _rows(topk.search_indexed(spark, store4, Q_OR, k=10))
        pre_snap_id = store4.current_snapshot_id()
        n_merges = merge.compact(spark, store4, partitions=4)
        assert n_merges >= 1
        snap = store4.snapshot()
        assert snap.operation == "merge"
        assert len(snap.segments) < 4
        # results identical post-merge
        assert _rows(topk.search_indexed(spark, store4, Q_OR, k=10)) == pre_or
        assert _rows(topk.search_indexed(spark, store4, Q_BOOL, k=10)) == _rows(
            Q.search(transcripts, Q_BOOL, KEYS, k=10)
        )
        # per-turn text equality under stable ordering
        got = (
            update.read_snapshot_table(spark, store4)
            .orderBy(*KEYS)
            .select("conv_id", "turn_idx", "text")
            .collect()
        )
        want = transcripts.orderBy(*KEYS).select("conv_id", "turn_idx", "text").collect()
        assert got == want
        # time travel: pre-merge snapshot still answers identically
        assert _rows(topk.search_indexed(spark, store4, Q_OR, k=10, snapshot_id=pre_snap_id)) == pre_or

    def test_merged_segment_ordinals_key_ordered(self, spark, store4):
        """The fixture's merge is small, so it is built on the driver: dense
        ordinals in key order (`test_spark_path_merge_equals_fresh_build`
        checks a merge built by Spark tasks)."""
        merge.compact(spark, store4, partitions=4)
        snap = store4.snapshot()
        merged = [s for s in snap.segments if s.slice_id.startswith("merge(")]
        assert merged
        assert assert_ordinal_layout(store4, merged[0]) == "driver"

    def test_merge_drops_delete_files_of_merged_segments(self, spark, transcripts, tmp_path):
        store = index_build.build_index(spark, transcripts, str(tmp_path), n_slices=3, partitions=2)
        a, b, c = (s.segment_id for s in store.snapshot().segments)

        def delete_first_doc_of(seg_id):
            r = segment_store.read_spark(spark, store.docs_path(seg_id)).orderBy("ordinal").first()
            n, _ = update.delete_by_query(
                spark, store, f"conv_id = '{r.conv_id}' and turn_idx = {r.turn_idx}"
            )
            assert n == 1
            return store.snapshot().delete_files[-1]

        dead, kept = delete_first_doc_of(a), delete_first_doc_of(c)
        n_live = update.read_snapshot_table(spark, store).count()
        merge.merge_segments(spark, store, [a, b], partitions=2)
        snap = store.snapshot()
        # only a merged-away segment was named in `dead`; `kept` names the live c
        assert snap.delete_files == [kept] and dead != kept
        assert update.read_snapshot_table(spark, store).count() == n_live

    def test_pick_merges_tiering(self):
        from elasticsearch_spark.sources.segment_store import SegmentMeta

        small = [
            SegmentMeta(f"s{i}", 10, f"sl{i}", tier_bytes=1000) for i in range(3)
        ]
        big = [SegmentMeta("b0", 10, "bl", tier_bytes=10 * 1024**3)]
        batches = merge.pick_merges(small + big)
        assert batches == [["s0", "s1", "s2"]]


class TestUpdate:
    def test_update_images_and_projection(self, spark, transcripts, store4):
        upd = (
            transcripts.where("role = 'user' and turn_idx = 0")
            .select(*KEYS)
            .limit(3)
            .withColumn("tool", F.lit("patched"))
        )
        res = update.apply_updates(
            spark,
            store4,
            upd,
            partitions=4,
            req_old_source=True,
            req_new_source=["tool"],
        )
        assert res.n_updated == 3 and res.n_inserted == 0
        old = res.old_source.collect()
        new = res.new_source.collect()
        assert len(old) == 3 and len(new) == 3
        # old image has full source; new image projected to keys + tool
        assert set(res.old_source.columns) == set(index_build.DOC_COLS)
        assert res.new_source.columns == ["conv_id", "turn_idx", "tool"]
        assert all(r.tool == "patched" for r in new)
        old_tools = {(r.conv_id, r.turn_idx): r.tool for r in old}
        cur = update.read_snapshot_table(spark, store4)
        # post-image table: updated rows patched, everything else untouched
        assert cur.where("tool = 'patched'").count() == 3
        before_tbl = update.read_snapshot_table(spark, store4, res.before_snapshot)
        for (cid, ti), t in old_tools.items():
            assert t != "patched"  # pre-image caught the OLD value
            r = before_tbl.where(
                (F.col("conv_id") == cid) & (F.col("turn_idx") == ti)
            ).first()
            assert r.tool == t

    def test_update_text_reflected_in_search(self, spark, transcripts, store4):
        key = transcripts.select(*KEYS).orderBy(*KEYS).limit(1)
        upd = key.withColumn("text", F.lit("zzzunique needle phrase"))
        res = update.apply_updates(spark, store4, upd, partitions=4)
        hits = topk.search_indexed(spark, store4, {"match": {"text": "zzzunique"}}, k=5).collect()
        assert len(hits) == 1
        # pre-update snapshot does not see the new text (time travel)
        old_hits = topk.search_indexed(
            spark, store4, {"match": {"text": "zzzunique"}}, k=5,
            snapshot_id=res.before_snapshot,
        ).collect()
        assert len(old_hits) == 0
        # and the old text is gone from the live view
        assert update.read_snapshot_table(spark, store4).where(
            "text = 'zzzunique needle phrase'"
        ).count() == 1

    def test_upsert_and_max_docs_return(self, spark, transcripts, store4):
        n0 = update.read_snapshot_table(spark, store4).count()
        rows = [
            ("conv_999999", i, "user", f"brand new doc {i}", "", None) for i in range(15)
        ]
        upd = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp")
        res = update.apply_updates(
            spark, store4, upd, partitions=4, req_new_source=True, max_docs_return=10
        )
        assert res.n_inserted == 15 and res.n_updated == 0
        assert res.new_source.count() == 10  # capped (UpdateByQueryRequest.java:52)
        assert update.read_snapshot_table(spark, store4).count() == n0 + 15

    def test_update_by_query_and_delete_by_query(self, spark, store4):
        res = update.update_by_query(
            spark,
            store4,
            "role = 'system' and turn_idx = 2",
            {"tool": "'escalated'"},
            partitions=4,
            req_old_source=True,
            req_new_source=True,
        )
        assert res.n_updated > 0
        assert all(r.tool == "escalated" for r in res.new_source.collect())
        cur = update.read_snapshot_table(spark, store4)
        assert cur.where("tool = 'escalated'").count() == res.n_updated

        n, _ = update.delete_by_query(spark, store4, "tool = 'escalated'")
        assert n == res.n_updated
        assert update.read_snapshot_table(spark, store4).where("tool = 'escalated'").count() == 0
        # deleted docs excluded from search too
        hits = topk.search_indexed(
            spark, store4,
            {"bool": {"filter": [{"term": {"tool": "escalated"}}]}},
            k=5,
        )
        assert hits.count() == 0

    def test_merge_after_update_purges_deletes(self, spark, transcripts, store4):
        key = transcripts.select(*KEYS).orderBy(F.col("conv_id").desc()).limit(2)
        update.apply_updates(spark, store4, key.withColumn("tool", F.lit("post_upd")), partitions=4)
        merge.compact(spark, store4, partitions=4)
        cur = update.read_snapshot_table(spark, store4)
        assert cur.where("tool = 'post_upd'").count() == 2
        # doc count unchanged; no duplicate keys survive the merge
        assert cur.groupBy(*KEYS).count().where("count > 1").count() == 0


def test_expire_snapshots_vacuum(spark, transcripts, store4):
    key = update.read_snapshot_table(spark, store4).select(*KEYS).limit(1)
    update.apply_updates(spark, store4, key.withColumn("tool", F.lit("vacuumed")))
    (del_file,) = store4.snapshot().delete_files
    assert os.path.isdir(del_file)
    pre_segs = [s.segment_id for s in store4.snapshot().segments]
    merge.compact(spark, store4, partitions=4)
    # all snapshots still readable pre-expiry
    assert len(store4.history()) >= 2
    assert store4.snapshot().delete_files == []
    removed = store4.expire_snapshots(keep_last=1)
    assert len(store4.history()) == 1
    # merged-away input segments and the dropped delete file physically vacuumed
    live = {s.segment_id for s in store4.snapshot().segments}
    for sid in pre_segs:
        if sid not in live:
            assert not os.path.isdir(store4.segment_dir(sid))
    assert del_file in removed and not os.path.exists(del_file)
    # current snapshot still answers queries
    assert topk.search_indexed(spark, store4, Q_OR, k=5).count() == 5


# ---------------------------------------------------------- driver-side path
UPDATE_DDL = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"


def _footer(path):
    meta = pq.read_metadata(segment_store._data_files(path)[0]).metadata
    return json.loads(meta[segment_store.SPARK_SCHEMA_KEY])


# queries that match the generated corpus (its vocabulary is w<rank>)
GENERATED_QUERIES = [
    {"match": {"text": "w1"}},
    {"match": {"text": "w7 w60 w400"}},
    {"match": {"text": {"query": "w1 w2 w3", "operator": "and"}}},
    {"match_phrase": {"text": "w1 w1"}},
    {"bool": {"must": [{"match": {"text": "w5 w9"}}], "filter": [{"term": {"role": "user"}}]}},
    {"bool": {"must": [{"match": {"text": "w3"}}], "must_not": [{"term": {"tool": "code"}}]}},
    {"bool": {"filter": [{"range": {"turn_idx": {"gte": 2, "lt": 5}}}]}},
]


def _odd_slice(spark, transcripts):
    """300 fixture rows plus Unicode text, NULL and empty fields and µs `ts`."""
    odd = spark.createDataFrame(
        [
            ("conv_x", 0, "user", "İstanbul ΑΣ ½ x² café", "", dt.datetime(2024, 1, 1, 0, 0, 0, 123456)),
            ("conv_x", 1, "tool", None, "search", dt.datetime(2024, 1, 1, 0, 0, 1, 1)),
            ("conv_x", 2, "assistant", "", "", None),
            ("conv_x", 3, None, "a" * 300 + " tail", "code", dt.datetime(2024, 1, 1, 0, 0, 2, 999999)),
        ],
        UPDATE_DDL,
    )
    return transcripts.orderBy(*KEYS).limit(300).unionByName(odd)


@pytest.mark.parametrize(
    "corpus",
    ["fixture_304", "generated_two_blocks"],
)
def test_part_count_keeps_answers(spark, transcripts, tmp_path, corpus):
    """A build answers every query the same on the Spark path with 1, 2 or 4
    requested partitions (forced by a zero driver cap), on `build_segment`'s
    driver path and through `build_segment_local`: same rows and scores,
    n_docs, field sums and footer schemas. Each part starts on a block
    boundary, driver-built ordinals are dense, and no postings block appears
    twice."""
    if corpus == "fixture_304":
        slice_df, queries = _odd_slice(spark, transcripts), INDEXED_QUERIES
    else:
        n = index_build.BLOCK_RANGE + 300
        slice_df, queries = TR.generate_transcripts(spark, n, seed=5, partitions=2), GENERATED_QUERIES
    slice_df = slice_df.cache()
    n = slice_df.count()
    stores = {}
    for parts in (1, 2, 4, "driver", "local"):
        store = segment_store.SegmentStore(str(tmp_path / str(parts)))
        if parts == "local":
            meta = index_build.build_segment_local(store, slice_df.toArrow(), "s")
        elif parts == "driver":
            meta = index_build.build_segment(spark, store, slice_df, "s", partitions=4)
        else:
            with pytest.MonkeyPatch.context() as mp:
                mp.setattr(index_build, "LOCAL_BUILD_MAX_ROWS", 0)
                meta = index_build.build_segment(spark, store, slice_df, "s", partitions=parts)
            assert meta.metrics["partitions"] == min(parts, -(-n // index_build.BLOCK_RANGE))
        assert meta.metrics["build_path"] == ("spark" if isinstance(parts, int) else "driver")
        store.commit([meta], "append")
        stores[parts] = (store, meta)
    slice_df.unpersist()

    def answers(store):
        return [_rows(topk.search_indexed(spark, store, qd, k=10)) for qd in queries]

    want_store, want_meta = stores["local"]
    want = answers(want_store)
    assert all(want), "every query matches"
    assert want_meta.n_docs == n
    for parts, (store, meta) in stores.items():
        assert (meta.n_docs, meta.field_sum_dl) == (want_meta.n_docs, want_meta.field_sum_dl), parts
        for table in ("docs_path", "postings_path", "term_stats_path", "dv_stats_path"):
            assert _footer(getattr(store, table)(meta.segment_id)) == _footer(
                getattr(want_store, table)(want_meta.segment_id)
            ), (parts, table)
        assert_ordinal_layout(store, meta)
        blocks = segment_store.read_point(store.postings_path(meta.segment_id), ["field", "term", "bk"], None)
        assert blocks.group_by(["field", "term", "bk"]).aggregate([]).num_rows == blocks.num_rows
        if parts != "local":
            assert answers(store) == want, parts


def test_small_build_runs_on_driver(spark, transcripts, tmp_path):
    """A slice within the driver cap costs one limited collect: one part,
    its stages timed in the metrics."""
    store = segment_store.SegmentStore(str(tmp_path))
    meta, jobs = spark_jobs(spark, lambda: index_build.build_segment(spark, store, transcripts, "s"))
    n = transcripts.count()
    assert meta.n_docs == n
    assert jobs <= 2
    assert meta.metrics["build_path"] == "driver"
    assert (meta.metrics["partitions"], meta.metrics["partition_rows"]) == (1, [n])
    assert set(meta.metrics["stage_sec"]) == {"collect", "encode_write", "dict_dv_write"}


def test_spark_build_runs_fewer_spark_jobs(spark, transcripts, tmp_path, monkeypatch):
    monkeypatch.setattr(index_build, "LOCAL_BUILD_MAX_ROWS", 0)
    store = segment_store.SegmentStore(str(tmp_path))
    meta, jobs = spark_jobs(spark, lambda: index_build.build_segment(spark, store, transcripts, "s"))
    assert meta.n_docs == transcripts.count()
    assert jobs < 13
    assert meta.metrics["build_path"] == "spark"
    assert set(meta.metrics["stage_sec"]) == {"collect", "partition", "encode_write", "dict_dv_write"}


def test_spark_path_merge_equals_fresh_build(spark, tmp_path, monkeypatch):
    """Segments built and merged by Spark tasks (a zero driver cap) answer
    like a fresh driver-built segment of the same rows, and the merged
    segment keeps key order with block-aligned part starts."""
    df = TR.generate_transcripts(spark, index_build.BLOCK_RANGE + 300, seed=5, partitions=2).cache()
    fresh = index_build.build_index(spark, df, str(tmp_path / "fresh"))
    assert fresh.snapshot().segments[0].metrics["build_path"] == "driver"
    monkeypatch.setattr(index_build, "LOCAL_BUILD_MAX_ROWS", 0)
    store = index_build.build_index(spark, df, str(tmp_path / "merged"), n_slices=2, partitions=2)
    meta, _ = merge.merge_segments(
        spark, store, [s.segment_id for s in store.snapshot().segments], partitions=2
    )
    df.unpersist()
    assert meta.metrics["partitions"] == 2
    assert assert_ordinal_layout(store, meta) == "spark"
    for qd in GENERATED_QUERIES:
        want = _rows(topk.search_indexed(spark, fresh, qd, k=10))
        assert want and _rows(topk.search_indexed(spark, store, qd, k=10)) == want, qd


def test_analyze_matches_spark_tokens(spark, sf_dir):
    """The index tokenizer (`analyze`) equals the logical plan's JVM
    `tokens` on hand-picked Unicode, on every string in the fixture tables
    and on a generated corpus."""
    texts = [
        "İstanbul ΑΣ ½ x² café",
        "Hello, World! don't STOP-me 42x",
        "ΣΊΣΥΦΟΣ straße ǅemal ﬁne",
        "日本語 テキスト 123",
        "",
        "a" * 300,
    ]
    df = spark.createDataFrame(pd.DataFrame({"t": texts}))
    for path in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        table = spark.read.parquet(path)
        for f in table.schema:
            if isinstance(f.dataType, T.StringType):
                df = df.unionByName(table.select(F.col(f.name).alias("t")))
    gen = TR.generate_transcripts(spark, 3000, seed=11, partitions=2)
    for c in ("text", "tool", "role"):
        df = df.unionByName(gen.select(F.col(c).alias("t")))
    rows = df.where(F.col("t").isNotNull()).select("t", analysis.tokens("t").alias("tok")).collect()
    assert len(rows) > 10_000
    bad = [(r.t, list(r.tok)) for r in rows if list(r.tok) != analysis.analyze(r.t)]
    assert not bad, bad[:3]


def test_analyze_splits_on_every_non_alnum_code_point():
    """`analyze` keeps exactly the str.isalnum() characters, over all of
    Unicode: the reference loop below is the tokenizer's definition."""

    def isalnum_runs(text):
        out, cur = [], []
        for ch in text.lower():
            if ch.isalnum():
                cur.append(ch)
            elif cur:
                out.append("".join(cur))
                cur = []
        return out + ["".join(cur)] if cur else out

    for cp in range(0x110000):
        if not 0xD800 <= cp < 0xE000:
            text = f"a{chr(cp)}b {chr(cp)}"
            assert analysis.analyze(text) == isalnum_runs(text), hex(cp)


def test_small_update_runs_on_driver(spark, transcripts, store4):
    keys = transcripts.orderBy(*KEYS).select(*KEYS).limit(2).collect()
    batch = pd.DataFrame(
        {
            "conv_id": [keys[0].conv_id, keys[1].conv_id, "conv_new"],
            "turn_idx": [keys[0].turn_idx, keys[1].turn_idx, 0],
            "role": [None, "system", "user"],
            "text": ["driver side text", None, "inserted turn"],
            "tool": [None, "", "x"],
            "ts": [pd.Timestamp("2025-01-02 03:04:05.678901"), None, None],
        }
    )
    upd = spark.createDataFrame(batch, UPDATE_DDL)
    before_rows = update.read_snapshot_table(spark, store4).orderBy(*KEYS).limit(2).collect()
    res, jobs = spark_jobs(
        spark,
        lambda: update.apply_updates(spark, store4, upd, req_old_source=True, req_new_source=True),
    )
    assert jobs <= 1
    assert (res.n_updated, res.n_inserted) == (2, 1)
    (old, new), image_jobs = spark_jobs(
        spark, lambda: (res.old_source.collect(), res.new_source.collect())
    )
    assert image_jobs == 0
    assert old == before_rows
    cur = update.read_snapshot_table(spark, store4)
    want = cur.where(
        "conv_id = 'conv_new' or " + " or ".join(
            f"(conv_id = '{k.conv_id}' and turn_idx = {k.turn_idx})" for k in keys
        )
    ).orderBy(*KEYS).collect()
    assert new == want and len(new) == 3
    # partial-doc merge: null columns keep the old value
    assert new[0].text == "driver side text" and new[0].role == before_rows[0].role
    assert new[0].ts == dt.datetime(2025, 1, 2, 3, 4, 5, 678901)
    assert (new[1].role, new[1].text, new[1].tool) == ("system", before_rows[1].text, "")
    hits = topk.search_indexed(spark, store4, {"match": {"text": "driver side"}}, k=3).collect()
    assert (hits[0].conv_id, hits[0].turn_idx) == (keys[0].conv_id, keys[0].turn_idx)
    assert cur.count() == transcripts.count() + 1


def test_duplicate_keys_raise_on_both_paths(spark, store4):
    sid = store4.current_snapshot_id()
    small = spark.createDataFrame(
        pd.DataFrame({"conv_id": ["conv_000000"] * 2, "turn_idx": [0, 0], "text": ["first", "second"]})
    )
    with pytest.raises(ValueError, match="more than once"):
        update.apply_updates(spark, store4, small)
    big = spark.range(update.LOCAL_UPDATE_MAX_ROWS + 1).select(
        F.when(F.col("id") < 2, "conv_000000").otherwise(F.concat(F.lit("k"), F.col("id").cast("string"))).alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.lit("text").alias("text"),
    )
    with pytest.raises(ValueError, match="more than once"):
        update.apply_updates(spark, store4, big)
    assert store4.current_snapshot_id() == sid


def test_update_by_query_over_driver_cap_takes_spark_path(spark, transcripts, tmp_path, monkeypatch):
    # a small cap sends this batch down the Spark path; the real cap's
    # batches would make the test minutes long
    store = index_build.build_index(spark, transcripts, str(tmp_path), partitions=2)
    n = transcripts.count()
    monkeypatch.setattr(update, "LOCAL_UPDATE_MAX_ROWS", n - 1)
    pre = update.read_snapshot_table(spark, store).orderBy(*KEYS).limit(10).collect()
    res, jobs = spark_jobs(
        spark,
        lambda: update.update_by_query(
            spark, store, "true", {"tool": "'bulk'"}, partitions=2,
            req_old_source=True, req_new_source=True,
        ),
    )
    assert jobs > 1  # the Spark joins and build, not the driver path
    assert (res.n_updated, res.n_inserted) == (n, 0)
    assert res.old_source.collect() == pre
    assert [r.asDict() for r in res.new_source.collect()] == [r.asDict() | {"tool": "bulk"} for r in pre]
    cur = update.read_snapshot_table(spark, store)
    assert cur.count() == n and cur.where("tool = 'bulk'").count() == n


def test_small_update_keeps_ts_in_repeated_dst_hour(spark, tmp_path, monkeypatch):
    # 05:30 and 06:30 UTC on 2024-11-03 are both 01:30 in New York, where
    # the clocks fall back that night
    micros = [1730611800000000, 1730615400000000]
    corpus = spark.createDataFrame(
        [("conv_dst", i, "user", f"turn {i}", "", None) for i in range(2)], UPDATE_DDL
    ).withColumn("ts", F.timestamp_micros(F.element_at(F.array(*map(F.lit, micros)), F.col("turn_idx") + 1)))
    store = index_build.build_index(spark, corpus, str(tmp_path), partitions=2)
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        res = update.update_by_query(
            spark, store, "true", {"tool": "'x'"}, req_old_source=True, req_new_source=True
        )
    finally:
        monkeypatch.undo()
        time.tzset()
    assert res.n_updated == 2

    def ts_micros(df):
        return [r[0] for r in df.orderBy("turn_idx").select(F.unix_micros("ts")).collect()]

    assert ts_micros(update.read_snapshot_table(spark, store)) == micros
    assert ts_micros(res.old_source) == micros and ts_micros(res.new_source) == micros
