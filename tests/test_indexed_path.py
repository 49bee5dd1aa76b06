"""Indexed engine vs logical path: identical top-k (the WAND-correctness
property from SURVEY.md §5.3), plus segment/resume invariants."""

from __future__ import annotations

import pytest
from conftest import assert_ordinal_layout, spark_jobs
from pyspark.sql import functions as F

from elasticsearch_spark.operators import index_build, topk, update
from elasticsearch_spark.plans import query_dsl as Q
from elasticsearch_spark.sources import segment_store
from elasticsearch_spark.sources.transcripts import generate_transcripts

KEYS = ["conv_id", "turn_idx"]

INDEXED_QUERIES = [
    {"match": {"text": "spark query fast"}},
    {"match": {"text": {"query": "join table scan", "operator": "and"}}},
    {"match": {"text": {"query": "window agg stream batch", "minimum_should_match": 3}}},
    {"match": {"text": "customer"}},
    {
        "bool": {
            "must": [{"match": {"text": "join table"}}],
            "filter": [{"term": {"role": "user"}}],
        }
    },
    {
        "bool": {
            "must": [{"match": {"text": "data slow"}}],
            "must_not": [{"term": {"tool": "code"}}],
        }
    },
    {
        "bool": {
            "must": [{"match": {"text": "query"}}],
            "filter": [{"range": {"turn_idx": {"gte": 2, "lt": 18}}}],
            "must_not": [{"term": {"role": "system"}}],
        }
    },
    {
        "bool": {
            "must": [{"match": {"text": "merge value"}}],
            "must_not": [{"match": {"text": "vector"}}],
        }
    },
    {"match_phrase": {"text": "table hash"}},
    {
        "bool": {
            "must": [
                {"match_phrase": {"text": "key value"}},
                {"match": {"text": "query"}},
            ],
            "filter": [{"term": {"role": "user"}}],
        }
    },
    # cross_fields with a percentage msm: 75% of 3 terms = 2
    {
        "multi_match": {
            "query": "search join fast",
            "fields": ["text", "tool"],
            "type": "cross_fields",
            "minimum_should_match": "75%",
        }
    },
]


@pytest.fixture(scope="module")
def store(spark, transcripts, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("index"))
    return index_build.build_index(spark, transcripts, root, n_slices=1, partitions=4)


@pytest.fixture(scope="module")
def store_multi(spark, transcripts, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("index_multi"))
    return index_build.build_index(spark, transcripts, root, n_slices=3, partitions=4)


def _rows(df):
    return sorted((r.conv_id, r.turn_idx, r.score) for r in df.collect())


@pytest.fixture
def spark_kernel(monkeypatch):
    """Every KernelPlan query takes the Spark kernel path (a zero driver cap)."""
    monkeypatch.setattr(topk, "MAX_DRIVER_KERNEL_POSTINGS", 0)


@pytest.mark.parametrize("qi", range(len(INDEXED_QUERIES)))
def test_indexed_equals_logical(spark, transcripts, store, qi):
    """The fixture store's queries are all under the driver cap."""
    qd = INDEXED_QUERIES[qi]
    want = _rows(Q.search(transcripts, qd, KEYS, k=10))
    got = _rows(topk.search_indexed(spark, store, qd, k=10))
    assert got == want, f"query {qd}"


@pytest.mark.parametrize("qi", range(len(INDEXED_QUERIES)))
def test_indexed_equals_logical_on_spark_kernel(spark, transcripts, store, spark_kernel, qi):
    test_indexed_equals_logical(spark, transcripts, store, qi)


@pytest.mark.parametrize("qi", [0, 1, 4, 7])
def test_multi_segment_equals_single(spark, transcripts, store, store_multi, qi):
    """query(S1 ∪ S2 ∪ S3) == query(single segment) — merge invariant. Both
    run the kernel on the driver, the second over three segments."""
    qd = INDEXED_QUERIES[qi]
    one, jobs_one = spark_jobs(spark, lambda: _rows(topk.search_indexed(spark, store, qd, k=10)))
    many, jobs_many = spark_jobs(
        spark, lambda: _rows(topk.search_indexed(spark, store_multi, qd, k=10))
    )
    assert len(store_multi.snapshot().segments) == 3
    assert (jobs_one, jobs_many) == (0, 0)
    assert one == many


def test_resume_equals_fresh(spark, transcripts, tmp_path_factory):
    """Build killed after 2/4 slices, resumed -> same results as fresh build."""
    r1 = str(tmp_path_factory.mktemp("idx_killed"))
    index_build.build_index(spark, transcripts, r1, n_slices=4, partitions=4, fail_after_slices=2)
    s1 = index_build.SegmentStore(r1)
    assert len(s1.snapshot().segments) == 2
    # resume: skips the 2 committed slices
    index_build.build_index(spark, transcripts, r1, n_slices=4, partitions=4, resume=True)
    assert len(s1.snapshot().segments) == 4

    r2 = str(tmp_path_factory.mktemp("idx_fresh"))
    s2 = index_build.build_index(spark, transcripts, r2, n_slices=4, partitions=4)
    qd = INDEXED_QUERIES[0]
    assert _rows(topk.search_indexed(spark, s1, qd, k=10)) == _rows(
        topk.search_indexed(spark, s2, qd, k=10)
    )


def test_doc_roundtrip_text_equality(spark, transcripts, store):
    """Per-turn text equality under stable turn ordering (input_hint invariant)."""
    snap = store.snapshot()
    docs = topk.read_segment_docs(spark, store, snap)
    got = docs.orderBy("conv_id", "turn_idx").select("conv_id", "turn_idx", "text").collect()
    want = transcripts.orderBy("conv_id", "turn_idx").select("conv_id", "turn_idx", "text").collect()
    assert got == want


def test_ordinals_dense_and_key_ordered(spark, store, tmp_path, monkeypatch):
    """The fixture store is built on the driver: dense ordinals in key
    order. A two-block slice built by Spark tasks (a zero driver cap) keeps
    key order, and its second part starts on a block boundary."""
    (meta,) = store.snapshot().segments
    assert assert_ordinal_layout(store, meta) == "driver"
    monkeypatch.setattr(index_build, "LOCAL_BUILD_MAX_ROWS", 0)
    spark_store = segment_store.SegmentStore(str(tmp_path))
    df = generate_transcripts(spark, index_build.BLOCK_RANGE + 300, seed=5, partitions=2)
    meta = index_build.build_segment(spark, spark_store, df, "s", partitions=2)
    assert meta.metrics["partitions"] == 2
    assert assert_ordinal_layout(spark_store, meta) == "spark"


MATCHING = {"match": {"text": "spark query fast"}}
ROLE_FILTERED = INDEXED_QUERIES[4]  # a bool with a `role` filter channel
KERNEL_JOBS = 3  # the postings cogroup; every other read is a driver read


@pytest.mark.parametrize("qd", [MATCHING, ROLE_FILTERED], ids=["match", "role_filter"])
def test_small_matching_query_runs_no_spark_job(spark, store, qd):
    """Under the cap the kernel, its channels and the fetch run on the driver."""
    rows, jobs = spark_jobs(spark, lambda: topk.search_indexed(spark, store, qd).collect())
    assert len(rows) == 10
    assert jobs == 0


def test_matching_query_runs_only_the_kernel_jobs(spark, store, spark_kernel):
    rows, jobs = spark_jobs(spark, lambda: topk.search_indexed(spark, store, MATCHING).collect())
    assert len(rows) == 10
    assert jobs <= KERNEL_JOBS


def test_snapshot_with_deletes_takes_the_spark_path(spark, transcripts, tmp_path):
    """A delete file keeps the kernel on Spark, even under the cap. The
    engine's BM25 stats still count deleted docs (as ES does until a merge),
    so the logical plan over the whole corpus, less the deleted keys, is the
    expected answer."""
    st = index_build.build_index(spark, transcripts, str(tmp_path), n_slices=1, partitions=4)
    top3 = sorted(_rows(topk.search_indexed(spark, st, MATCHING, k=10)), key=lambda r: -r[2])[:3]
    gone = {(c, t) for c, t, _ in top3}
    pred = " or ".join(f"(conv_id = '{c}' and turn_idx = {t})" for c, t in sorted(gone))
    assert update.delete_by_query(spark, st, pred)[0] == 3
    rows, jobs = spark_jobs(spark, lambda: _rows(topk.search_indexed(spark, st, MATCHING, k=10)))
    assert 0 < jobs <= KERNEL_JOBS
    live = [
        r for r in sorted(_rows(Q.search(transcripts, MATCHING, KEYS, k=13)),
                          key=lambda r: (-r[2], r[0], r[1]))
        if (r[0], r[1]) not in gone
    ]
    assert rows == sorted(live[:10])


def test_phrase_prefix_expands_over_live_docs_under_deletes(spark, tmp_path):
    """With a delete file, match_phrase_prefix expands its prefix over the
    live docs, as the logical twin does: a term that only deleted docs hold
    must not take the one max_expansions slot."""
    rows = [
        ("c1", 0, "user", "alpha zzaa", "", None),
        ("c2", 0, "user", "alpha zzbb", "", None),
        ("c3", 0, "user", "beta gamma", "", None),
        ("c4", 0, "user", "alpha beta", "", None),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    st = index_build.build_index(spark, df, str(tmp_path), n_slices=1, partitions=1)
    update.delete_by_query(spark, st, "conv_id = 'c1'")
    qd = {"match_phrase_prefix": {"text": {"query": "alpha zz", "max_expansions": 1}}}
    got = [(r.conv_id, r.turn_idx) for r in topk.search_indexed(spark, st, qd).collect()]
    want = [(r.conv_id, r.turn_idx) for r in Q.search(update.read_snapshot_table(spark, st), qd, KEYS).collect()]
    assert got == want == [("c2", 0)]


@pytest.mark.parametrize("name", ["function_score_topk", "terms_set_msm"])
def test_value_channels_on_the_driver_equal_the_oracle(spark, store, sf_dir, name):
    """function_score values and terms_set thresholds are value channels:
    on the driver path their rows come from a projection over a local
    relation, and their block bounds from chan_ub."""
    import duckdb

    from elasticsearch_spark import oracle
    from elasticsearch_spark.queryset import SEARCH_QUERIES

    qd = SEARCH_QUERIES[name]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    want = sorted(
        (c, int(t), round(float(s), 4)) for c, t, s in con.execute(oracle.search_sql(qd, 10)).fetchall()
    )
    got, jobs = spark_jobs(spark, lambda: _rows(topk.search_indexed(spark, store, qd, k=10)))
    assert jobs == 0
    assert got == want and got


def test_channel_less_queries_build_no_docs_frame(spark, store, monkeypatch):
    """A kernel query without channels, and a query whose terms are not in
    the dictionary, never build the docs frame: the key types come from a
    parquet footer. The empty result is a local relation: no Spark job."""
    want = _rows(topk.search_indexed(spark, store, MATCHING))

    def boom(*a, **k):
        raise AssertionError("built the docs frame")

    monkeypatch.setattr(topk, "read_segment_docs", boom)
    assert _rows(topk.search_indexed(spark, store, MATCHING)) == want
    none = topk.search_indexed(spark, store, {"match": {"text": "zzqx"}})
    rows, jobs = spark_jobs(spark, none.collect)
    assert (rows, jobs) == ([], 0)
    assert none.schema == topk.search_indexed(spark, store, MATCHING).schema


def test_job_count_does_not_grow_with_segments(spark, transcripts, tmp_path_factory):
    """3 segments with a delete file run the same jobs as 1 segment with a
    delete file: no read pays a per-segment (or per-delete-file) job. The
    deletes ride the kernel's cogroup as its deny channel."""
    counts = []
    for n_slices in (1, 3):
        root = str(tmp_path_factory.mktemp(f"index_deletes_{n_slices}"))
        st = index_build.build_index(spark, transcripts, root, n_slices=n_slices, partitions=4)
        n_deleted, _ = update.delete_by_query(spark, st, "turn_idx = 0")
        snap = st.snapshot()
        assert n_deleted > 0
        assert len(snap.segments) == n_slices and len(snap.delete_files) == 1
        rows, jobs = spark_jobs(spark, lambda: topk.search_indexed(spark, st, MATCHING).collect())
        assert len(rows) == 10 and all(r.turn_idx != 0 for r in rows)
        counts.append(jobs)
    assert counts[0] == counts[1] <= KERNEL_JOBS


def test_footer_schema_equals_inferred_schema(spark, transcripts, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("index_footer"))
    st = index_build.build_index(spark, transcripts, root, n_slices=1, partitions=4)
    update.delete_by_query(spark, st, "turn_idx = 1")
    snap = st.snapshot()
    sid = snap.segments[0].segment_id
    paths = [
        st.docs_path(sid), st.postings_path(sid), st.term_stats_path(sid),
        st.dv_stats_path(sid), *snap.delete_files,
    ]
    for p in paths:
        assert segment_store.footer_schema(p) == spark.read.parquet(p).schema, p
