"""Per-layer metrics of a traced run, computed from its spans.

Times are seconds per call of the layer's entry point (per search for
`topk`), Spark counts come from the status store through each span's job
group, and byte ratios walk the segment dirs the final snapshot references.
A layer a workload leaves idle reports 0.
"""

from __future__ import annotations

import statistics

from spans import children, inclusive, self_time, subtree


def layer_metrics(b, live: dict[str, int], input_bytes: int) -> dict[str, tuple[float, str]]:
    spans = b.tracer.spans
    spark = b.tracer.spark_by_span()
    kids = children(spans)

    def named(name, within=None):
        pool = spans if within is None else [x for w in within for x in subtree(w, kids)]
        return [s for s in pool if s.name == name]

    def per(values, n):
        return sum(values) / n if n else 0.0

    def incl(ss, key):
        return sum(inclusive(s, kids, spark)[key] for s in ss)

    m: dict[str, tuple[float, str]] = {}

    # operators.topk: per search (search_indexed + collect of its frame)
    searches = named("search")
    n = len(searches)
    for key, name in [
        ("search_indexed_s", "topk.search_indexed"),
        ("fetch_s", "topk.fetch"),
        ("read_segment_docs_s", "topk.read_segment_docs"),
        ("lower_query_s", "topk.lower_query"),
        ("term_stats_lookup_s", "topk.term_stats_lookup"),
        ("read_segment_postings_s", "topk.read_segment_postings"),
    ]:
        m[f"topk.{key}"] = (per([s.dur for s in named(name, searches)], n), "s")
    m["topk.kernel_s"] = (
        per([self_time(s, kids) for s in named("topk.search_indexed", searches)], n),
        "s",
    )
    m["topk.spark_jobs_per_query"] = (per([incl(searches, "jobs")], n), "count")
    m["topk.tasks_per_query"] = (per([incl(searches, "tasks")], n), "count")
    m["topk.executor_run_s_per_query"] = (per([incl(searches, "executor_run_s")], n), "s")
    hits = sum(s.attrs.get("hits", 0) for s in searches)
    m["topk.input_rows_per_hit"] = (per([incl(searches, "input_records")], hits), "ratio")

    # operators.index_build: per build_segment call
    builds = named("index_build.build_segment")
    nb = len(builds)
    busy = sum(s.dur for s in builds) * b.cores
    m["index_build.build_segment_s"] = (per([s.dur for s in builds], nb), "s")
    m["index_build.spark_jobs"] = (per([incl(builds, "jobs")], nb), "count")
    m["index_build.tasks"] = (per([incl(builds, "tasks")], nb), "count")
    m["index_build.executor_run_s"] = (per([incl(builds, "executor_run_s")], nb), "s")
    m["index_build.core_busy_share"] = (per([incl(builds, "executor_run_s")], busy), "share")
    m["index_build.shuffle_write_bytes"] = (per([incl(builds, "shuffle_write_bytes")], nb), "bytes")
    skew = []
    for s in builds:
        rows = s.attrs["ret"].metrics.get("partition_rows") or []
        if rows and sum(rows):
            skew.append(max(rows) / (sum(rows) / len(rows)))
    m["index_build.partition_rows_max_over_mean"] = (per(skew, len(skew)), "ratio")

    # sources.segment_store: the final snapshot's bytes, sampled shape, commits
    for comp in ("docs", "postings", "term_stats", "dv_stats"):
        m[f"segment_store.{comp}_bytes_per_input_byte"] = (live[comp] / input_bytes, "ratio")
    m["segment_store.live_segments"] = (per([x for x, _ in b.samples], len(b.samples)), "count")
    m["segment_store.delete_files"] = (per([y for _, y in b.samples], len(b.samples)), "count")
    commits = named("segment_store.commit")
    m["segment_store.commit_s"] = (per([s.dur for s in commits], len(commits)), "s")

    # operators.update: per apply_updates call; images = collecting both frames
    ups = named("update.apply_updates")
    nu = len(ups)
    m["update.apply_updates_s"] = (per([s.dur for s in ups], nu), "s")
    m["update.spark_jobs"] = (per([incl(ups, "jobs")], nu), "count")
    m["update.rows_updated"] = (per([s.attrs["ret"].n_updated for s in ups], nu), "count")
    m["update.read_snapshot_table_s"] = (
        per([s.dur for s in named("update.read_snapshot_table", ups)], nu),
        "s",
    )
    m["update.images_s"] = (per([s.dur for s in named("update.images")], nu), "s")

    # operators.merge: per compact call
    compacts = named("merge.compact")
    nc = len(compacts)
    m["merge.compact_s"] = (per([s.dur for s in compacts], nc), "s")
    m["merge.merges"] = (per([s.attrs["ret"] for s in compacts], nc), "count")
    rewritten = sum(s.attrs["ret"][0].tier_bytes for s in named("merge.merge_segments"))
    m["merge.rewritten_bytes_per_live_byte"] = (
        rewritten / sum(live.values()) if nc else 0.0,
        "ratio",
    )

    # tracing overhead: compare with op_p50_s of an untraced run
    ops = named("op")
    m["trace.op_p50_s"] = (statistics.median(s.dur for s in ops), "s")
    m["trace.spans_per_op"] = (per([len(subtree(s, kids)) for s in ops], len(ops)), "count")
    return m
