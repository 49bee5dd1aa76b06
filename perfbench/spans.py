"""Outside-in span recording for the traced run.

Spans are recorded around the engine's module-level functions by replacing
the names the engine resolves at call time. `update.py` and `merge.py` bind
`build_segment` (and `update.py` binds `read_segment_docs`) with
`from ... import`, so those bindings are wrapped too. Each span sets its own
Spark job group, so Spark's status store attributes every job, stage, task
and shuffle byte to the innermost span that ran it.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import time
from dataclasses import dataclass, field

from elasticsearch_spark.operators import index_build, merge, topk, update
from elasticsearch_spark.sources.segment_store import SegmentStore

# (owner, attribute, span name): every binding the engine calls through
WRAPS = [
    (topk, "search_indexed", "topk.search_indexed"),
    (topk, "read_segment_docs", "topk.read_segment_docs"),
    (update, "read_segment_docs", "topk.read_segment_docs"),
    (topk, "lower_query", "topk.lower_query"),
    (topk, "term_stats_lookup", "topk.term_stats_lookup"),
    (topk, "read_segment_postings", "topk.read_segment_postings"),
    (index_build, "build_segment", "index_build.build_segment"),
    (update, "build_segment", "index_build.build_segment"),
    (merge, "build_segment", "index_build.build_segment"),
    (update, "apply_updates", "update.apply_updates"),
    (update, "read_snapshot_table", "update.read_snapshot_table"),
    (merge, "compact", "merge.compact"),
    (merge, "merge_segments", "merge.merge_segments"),
    (SegmentStore, "commit", "segment_store.commit"),
]


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    t0: float
    t1: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """In-memory span tree; inactive tracers record nothing and cost nothing."""

    def __init__(self, sc, active: bool):
        self.sc = sc
        self.active = active
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._saved: list[tuple] = []

    # -------------------------------------------------------------- spans
    def _group(self, span: Span | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", f"pb-{span.sid}" if span else None)

    @contextlib.contextmanager
    def span(self, name: str):
        """Record a span around the block; yields it (None when inactive)."""
        if not self.active:
            yield None
            return
        parent = self._stack[-1].sid if self._stack else None
        s = Span(next(self._ids), name, parent, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self._group(s)
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            self._stack.pop()
            self._group(self._stack[-1] if self._stack else None)

    # ----------------------------------------------------------- wrapping
    def install(self) -> None:
        if not self.active:
            return
        for owner, attr, name in WRAPS:
            orig = getattr(owner, attr)
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, self._wrapped(orig, name))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()

    def _wrapped(self, fn, name: str):
        @functools.wraps(fn)
        def call(*args, **kwargs):
            with self.span(name) as s:
                ret = fn(*args, **kwargs)
                if s is not None:
                    s.attrs["ret"] = ret
                return ret

        return call

    # ------------------------------------------------------ spark accounting
    def spark_by_span(self) -> dict[int, dict]:
        """Per span id (self, not inclusive): jobs, tasks, executor run
        seconds, input records and shuffle write bytes, from Spark's status
        store (job group pb-<span id>)."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        status = jsc.statusStore()
        out: dict[int, dict] = {}
        stage_owner: dict[int, int] = {}
        for j in sorted(_seq(status.jobsList(None)), key=lambda j: j.jobId()):
            g = j.jobGroup()
            sid = None
            if g.isDefined() and g.get().startswith("pb-"):
                sid = int(g.get()[3:])
                out.setdefault(sid, _zero())["jobs"] += 1
            for stage_id in _seq(j.stageIds()):  # a reused stage ran in its first job
                stage_owner.setdefault(stage_id, sid)
        gw = self.sc._gateway
        no_quantiles = gw.new_array(gw.jvm.double, 0)
        for st in _seq(status.stageList(None, False, False, no_quantiles, None)):
            sid = stage_owner.get(st.stageId())
            if sid is None:
                continue
            acc = out[sid]
            acc["tasks"] += st.numCompleteTasks()
            acc["executor_run_s"] += st.executorRunTime() / 1000.0
            acc["input_records"] += st.inputRecords()
            acc["shuffle_write_bytes"] += st.shuffleWriteBytes()
        return out


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


def _zero() -> dict:
    return {"jobs": 0, "tasks": 0, "executor_run_s": 0.0, "input_records": 0, "shuffle_write_bytes": 0}


# ------------------------------------------------------------ span algebra
def children(spans: list[Span]) -> dict[int | None, list[Span]]:
    out: dict[int | None, list[Span]] = {}
    for s in spans:
        out.setdefault(s.parent, []).append(s)
    return out


def subtree(s: Span, kids: dict) -> list[Span]:
    out, todo = [], [s]
    while todo:
        x = todo.pop()
        out.append(x)
        todo.extend(kids.get(x.sid, []))
    return out


def self_time(s: Span, kids: dict) -> float:
    """Span duration minus the part of it its direct children cover."""
    covered, end = 0.0, s.t0
    for c in sorted(kids.get(s.sid, []), key=lambda c: c.t0):
        lo, hi = max(c.t0, end), min(c.t1, s.t1)
        if hi > lo:
            covered += hi - lo
            end = hi
    return s.dur - covered


def inclusive(s: Span, kids: dict, spark: dict[int, dict]) -> dict:
    acc = _zero()
    for x in subtree(s, kids):
        for k, v in spark.get(x.sid, {}).items():
            acc[k] += v
    return acc
