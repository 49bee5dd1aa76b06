"""The workloads: set-up, the timed closed loop, and the untimed checks.

Every workload generates its inputs (untimed), sets up SETUPS times (an index
build each; setup_s is the median, and the first build in a fresh JVM is the
slow one), runs its timed loop until --seconds have passed (ending only after
a whole group of operations), then checks every output.
"""

from __future__ import annotations

import copy
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

import check
import inputs
from elasticsearch_spark.operators import index_build, merge, topk, update
from layers import layer_metrics
from spans import Tracer

SETUPS = 3  # set-ups per run; setup_s is their median
PRE_ROUNDS = 1  # untimed update rounds before the timed ones; each adds a segment
# and a delete file, and costs ~6.5 s of run time on a 4-core host
ROUND_QUERY = 1  # the query of every update round: mid_or3, an OR of three terms
UPDATE_SCHEMA = "conv_id string, turn_idx int, role string, text string"


def log(*parts) -> None:
    print(*parts, file=sys.stderr, flush=True)


class Bench:
    """One run: the session, its timings, outcomes and (traced) spans."""

    def __init__(self, spark, cores: int, work: Path, seed: int, seconds: float, traced: bool):
        self.spark, self.cores, self.work = spark, cores, work
        self.seed, self.seconds, self.traced = seed, seconds, traced
        self.tracer = Tracer(spark.sparkContext, traced)
        self.oracle = check.Oracle()
        self.op_s: list[float] = []  # one sample per timed operation
        self.attempted = 0
        self.failed = 0
        self.samples: list[tuple[int, int]] = []  # (live segments, delete files)
        self.t_start = time.perf_counter()
        self.details: dict = {"timeline_s": {}}

    def mark(self, event: str) -> None:
        self.details["timeline_s"][event] = round(time.perf_counter() - self.t_start, 2)

    def warm_up(self, store, q: dict) -> None:
        """Untimed: one search, so the query path's one-time codegen and Python
        worker start land outside the loop (the first set-up warmed the build
        path)."""
        topk.search_indexed(self.spark, store, q["query"], k=inputs.K).collect()
        self.mark("warm")

    def setup(self, fn, trace_warm: bool = False):
        """Run `fn(dir)` SETUPS times into fresh dirs; keep the last result.
        With `trace_warm`, the set-ups after the first (cold) one are traced."""
        times, state = [], None
        for i in range(SETUPS):
            if trace_warm and i == 1:
                self.tracer.install()
            d = self.work / f"setup{i}"
            t0 = time.perf_counter()
            state = fn(d)
            times.append(time.perf_counter() - t0)
            if i + 1 < SETUPS:
                shutil.rmtree(d)
        self.details["setup_runs_s"] = times
        self.mark("setup")
        return statistics.median(times), state

    def timed(self, group: int = 1, prepare=None):
        """Yield the operation number until --seconds have passed, stopping
        only after a whole group of `group` operations, so the sampled set is
        the same however fast the engine is. Each pass is one operation, timed
        around its `op` span; `prepare(n)` runs untimed before operation n."""
        t_end = time.perf_counter() + self.seconds
        n = 0
        while n == 0 or n % group or time.perf_counter() < t_end:
            if prepare is not None:
                prepare(n)
            with self.tracer.span("op"):
                t0 = time.perf_counter()
                yield n
                self.op_s.append(time.perf_counter() - t0)
            n += 1
        self.mark("loop")

    def outcome(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            log("WRONG:", what)

    def sample_store(self, store, snapshot_id=None) -> None:
        """Record the shape of the snapshot a search ran over."""
        snap = store.snapshot(snapshot_id)
        self.samples.append((len(snap.segments), len(snap.delete_files)))

    def search(self, store, q: dict, snapshot_id=None) -> list[tuple]:
        """One search as a user sees it: `search_indexed` plus its collect."""
        with self.tracer.span("search") as s:
            frame = topk.search_indexed(
                self.spark, store, q["query"], k=inputs.K, snapshot_id=snapshot_id
            )
            with self.tracer.span("topk.fetch"):
                rows = [tuple(r) for r in frame.collect()]
            if s is not None:
                s.attrs["hits"] = len(rows)
        self.sample_store(store, snapshot_id)
        return rows

    def check_hits(self, q: dict, rows: list, what: str) -> None:
        want = self.oracle.search(q["name"], q["query"], inputs.K)
        self.outcome(check.same_hits(rows, want, inputs.K), f"{what} {q['name']}: {rows} != {want}")

    def result(self, setup_s: float, store, input_bytes: int) -> dict:
        self.mark("checked")
        self.details.update(ops=len(self.op_s), op_s=[round(x, 4) for x in self.op_s])
        live = live_bytes(store)
        if self.traced:
            metrics = layer_metrics(self, live, input_bytes)
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "op_p50_s": (statistics.median(self.op_s), "s"),
                "store_bytes_per_input_byte": (sum(live.values()) / input_bytes, "ratio"),
            }
        log(json.dumps(self.details, default=str))
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }


def live_bytes(store) -> dict[str, int]:
    """Bytes of what the current snapshot references, by store component."""
    out = {"docs": 0, "postings": 0, "term_stats": 0, "dv_stats": 0, "deletes": 0}
    snap = store.snapshot()
    for seg in snap.segments:
        sid = seg.segment_id
        out["docs"] += _tree_bytes(store.docs_path(sid))
        out["postings"] += _tree_bytes(store.postings_path(sid))
        out["term_stats"] += _tree_bytes(store.term_stats_path(sid))
        out["dv_stats"] += _tree_bytes(store.dv_stats_path(sid))
    for f in snap.delete_files:
        out["deletes"] += _tree_bytes(f)
    return out


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(base, f)) for base, _, files in os.walk(path) for f in files
    )


def make_inputs(b: Bench) -> tuple[str, list[tuple[str, int]]]:
    """The seeded corpus parquet and its measured vocabulary (untimed)."""
    corpus = str(b.work / "corpus")
    inputs.write_corpus(b.spark, corpus, b.seed)
    b.mark("inputs")
    return corpus, inputs.term_dfs(corpus)


def build_store(b: Bench, corpus: str, d: Path):
    """The set-up: index the corpus into a fresh store."""
    return index_build.build_index(b.spark, b.spark.read.parquet(corpus), str(d / "store"))


# ----------------------------------------------------------------- search
def run_search(b: Bench) -> dict:
    """Closed-loop query stream over a single-segment store built in set-up.

    The loop runs whole mixes only, at least one. Traced, the warm set-ups'
    full-corpus builds give the index_build and segment_store layers.
    """
    corpus, dfs = make_inputs(b)
    mix = inputs.query_mix(dfs, b.seed)
    b.details["queries"] = mix
    setup_s, store = b.setup(lambda d: build_store(b, corpus, d), trace_warm=True)
    b.warm_up(store, mix[0])
    got = []
    for n in b.timed(group=len(mix)):
        q = mix[n % len(mix)]
        got.append((q, b.search(store, q)))
    b.tracer.uninstall()
    b.oracle.use("corpus", check.StoreModel(inputs.read_table(corpus)))
    for q, rows in got:
        b.check_hits(q, rows, "search")
    return b.result(setup_s, store, inputs.parquet_bytes(corpus))


# ----------------------------------------------------------------- update
def run_update(b: Bench) -> dict:
    """Update rounds beside reads on a store with several segments, then compaction.

    After set-up, PRE_ROUNDS untimed rounds leave the store with
    PRE_ROUNDS + 1 segments and PRE_ROUNDS delete files; that state is saved.
    A timed round: one `apply_updates` batch (~1% of turns) with both images
    requested and collected, then the round query at the new snapshot and at
    `before_snapshot` (time travel). Every timed round starts from the saved
    state, so each one does the same work. The last round's store is then
    compacted and searched once more.
    """
    corpus, dfs = make_inputs(b)
    mix = inputs.query_mix(dfs, b.seed)
    q = mix[ROUND_QUERY]
    b.details["queries"] = mix
    table = inputs.read_table(corpus)
    batches = inputs.UpdateBatches(table, dfs, b.seed)
    setup_s, store = b.setup(lambda d: build_store(b, corpus, d))
    first_seg = store.snapshot().segments[0].segment_id

    def round_(r: int):
        batch = batches.batch(r)
        res = update.apply_updates(
            b.spark, store, b.spark.createDataFrame(batch, UPDATE_SCHEMA),
            req_old_source=True, req_new_source=True, max_docs_return=len(batch),
        )
        with b.tracer.span("update.images"):
            old, new = res.old_source.collect(), res.new_source.collect()
        new_seg = store.snapshot(res.after_snapshot).segments[-1].segment_id
        return batch, res, old, new, new_seg

    pre = [round_(r) for r in range(PRE_ROUNDS)]
    b.warm_up(store, q)
    saved = b.work / "saved_store"
    shutil.copytree(store.root, saved)

    def restore(n: int) -> None:
        if n:
            shutil.rmtree(store.root)
            shutil.copytree(saved, store.root)

    b.tracer.install()
    rounds = []
    for n in b.timed(prepare=restore):
        done = round_(PRE_ROUNDS + n)
        res = done[1]
        cur = b.search(store, q, snapshot_id=res.after_snapshot)
        past = b.search(store, q, snapshot_id=res.before_snapshot)
        rounds.append((done, cur, past))
    pre_compact = store.current_snapshot_id()
    t0 = time.perf_counter()
    merges = merge.compact(b.spark, store)
    b.details.update(compact_s=time.perf_counter() - t0, merges=merges, rounds=len(rounds))
    final = b.search(store, q)
    b.tracer.uninstall()
    b.mark("compact")

    # untimed: replay every round on the expected store
    def check_round(model, seg_of, what, batch, res, old, new, new_seg) -> None:
        b.outcome(res.n_updated == len(batch) and res.n_inserted == 0, f"{what}: counts")
        idx = sorted(zip(batch["conv_id"], batch["turn_idx"]))
        before = check.rows_of(model.live().loc[idx], inputs.DOC_COLS)
        seg_of[new_seg] = model.update(batch)
        b.outcome(check.same_rows(old, before), f"{what}: old_source")
        after = check.rows_of(model.live().loc[idx], inputs.DOC_COLS)
        b.outcome(check.same_rows(new, after), f"{what}: new_source")

    saved_model = check.StoreModel(table)
    saved_seg_of = {first_seg: 0}
    for r, done in enumerate(pre):
        check_round(saved_model, saved_seg_of, f"pre-round {r}", *done)
    for r, (done, cur, past) in enumerate(rounds):
        b.oracle.use("saved", saved_model)
        b.check_hits(q, past, f"round {r}: time travel")
        model, seg_of = copy.deepcopy(saved_model), dict(saved_seg_of)
        check_round(model, seg_of, f"round {r}", *done)
        b.oracle.use(f"round {r}", model)
        b.check_hits(q, cur, f"round {r}: current")
    # the store holds the last round's state: model and seg_of are that round's
    for sid in store.history():
        snap = store.snapshot(sid)
        if sid > pre_compact and snap.operation == "merge":
            into = model.merge([seg_of[s] for s in snap.summary["merged"]])
            seg_of[snap.summary["into"]] = into
    b.oracle.use("compacted", model)
    b.check_hits(q, final, "after compact")
    back = update.read_snapshot_table(b.spark, store).orderBy("conv_id", "turn_idx").collect()
    b.outcome(
        check.same_rows(back, check.rows_of(model.live(), inputs.DOC_COLS)),
        "read-back after compact",
    )
    return b.result(setup_s, store, inputs.parquet_bytes(corpus))


WORKLOADS = {"search": run_search, "update": run_update}
