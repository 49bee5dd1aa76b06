#!/usr/bin/env python
"""Benchmark harness (driver contract + BASELINE.json north_rule evidence).

Default mode — one JSON line on stdout:
  * index build over a deterministic synthetic transcript corpus sized to the
    scale factor (2M turns/sf => sf0.1 = 200k turns): indexed turns/sec,
  * a BM25 query suite over the built segment store: perfbench's query mix
    (`perfbench.inputs.query_mix`), whose terms are picked by measured df
    from the corpus's own `w<rank>` vocabulary, so every query matches.
    Per-query latency + p50, and each query's Spark job count; a query that
    returns fewer than k rows fails the run.

`--scaling` mode — the north rule's two-cluster-size criterion evidenced on
one machine: the same build job at two parallelism levels (local[N] vs
local[4N], default N=1) on the same input; reports throughput at both and
scaling efficiency = (thr_4N / thr_N) / 4, appended to BENCH.md.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS
(default 32), SPARK_GRAFT_BENCH_TURNS (override corpus size).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import SparkSession  # noqa: E402

from elasticsearch_spark.operators import index_build, topk  # noqa: E402
from elasticsearch_spark.queryset import DEFAULT_K  # noqa: E402
from elasticsearch_spark.session import spark_jobs  # noqa: E402
from elasticsearch_spark.sources.transcripts import generate_transcripts  # noqa: E402
from perfbench import inputs  # noqa: E402

QUERY_SEED = 7  # seed of the query mix drawn from the corpus vocabulary

TURNS_PER_SF = 2_000_000  # sf0.1 -> 200k synthetic turns


def _sf_from_dir(sf_dir: str) -> float:
    name = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(name.replace("sf", ""))
    except ValueError:
        return 0.1


def _spark(master: str, shuffle: int) -> SparkSession:
    from elasticsearch_spark.session import _tune_worker_malloc

    _tune_worker_malloc()  # see session.py: avoid mmap fault cost in workers
    return (
        SparkSession.builder.appName("es-spark-bench")
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", str(1 << 30))
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", str(1 << 30))
        .getOrCreate()
    )


def _corpus(spark: SparkSession, n_turns: int, partitions: int) -> str:
    """Materialize the deterministic corpus once (untimed input, like a
    pre-existing Iceberg table); reused across bench invocations."""
    path = os.path.join(tempfile.gettempdir(), f"es_bench_corpus_{n_turns}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        generate_transcripts(spark, n_turns, partitions=partitions).write.mode(
            "overwrite"
        ).parquet(path)
    return path


def _warmup(spark: SparkSession):
    """Untimed tiny build+query: pays JVM JIT / codegen / Arrow warmup once so
    timed numbers reflect steady-state (first-job warmup is ~45s on 32 cores)."""
    root = tempfile.mkdtemp(prefix="es_warm_")
    try:
        df = generate_transcripts(spark, 2000, partitions=8)
        store = index_build.build_index(spark, df, root, n_slices=1, partitions=8)
        topk.search_indexed(spark, store, {"match": {"text": "w1 w2"}}, k=5).collect()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _build(spark: SparkSession, n_turns: int, root: str, partitions: int):
    df = spark.read.parquet(_corpus(spark, n_turns, partitions))
    t0 = time.perf_counter()
    store = index_build.build_index(spark, df, root, n_slices=1, partitions=partitions)
    return store, time.perf_counter() - t0


# this sandbox VM's throughput swings 2-6x minute-to-minute with host
# contention (documented in BENCH.md §2; round-3 recorded 37.9s vs 6.1s for
# IDENTICAL code in different windows). Two defenses: best-of-N trials, and a
# host-calibration microbench recorded in the output JSON so the artifact is
# self-interpreting — a build number whose calibration is out-of-band is
# host noise, not code.
BUILD_TRIALS = int(os.environ.get("SPARK_GRAFT_BUILD_TRIALS", "2"))
QUERY_TRIALS = int(os.environ.get("SPARK_GRAFT_QUERY_TRIALS", "3"))
MAX_BUILD_TRIALS = int(os.environ.get("SPARK_GRAFT_MAX_BUILD_TRIALS", "5"))
CALIB_BAND = float(os.environ.get("SPARK_GRAFT_CALIB_BAND", "1.35"))


def _calibrate() -> float:
    """Fixed-size host-health probe (~1-2s healthy): one deterministic numpy
    sort (CPU + memory bandwidth) plus a first-touch page-fault sweep (the
    mmap-fault cliff BENCH.md §2 documents). Returns wall seconds; a degraded
    window inflates this by the same factor it inflates the Spark build."""
    import numpy as np

    rng = np.random.default_rng(0)
    arr = rng.random(12_000_000)
    t0 = time.perf_counter()
    np.sort(arr)
    buf = np.zeros(64_000_000, dtype=np.uint8)  # 64MB first-touch sweep
    buf[::4096] = 1
    del buf
    return time.perf_counter() - t0


def _timed_search(spark: SparkSession, store, q: dict) -> tuple[list, float]:
    """One mix query's result rows and wall seconds."""
    t0 = time.perf_counter()
    rows = topk.search_indexed(spark, store, q["query"], k=DEFAULT_K).collect()
    return rows, time.perf_counter() - t0


def run_default() -> dict:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = _sf_from_dir(sf_dir)
    n_turns = int(os.environ.get("SPARK_GRAFT_BENCH_TURNS", str(int(TURNS_PER_SF * sf))))
    spark = _spark(f"local[{cpus}]", cpus)
    root = tempfile.mkdtemp(prefix="es_bench_idx_")
    try:
        _warmup(spark)
        # calibrated build trials: pair every timed build with a host probe;
        # keep trying (up to MAX_BUILD_TRIALS) until at least one trial ran in
        # a window whose calibration is within CALIB_BAND of the best probe
        # seen — so a degraded-host artifact is visibly degraded, not ambiguous
        trials: list[dict] = []
        store = None
        for i in range(MAX_BUILD_TRIALS):
            calib = _calibrate()
            r_i = root if store is None else tempfile.mkdtemp(prefix="es_bench_idx_")
            try:
                st, s_i = _build(spark, n_turns, r_i, cpus)
            finally:
                if store is not None:
                    shutil.rmtree(r_i, ignore_errors=True)
            if store is None:
                store = st
            trials.append({"calib_sec": round(calib, 3), "build_sec": round(s_i, 3)})
            calibs = [t["calib_sec"] for t in trials]
            stable = max(calibs) <= CALIB_BAND * min(calibs)
            if i + 1 >= BUILD_TRIALS and stable:
                break  # enough trials, all in one host regime
            time.sleep(2.0)  # let a transient contention window pass
        best_calib = min(t["calib_sec"] for t in trials)
        in_band = [t for t in trials if t["calib_sec"] <= CALIB_BAND * best_calib]
        build_s = min(t["build_sec"] for t in in_band)
        calibration = {
            "probe": "numpy sort 12M f64 + 64MB first-touch sweep",
            "band": CALIB_BAND,
            "best_calib_sec": best_calib,
            "calib_spread": round(max(c["calib_sec"] for c in trials) / best_calib, 2),
            "trials": trials,
            "build_from_in_band_trials": len(in_band),
        }
        q_times: dict[str, float] = {}
        q_jobs: dict[str, int] = {}
        mix = inputs.query_mix(inputs.term_dfs(_corpus(spark, n_turns, cpus)), QUERY_SEED)
        for q in mix:
            # best-of-trials steady state (first run pays postings-file open)
            best = float("inf")
            for _ in range(QUERY_TRIALS):
                (rows, sec), jobs = spark_jobs(spark, lambda: _timed_search(spark, store, q))
                best = min(best, sec)
                if len(rows) < DEFAULT_K:
                    raise RuntimeError(
                        f"bench query {q['name']} returned {len(rows)} < {DEFAULT_K} rows"
                    )
            q_times[q["name"]] = round(best, 4)
            q_jobs[q["name"]] = jobs
        calibration["query_window_calib_sec"] = round(_calibrate(), 3)
        lat = sorted(q_times.values())
        p50 = lat[len(lat) // 2]
        total = round(build_s + sum(q_times.values()), 3)
        return {
            "metric": "index-build + BM25 top-10 query suite wall time",
            "value": total,
            "unit": "sec",
            "queries": q_times,
            "query_spark_jobs": q_jobs,
            "sf": sf,
            "n_turns": n_turns,
            "build_sec": round(build_s, 3),
            "indexed_turns_per_sec": round(n_turns / build_s, 1),
            "query_p50_sec": round(p50, 4),
            "calibration": calibration,
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


def run_scaling(n_base: int = 1, trials: int = 3) -> dict:
    """Same job, local[N] vs local[4N]: throughput at both + efficiency.

    Sandbox caveats (documented in BENCH.md): this single VM's memory
    bandwidth saturates at ~8 parallel memory-heavy workers (a numpy-sort
    microbenchmark ANTI-scales: 1 worker 4.1 sorts/s aggregate, 8 workers
    1.5), so N=1 vs 4N=4 is the largest pair whose scaling reflects the job
    shape rather than the host's memory bus; host load also varies ~2x
    minute-to-minute, hence best-of-`trials` per level. Uses a corpus large
    enough (2M turns) that per-core work dominates the ~12s fixed per-job
    scheduling overhead, as it would on a real cluster.
    """
    n_turns = int(os.environ.get("SPARK_GRAFT_SCALING_TURNS", "2000000"))
    levels = (n_base, 4 * n_base)
    # materialize the shared input corpus with full parallelism (untimed)
    gen = _spark("local[32]", 32)
    try:
        _corpus(gen, n_turns, 32)
    finally:
        gen.stop()
    # round 5: the efficiency is a ratio of two wall times measured in
    # DIFFERENT host windows, so the same calibration-probe discipline the
    # default suite uses (BENCH.md §6a) applies per trial here: probe the
    # host right before each timed build, keep only trials whose probe is
    # within CALIB_BAND of the best probe seen, and take the best in-band
    # build per level. A degraded window then widens a trial's probe and
    # excludes it instead of silently skewing the ratio (best-of-minima over
    # unmatched windows is noise-dominated: the host swings ~2x
    # minute-to-minute).
    trial_rows: list[dict] = []
    for trial in range(trials):
        for cores in levels:
            # tasks sized to memory, not 1:1 with cores: 4 waves of smaller
            # sorts per core keeps the (term,bk) sort in-memory and lets the
            # scheduler balance — same rule a real cluster would use
            spark = _spark(f"local[{cores}]", 4 * cores)
            root = tempfile.mkdtemp(prefix=f"es_scale_{cores}_")
            try:
                _warmup(spark)
                calib = _calibrate()
                _, secs = _build(spark, n_turns, root, 4 * cores)
                trial_rows.append(
                    {"cores": cores, "calib_sec": round(calib, 3),
                     "build_sec": round(secs, 2)}
                )
            finally:
                shutil.rmtree(root, ignore_errors=True)
                spark.stop()
    best_calib = min(t["calib_sec"] for t in trial_rows)
    in_band = [t for t in trial_rows if t["calib_sec"] <= best_calib * CALIB_BAND]
    # every level must keep at least one trial; widen to all trials if the
    # band starves a level (then the band did not separate signal from noise)
    if any(not [t for t in in_band if t["cores"] == c] for c in levels):
        in_band = trial_rows
    best = {
        c: min(t["build_sec"] for t in in_band if t["cores"] == c)
        for c in levels
    }
    out: dict = {
        "n_turns": n_turns,
        "levels": {
            str(c): {
                "build_sec": round(best[c], 2),
                "turns_per_sec": round(n_turns / best[c], 1),
            }
            for c in levels
        },
        "calibration": {
            "band": CALIB_BAND,
            "best_calib_sec": best_calib,
            "trials": trial_rows,
            "in_band_trials": len(in_band),
        },
    }
    thr_n = out["levels"][str(levels[0])]["turns_per_sec"]
    thr_4n = out["levels"][str(levels[1])]["turns_per_sec"]
    out["scaling_efficiency"] = round((thr_4n / thr_n) / 4.0, 3)
    return out


if __name__ == "__main__":
    if "--scaling" in sys.argv:
        res = run_scaling()
        print(json.dumps(res))
    else:
        print(json.dumps(run_default()))
