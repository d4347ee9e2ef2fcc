"""The bench protocol, held once for `bench.py` and the timing tools.

Steps: warm every testdata table and the Python worker pool
(`warm_up`); force a workload through a `noop` sink, timing only the
write, and release what the execution materialized (`run_workload`);
report `[min, median, max]` over `SPARK_GRAFT_BENCH_RUNS` timed runs
after `SPARK_GRAFT_BENCH_WARMUP` untimed ones (`spread`). Each
execution's caches and checkpoints are released when it ends, so
warm-up carries JIT/codegen/page-cache state only, never materialized
data, and no other query's caches are touched.

Each execution's jobs carry a job tag, and `stage_table` reads that
tag's per-stage figures from Spark's in-process status store, so a
profile needs no event log, no second execution and no `spark.stop()`.
A tag, not a job group: a stream's micro-batch thread inherits the tag
but replaces the job group with the stream's run id, so a group would
miss every micro-batch job of the streaming workloads.
"""

from __future__ import annotations

import glob
import os
import re
import statistics
import sys
import time

from py4j.protocol import Py4JJavaError

from .operators.materialize import materialize_scope
from .sources.catalog import load_table
from .workloads import load_all

# Every testdata table: reading each once charges its one-time costs
# (parquet footers, page cache, scan codegen) to no workload, instead of
# to whichever workload reads it first alphabetically.
WARM_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)
# Compile the dedup-family codegen and spawn the reusable Python worker
# pool, which otherwise charges ~2-4 s of spin-up to the first pandas-UDF
# workload.
WARM_WORKLOADS = ("dedup_ngram_jaccard", "sim_neardup_pairs")


def scale_factor(sf_dir: str) -> float | None:
    """The scale factor a testdata directory is named for (`.../sf0.1`)."""
    m = re.search(r"sf([0-9.]+)$", sf_dir.rstrip("/"))
    return float(m.group(1).rstrip(".")) if m else None


def run_counts() -> tuple[int, int]:
    """(untimed warm-up runs, timed runs) per workload, from the env."""
    n_warmup = int(os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "1"))
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    return n_warmup, n_runs


def warm_up(spark, sf_dir: str) -> None:
    """Read every table at `sf_dir`, then run `WARM_WORKLOADS` at the
    smallest sibling scale (so the warm-up stays cheap and never hands
    data to a timed run)."""
    for table in WARM_TABLES:
        try:
            # through the catalog loader: events needs the nanos/micros
            # timestamp normalization a raw read would throw on
            load_table(spark, sf_dir, table).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception:
            pass
    # Derived from the sf_dir root, not hard-coded: a missing path would
    # silently skip the worker-pool warm-up.
    siblings = sorted(
        glob.glob(os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf*")),
        key=lambda p: scale_factor(p) or float("inf"),
    )
    warm_dir = siblings[0] if siblings else sf_dir
    workloads = load_all()
    for name in WARM_WORKLOADS:
        try:
            run_workload(spark, workloads[name], warm_dir)
        except Exception as exc:
            print(f"warm-up {name} skipped: {exc}", file=sys.stderr)


def run_workload(spark, w, sf_dir: str, tag: str | None = None) -> float:
    """Execute workload `w` once through a `noop` sink (every column
    computed on the executors, nothing collected) and return the seconds
    of that alone. Its jobs carry job tag `tag` (default: the workload's name)
    for `stage_table`.

    The run is a `materialize_scope`: what it cached or checkpointed is
    released after the write, outside the timed region, also on failure.
    A kept intermediate would both steal unified memory from later
    shuffles and hand data to the next run."""
    sc = spark.sparkContext
    tag = tag or w.name
    sc.addJobTag(tag)
    try:
        with materialize_scope():
            t0 = time.perf_counter()
            w.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0
    finally:
        sc.removeJobTag(tag)


def spread(spark, w, sf_dir: str) -> tuple[list[float], str]:
    """`[min, median, max]` seconds of `w` over the timed runs of
    `run_counts()`, and the job tag of the median run (the lower middle
    one for an even run count)."""
    n_warmup, n_runs = run_counts()
    for _ in range(n_warmup):
        run_workload(spark, w, sf_dir)
    runs = sorted(
        (run_workload(spark, w, sf_dir, f"{w.name}#{i}"), f"{w.name}#{i}")
        for i in range(n_runs)
    )
    med = statistics.median(t for t, _ in runs)
    return (
        [round(runs[0][0], 3), round(med, 3), round(runs[-1][0], 3)],
        runs[(n_runs - 1) // 2][1],
    )


def stage_table(spark, tag: str) -> list[dict]:
    """Per-stage figures of every job tagged `tag`, most task-seconds
    first. Only stages that ran are listed: a stage skipped because its
    shuffle output was reused did no work.

    Task-seconds and the max task are executor run time (the
    `executorRunTime` task metric), so the max never exceeds the sum;
    sizes are MB of 10^6 bytes."""
    sc = spark.sparkContext
    # the status store is fed by the listener bus, asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    top = sc._gateway.new_array(sc._jvm.double, 1)
    top[0] = 1.0
    seen: set[int] = set()
    rows = []
    jobs = store.jobsList(None).iterator()
    while jobs.hasNext():
        job = jobs.next()
        if not job.jobTags().contains(tag):
            continue
        info = tracker.getJobInfo(job.jobId())
        for sid in info.stageIds if info else ():
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue  # evicted from the store's retained stages
            if st.status().toString() != "COMPLETE":
                continue
            summary = store.taskSummary(sid, st.attemptId(), top)
            max_ms = (
                summary.get().executorRunTime().apply(0)
                if summary.isDefined() else 0
            )
            wall_ms = (
                st.completionTime().get().getTime()
                - st.submissionTime().get().getTime()
            )
            rows.append({
                "stage": sid,
                "name": st.name()[:120],
                "wall_sec": round(wall_ms / 1000.0, 2),
                "n_tasks": st.numCompleteTasks(),
                "task_sec_sum": round(st.executorRunTime() / 1000.0, 2),
                "max_task_sec": round(max_ms / 1000.0, 2),
                "shuffle_read_mb": round(st.shuffleReadBytes() / 1e6, 2),
                "shuffle_write_mb": round(st.shuffleWriteBytes() / 1e6, 2),
                "input_mb": round(st.inputBytes() / 1e6, 2),
            })
    return sorted(rows, key=lambda s: -s["task_sec_sum"])
