"""One way to materialize an intermediate, and a scope that releases
what a run materialized.

`materialize(df, kind)` is the only place an operator or workload
caches or checkpoints a frame. Each kind is the measured rule of the
sites that use it:

- `"cache"`: `DataFrame.cache()` (`.persist()` is the same level for a
  DataFrame). Used where the consumers need the producing plan's
  AQE-coalesced width to survive: the cached plan keeps it, a
  checkpoint's blocks keep the final stage's raw width instead.
- `"checkpoint"`: eager `localCheckpoint`. Used for re-read vector
  columns, where the columnar cache's decode of array columns costs 2x
  a checkpoint's raw row blocks.
- `"capped"` / `"capped_disk"`: eager `localCheckpoint` at the default
  level / at `DISK_ONLY` (edge-sized frames at scale: an sf100 run
  OOMed the heap in memory), then a coalesce of the MATERIALIZED blocks
  (narrow, no shuffle, no job) down to the session's default
  parallelism, bounded below by the persisted size so no read task
  merges more than ~`_TARGET_BLOCK_BYTES`. Used for every round of
  `iterate` and wherever an iterative operator (connected components,
  PageRank, k-core, BFS, LPA) materializes a frame its rounds re-read
  many times. A checkpoint otherwise keeps the partitioning of its
  job's final stage, which under AQE's wide start (8 x cores initial
  partitions, engine.py) is often not read-coalesced: measured on
  `dedup_connected_components` at sf0.1 on 32 cores, the top stages
  were 256/512 tasks of 0.02-0.09 s each, pure scheduling overhead.
  Coalescing BEFORE the checkpoint (round 11) collapsed into the
  producing stage and capped its reduce side at core count with no
  size guard, the fat-task shape that OOMed at sf10; coalescing after
  keeps the producing stage at its AQE-sized width.

Lifecycle. Outside a scope, `materialize` does only the above, and the
blocks live until the session drops them. While `materialize_scope()`
is open, every frame materialized is registered, and the scope
releases them when it exits, also on error:

- a cache through `DataFrame.unpersist()`. Unpersisting the cache's RDD
  by id would leave its CacheManager entry in place, and a later
  `.cache()` of the same plan would then never store blocks again. A
  plan that was already cached when the scope materialized it belongs
  to someone else and is not registered;
- a checkpoint by unpersisting its own RDD, the one the checkpointed
  frame's `LogicalRDD` carries. A released checkpoint can no longer be
  read (`CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`), so operators release
  nothing themselves: only a runner opens a scope, around building AND
  consuming a result (`harness.run_workload`, `tools/check_oracle.py`,
  `tools/dump_plans.py`). The one exception: `iterate` releases each
  round once the next is checkpointed, since nothing reads it again and
  keeping it would hold a copy of the loop's state per round.

The scope is module-level, not thread-local: `foreachBatch` handlers
materialize on the stream's thread. One scope is open at a time.

Deploy mode. `localCheckpoint` keeps its blocks on the executors only,
so outside local mode an executor loss fails the query where a persist
would recompute. There is deliberately no deploy-mode branch: every
workload and benchmark runs in local mode, so a second path would have
nothing to measure it against.
"""

from __future__ import annotations

from collections.abc import Callable
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

# Per-read-task byte budget for merged checkpoint blocks (guide §2.2:
# 100 MB - 1 GB partitions; the low end, since iterative rounds re-read
# these blocks many times and hold join/agg state on top of them).
_TARGET_BLOCK_BYTES = 64 << 20

# Release callables of the open scope; None when no scope is open.
_scope: list | None = None


def materialize(df: DataFrame, kind: str) -> DataFrame:
    """Materialize `df` by `kind` (`"cache"`, `"checkpoint"`, `"capped"`
    or `"capped_disk"`, see the module docstring) and register it with
    the open scope, if any."""
    # read once: a stream thread may materialize while the runner closes
    scope = _scope
    if kind == "cache":
        # a plan cached before this call is not ours to release
        owned = scope is not None and df.storageLevel == StorageLevel.NONE
        out = df.cache()
        if owned:
            scope.append(out.unpersist)
        return out
    if kind not in ("checkpoint", "capped", "capped_disk"):
        raise ValueError(f"unknown materialize kind {kind!r}")
    level = StorageLevel.DISK_ONLY if kind == "capped_disk" else None
    ckpt = df.localCheckpoint(eager=True, storageLevel=level)
    if scope is not None:
        rdd = _checkpoint_rdd(ckpt)
        scope.append(lambda: rdd.unpersist(False))
    if kind == "checkpoint":
        return ckpt
    return ckpt.coalesce(_capped_width(ckpt))


def _checkpoint_rdd(ckpt: DataFrame):
    # the plan of a checkpointed frame, capped or not, has one leaf: a
    # LogicalRDD over the very RDD whose blocks the checkpoint persisted
    return ckpt._jdf.logicalPlan().collectLeaves().head().rdd()


def _capped_width(ckpt: DataFrame) -> int:
    """The session's default parallelism, raised so that no read task
    merges more than ~_TARGET_BLOCK_BYTES of the checkpoint's blocks."""
    sc = ckpt.sparkSession.sparkContext
    target = max(1, sc.defaultParallelism)
    try:
        rdd_id = _checkpoint_rdd(ckpt).id()
        for info in sc._jsc.sc().getRDDStorageInfo():
            if info.id() == rdd_id:
                n_bytes = int(info.memSize()) + int(info.diskSize())
                by_size = -(-n_bytes // _TARGET_BLOCK_BYTES)  # ceil
                return max(target, by_size)
    except Exception:
        pass  # best-effort introspection; core-count target still holds
    return target


def iterate(
    init: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    rounds: int,
    *,
    name: str,
    changed: Column | None = None,
) -> DataFrame:
    """Run up to `rounds` rounds of `step` from `init` and return the last
    one (`init` if none ran). Each round is checkpointed `"capped"`, so
    the plan stays one round deep; the round before it is released.

    `changed`, a 0/1 column over `step`'s output, is summed on the
    round's own checkpoint job: the loop stops at the first round without
    changes, and raises if the last round still had some.

    Round i's jobs carry the description `"<name> round <i>"`, which
    names their stages. Not `callSite.short`: that also renames the jobs,
    AQE's map-stage jobs included, hiding each round's one
    `localCheckpoint` job from counters that find it by name."""
    sc = init.sparkSession.sparkContext
    outer = sc.getLocalProperty("spark.job.description")
    cur, left = init, 0
    try:
        for i in range(1, rounds + 1):
            nxt, obs = step(cur), Observation()
            if changed is not None:
                nxt = nxt.observe(obs, F.sum(changed).alias("changed"))
            sc.setJobDescription(f"{name} round {i}")
            nxt = materialize(nxt, "capped")
            if i > 1:  # never `init`: only what this loop materialized
                _checkpoint_rdd(cur).unpersist(False)
            cur = nxt
            if changed is not None:
                left = int(obs.get["changed"] or 0)
                if left == 0:
                    break
    finally:
        sc.setJobDescription(outer)
    if left:
        raise RuntimeError(
            f"{name} did not converge in {rounds} rounds ({left} rows still "
            "changing); raise the round budget"
        )
    return cur


@contextmanager
def materialize_scope():
    """Register every frame materialized while open; release them all
    on exit, also on error. Open it around building and consuming a
    result, never inside an operator."""
    global _scope
    if _scope is not None:
        raise RuntimeError("a materialize scope is already open")
    _scope = []
    try:
        yield
    finally:
        releases, _scope = _scope, None
        for release in releases:
            release()
