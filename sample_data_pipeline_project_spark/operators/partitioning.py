"""Partition-count hygiene for iterative/broadcast-heavy operators.

Two inverse defects share one root cause — partition counts inherited
from the WRONG side of the plan instead of derived from the data and the
cluster (optimization guide §2.2/§2.5, round 11):

- A frame materialized by `localCheckpoint` keeps the partitioning of
  its job's final stage. With AQE's wide-start shuffle configuration
  (initialPartitionNum = 8 x cores, 256 at 32, engine.py) that final
  stage is often NOT read-coalesced, so an edge list of a few MB
  materializes as 8 x cores blocks — and every round of an iterative
  operator (connected components, PageRank, k-core, BFS, LPA) then
  re-scans it with that many near-empty tasks, twice per round after
  symmetrization. Measured on `dedup_connected_components` at sf0.1 on
  32 cores: the top stages were 256/512 tasks with max task
  0.02-0.09 s — pure scheduling overhead.

- A corpus read from ONE unsplittable parquet file (single row group)
  scans as ONE partition, and every broadcast-join map side downstream
  (k-means assignment, PQ encode — the expensive per-row distance work)
  runs on one core. Measured on `sim_ivfpq_topk` at sf0.1: ~15
  consecutive single-task stages of 0.7-0.9 s each.

Round 12 reshaped both helpers per the round-11 ADVICE:

- `checkpoint_capped(df)` replaces the round-11 coalesce-then-
  `localCheckpoint(eager=True)` pattern. The old
  pre-checkpoint `coalesce` collapsed into the materializing stage
  itself, capping the reduce side of every iterative join/aggregate at
  core count with NO size guard — exactly the fat-task shape
  engine.py's wide-start comment (initialPartitionNum = 8 x cores,
  256 at 32) records OOMing at sf10 (32 wide tasks on a shared 8g
  heap). The coalesce now happens AFTER
  materialization — a narrow, read-time merge of the persisted blocks —
  so the producing stage keeps its AQE-sized width (per-task memory
  stays bounded by partition width) while the iterative re-reads still
  see ~core-count tasks. The merge is additionally SIZE-GUARDED by the
  measured persisted bytes: a decade-scale edge frame merges to
  ~_TARGET_BLOCK_BYTES per read task instead of unconditionally to
  core count. The persisted bytes are read for the checkpoint's own
  RDD, whose id the checkpointed frame's plan carries.

- `widen(df)` now only probes `.rdd` for partition count when the
  physical plan is exchange-free. `.rdd` finalizes the plan, and with
  AQE that EXECUTES any upstream shuffle stages as real jobs at
  plan-construction time (the round-11 docstring's "compiles" claim was
  wrong for non-scan frames). Exchange-free plans make the probe a pure
  driver-side conversion; frames WITH exchanges get their output width
  from AQE at runtime, which owns that decision anyway — widen() is the
  unsplittable-single-FILE fix and those are scan-level by definition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Per-read-task byte budget for merged checkpoint blocks (guide §2.2:
# 100 MB - 1 GB partitions; the low end, since iterative rounds re-read
# these blocks many times and hold join/agg state on top of them).
_TARGET_BLOCK_BYTES = 64 << 20


def _default_parallelism(df: DataFrame) -> int:
    return max(1, df.sparkSession.sparkContext.defaultParallelism)


def checkpoint_capped(df: DataFrame, storage_level=None) -> DataFrame:
    """Eagerly localCheckpoint `df` at its producing plan's OWN width,
    then coalesce the MATERIALIZED blocks (narrow, no shuffle, no job)
    down to the session's default parallelism — bounded below by the
    persisted size so no read task merges more than ~_TARGET_BLOCK_BYTES.
    Apply wherever an iterative operator materializes a frame that its
    rounds re-read many times."""
    if storage_level is None:
        ckpt = df.localCheckpoint(eager=True)
    else:
        ckpt = df.localCheckpoint(eager=True, storageLevel=storage_level)
    target = _default_parallelism(df)
    try:
        # the checkpointed frame's plan is a LogicalRDD over the very RDD
        # whose blocks the checkpoint persisted
        rdd_id = ckpt._jdf.logicalPlan().rdd().id()
        jsc = df.sparkSession.sparkContext._jsc.sc()
        for info in jsc.getRDDStorageInfo():
            if info.id() == rdd_id:
                n_bytes = int(info.memSize()) + int(info.diskSize())
                by_size = -(-n_bytes // _TARGET_BLOCK_BYTES)  # ceil
                target = max(target, by_size)
                break
    except Exception:
        pass  # best-effort introspection; core-count target still holds
    return ckpt.coalesce(target)


def widen(df: DataFrame) -> DataFrame:
    """Round-robin repartition UP to the session's default parallelism
    when the frame is narrower (the unsplittable-single-file fix); no-op
    when the frame is already at least that wide, or when the plan has
    any exchange (see module docstring — the `.rdd` probe would execute
    those stages as construction-time jobs)."""
    target = _default_parallelism(df)
    try:
        # executedPlan, not sparkPlan: exchanges are inserted by the
        # EnsureRequirements preparation, which sparkPlan precedes.
        # Stringifying an un-executed AdaptiveSparkPlan prints the
        # initial plan WITHOUT materializing any stage.
        plan = df._jdf.queryExecution().executedPlan().toString()
        if "Exchange" in plan:
            return df
        cur = df.rdd.getNumPartitions()
    except Exception:
        return df
    return df.repartition(target) if cur < target else df
