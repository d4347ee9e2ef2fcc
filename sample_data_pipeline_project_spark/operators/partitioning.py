"""Partition-count hygiene: widen frames scanned from one unsplittable file.

A corpus read from ONE unsplittable parquet file (single row group)
scans as ONE partition, and every broadcast-join map side downstream
(k-means assignment, PQ encode — the expensive per-row distance work)
runs on one core. Measured on `sim_ivfpq_topk` at sf0.1: ~15
consecutive single-task stages of 0.7-0.9 s each. (The inverse defect,
checkpoints that keep their final stage's over-wide partitioning, is
the `"capped"` kind of `operators/materialize.py`.)

`widen(df)` only probes `.rdd` for partition count when the physical
plan is exchange-free. `.rdd` finalizes the plan, and with AQE that
EXECUTES any upstream shuffle stages as real jobs at plan-construction
time (the round-11 docstring's "compiles" claim was wrong for non-scan
frames). Exchange-free plans make the probe a pure driver-side
conversion; frames WITH exchanges get their output width from AQE at
runtime, which owns that decision anyway — widen() is the
unsplittable-single-FILE fix and those are scan-level by definition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def widen(df: DataFrame) -> DataFrame:
    """Round-robin repartition UP to the session's default parallelism
    when the frame is narrower (the unsplittable-single-file fix); no-op
    when the frame is already at least that wide, or when the plan has
    any exchange (see module docstring — the `.rdd` probe would execute
    those stages as construction-time jobs)."""
    target = max(1, df.sparkSession.sparkContext.defaultParallelism)
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
