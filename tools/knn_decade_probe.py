"""Single-shot decade probe for graph_knn_mutual_edges_ivf.

Why not tools/scale_slopes.py: its warmup protocol executes the probed
workload once per scale before timing it — two full sf100 executions in
ONE JVM. Spark frees shuffle files only when the ContextCleaner GC's
their references, so the warmup's ~40 GB of candidate-pair spill is
still on disk while the timed run writes its own ~40 GB: the round-9
probe found the node's disk (not memory, not compute) is the binding
constraint at 2M vectors. Protocol here: ONE execution per process
(cold JVM), spill dirs under a cleaned scratch root — the slope is
cold/cold so fixed session overhead appears at BOTH points.

Round 10: the probe also records the STRAGGLER profile (max single-task
run time and its fraction of wall, from `harness.stage_table`) — the r9
root cause was one 215k-row cell folded by one task for ~15 of 42
minutes, and the balance lever's done-criterion is "no task holds >20%
of wall".

Usage: python tools/knn_decade_probe.py <sf_dir>
Prints one JSON line {"sf_dir", "seconds", "n_rows", "max_task_sec",
"max_task_frac"}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1]

    from sample_data_pipeline_project_spark import harness
    from sample_data_pipeline_project_spark.engine import get_spark
    from sample_data_pipeline_project_spark.workloads import load_all

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    wl = load_all()["graph_knn_mutual_edges_ivf"]
    spark.sparkContext.addJobTag(wl.name)
    t0 = time.time()
    rows = wl.fn(spark, sf_dir).count()
    dt = time.time() - t0
    # for each stage its task count, summed task time and largest task:
    # the table that says WHERE a straggler lives, not just that one exists
    stages = sorted(
        harness.stage_table(spark, wl.name), key=lambda s: -s["max_task_sec"]
    )
    max_task = stages[0]["max_task_sec"] if stages else 0.0
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "seconds": round(dt, 2),
                "n_rows": rows,
                "max_task_sec": round(max_task, 1),
                "max_task_frac": round(max_task / dt, 3) if dt else None,
                "stages_by_max_task": stages[:8],
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
