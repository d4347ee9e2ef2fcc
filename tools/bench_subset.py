"""Time and profile a SUBSET of registered workloads — the A/B
adjudication tool.

bench.py times all 358 workloads (~5-6 min at sf0.1); adjudicating a
handful of movers against their committed spreads doesn't need that.
This runs bench.py's protocol (`sample_data_pipeline_project_spark.harness`)
on just the named queries and prints one JSON object in the
BENCH_DETAIL.json shape (`queries`, `spread`, `runs`, `warmup`, `sf`), so
two of them — or one and a committed BENCH_DETAIL.json — feed
`tools/bench_diff.py` directly. It adds `stages`: per workload, the
stage table of its median timed run (wall, tasks, task-seconds, max task,
shuffle read/write and input per stage), top 12 by task-seconds.

Usage:
  python tools/bench_subset.py q1 q2 ...        # sf via SPARK_GRAFT_SF_DIR
  python tools/bench_subset.py --family dedup_queries [q ...]
    --family M (repeatable) adds every workload defined in the family
    module `workloads/M.py`, in name order, after the named ones.
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_BENCH_RUNS (default 3), SPARK_GRAFT_BENCH_WARMUP (1),
     SPARK_GRAFT_EXTRA_CONF ("k=v;k=v" session conf overrides — the
     config-A/B knob, so flag comparisons run from identical code).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser(prog="bench_subset.py")
    ap.add_argument("names", nargs="*", metavar="workload")
    ap.add_argument("--family", action="append", default=[], metavar="MODULE")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from sample_data_pipeline_project_spark import harness
    from sample_data_pipeline_project_spark.engine import get_spark
    from sample_data_pipeline_project_spark.workloads import load_all

    workloads = load_all()
    family = {n: w.fn.__module__.rpartition(".")[2] for n, w in workloads.items()}
    missing = [n for n in args.names if n not in workloads] + [
        f"--family {f}" for f in args.family if f not in family.values()
    ]
    if missing:
        print(f"unknown workloads: {missing}", file=sys.stderr)
        return 2
    names = list(dict.fromkeys(
        args.names + sorted(n for n, f in family.items() if f in args.family)
    ))
    if not names:
        ap.error("name a workload or a --family")

    extra = {}
    for kv in os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";"):
        if "=" in kv:
            k, _, v = kv.partition("=")
            extra[k.strip()] = v.strip()
    spark = get_spark(app_name="bench_subset", extra_conf=extra or None)
    spark.sparkContext.setLogLevel("ERROR")

    harness.warm_up(spark, sf_dir)
    n_warmup, n_runs = harness.run_counts()
    spreads: dict[str, list[float]] = {}
    stages: dict[str, list[dict]] = {}
    for name in names:
        spreads[name], median_tag = harness.spread(spark, workloads[name], sf_dir)
        stages[name] = harness.stage_table(spark, median_tag)[:12]
        print(f"bench_subset: {name} {spreads[name][1]}s "
              f"[{spreads[name][0]}..{spreads[name][2]}]", file=sys.stderr)

    print(json.dumps({
        "queries": {n: s[1] for n, s in spreads.items()},
        "spread": spreads,
        "runs": n_runs,
        "warmup": n_warmup,
        "sf": harness.scale_factor(sf_dir),
        "stages": stages,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
