"""Benchmark entry point.

    python3 perfbench/run.py --workload ledger_service --seed 1 --seconds 12 --trace 0

Runs one workload from the root of a source checkout against the package
there, on `local[4]`, and prints one JSON object as the last line of
stdout: {"correct", "attempted", "failed", "metrics"}. `--trace 0` gives
the end-to-end metrics, `--trace 1` the per-layer metrics of a separate
traced run. Exits non-zero without a result when the package is missing.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("ledger_service", "curation")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.dont_write_bytecode = True
    sys.path.insert(0, ROOT)
    if not os.path.isdir(os.path.join(ROOT, "sample_data_pipeline_project_spark")):
        print("perfbench: package sample_data_pipeline_project_spark not found "
              f"under {ROOT}", file=sys.stderr)
        return 2

    import importlib

    from perfbench.harness import Bench

    workload = importlib.import_module(f"perfbench.{args.workload}")
    b = Bench(T0, ROOT, args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        result = workload.run(b)
    finally:
        b.stop()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
