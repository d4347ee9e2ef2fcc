"""Benchmark entry point (driver contract).

Runs every registered workload at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Each query is forced with a `noop` format write (full execution on the
executors, no driver-side collect skew). A warmup query first absorbs
one-time JVM/codegen startup so per-query numbers reflect steady state.
The protocol lives in `sample_data_pipeline_project_spark.harness`,
shared with the timing tools under tools/.

PROTOCOL (round 7+): every query additionally gets WARM-RUN timing —
`SPARK_GRAFT_BENCH_WARMUP` untimed warm-up executions (default 1) per
query, then the median of `SPARK_GRAFT_BENCH_RUNS` timed executions.
This kills the first-touch JIT/session-noise mover class that burned
re-timing effort in rounds 4-6 (see BENCH-NOTES.md): r<=6 totals were
cold-ish single-shot numbers and are NOT comparable with r7+ totals.
Caches are cleared between every execution, so warm-up carries
JIT/codegen/page-cache state only, never cached data.

Round 8+: RUNS defaults to 3 (a median of one is not a median — two
back-to-back r7 full runs at identical HEAD differed 1.46x from
session drift alone), and BENCH_DETAIL.json carries a per-query
`spread` map {name: [min, median, max]} so cross-round movers are
adjudicated by overlapping spreads instead of standalone re-times.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from sample_data_pipeline_project_spark import harness
    from sample_data_pipeline_project_spark.engine import get_spark
    from sample_data_pipeline_project_spark.workloads import load_all

    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")
    workloads = load_all()
    harness.warm_up(spark, sf_dir)
    n_warmup, n_runs = harness.run_counts()
    sf = harness.scale_factor(sf_dir)

    timings: dict[str, float] = {}
    spreads: dict[str, list[float]] = {}
    for name, w in sorted(workloads.items()):
        try:
            spreads[name] = harness.spread(spark, w, sf_dir)[0]
            timings[name] = spreads[name][1]
            print(
                f"bench: {name} {timings[name]}s "
                f"[{spreads[name][0]}..{spreads[name][2]}]",
                file=sys.stderr,
            )
        except Exception as exc:  # a failed query is a visible outlier, not a crash
            timings[name] = -1.0
            spreads[name] = [-1.0, -1.0, -1.0]
            print(f"bench: {name} FAILED: {exc}", file=sys.stderr)

    total = round(sum(t for t in timings.values() if t >= 0), 3)
    failed = sorted(n for n, t in timings.items() if t < 0)
    # Full per-query map goes to a sidecar file; the driver's stdout tail
    # capture is capped (~2 KB), so the final line must stay small.
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as fh:
        json.dump(
            {
                "metric": "all_workloads_total_runtime",
                "value": total,
                "unit": "sec",
                "queries": timings,
                # per-query [min, median, max] over the timed runs: the
                # committed evidence that lets a mover be adjudicated by
                # overlapping spreads instead of a standalone re-time
                "spread": spreads,
                "runs": n_runs,
                "warmup": n_warmup,
                "sf": sf,
            },
            fh,
            indent=1,
            sort_keys=True,
        )
    # Headline queries only (one per family) keep this line well under 1 KB.
    headline = {
        n: timings[n]
        for n in (
            "tpch_q1_pricing_summary",
            "tpch_q6_forecast_revenue",
            "join_bigbig_orders_lineitem",
            "dedup_minhash_lsh",
            "sim_topk_bruteforce",
            "events_hourly_tumbling",
            "text_quality_score",
        )
        if n in timings
    }
    print(
        json.dumps(
            {
                "metric": "all_workloads_total_runtime",
                "value": total,
                "unit": "sec",
                "queries": headline,
                "n_queries": len(timings),
                "n_failed": len(failed),
                "sf": sf,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
