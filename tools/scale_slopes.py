"""Measure t(sf1)/t(sf0.1) growth slopes for the heaviest operator
families — the one decade of scale ABOVE the per-round bench point.

Prerequisite: `python tools/make_scaled_data.py` (builds the 10x
.scaledata/sf1 tables; see that tool's docstring for how the replication
preserves each family's structural ratios).

Interpretation: 10x the data through a plan that scales linearly costs
<=10x the time; at local[32] with fixed per-query overhead (session,
planning, state-store bootstrap) healthy slopes land well UNDER 10x.
A slope meaningfully ABOVE 10x means super-linear work (quadratic
candidate growth, per-round lineage blowup) and fails the probe.

Each point is the median of bench.py's protocol
(`sample_data_pipeline_project_spark.harness.spread`).

Usage: python tools/scale_slopes.py [workload ...]
(workload names optional — default is the PROBE list below. The two
scale points default to sf0.1 -> sf1 and can be overridden with
SPARK_GRAFT_SLOPE_A / SPARK_GRAFT_SLOPE_B, e.g. the second-decade
sf1 -> sf10 probe of the LSH families.)
Env: SPARK_GRAFT_BENCH_RUNS (default 3), SPARK_GRAFT_BENCH_WARMUP (1).
Prints one markdown table + one JSON line (consumed into SCALING.md).
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF01 = os.environ.get("SPARK_GRAFT_SLOPE_A", "/root/testdata/sf0.1")
SF1 = os.environ.get("SPARK_GRAFT_SLOPE_B", os.path.join(REPO, ".scaledata", "sf1"))

# The 12 heaviest families by bench cost and 100 TB risk profile.
PROBE = [
    # banded / filtered set-similarity joins (candidate growth is THE risk)
    "dedup_minhash_lsh",
    "dedup_jaccard_pairs",
    "dedup_containment_pairs",
    "dedup_minhash_jaccard_estimate",
    # iterative lineage-heavy graph ops
    "dedup_connected_components",
    "graph_pagerank_neardup",
    # ANN build + probe
    "sim_topk_bruteforce",
    "sim_ivf_index_topk",
    "sim_ivfpq_topk",
    # streaming state twins (state-store scaling in key count)
    "stream_minhash_dedup",
    "stream_exact_dedup",
    "stream_hourly_tumbling",
    # scan/agg + fact-fact join reference slopes
    "tpch_q1_pricing_summary",
    "join_bigbig_orders_lineitem",
]


def main() -> int:
    probe = sys.argv[1:] or PROBE

    from sample_data_pipeline_project_spark import harness
    from sample_data_pipeline_project_spark.engine import get_spark
    from sample_data_pipeline_project_spark.workloads import load_all

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    wl = load_all()
    for sf in (SF01, SF1):
        harness.warm_up(spark, sf)

    results: dict[str, list[float]] = {}
    for name in probe:
        a, b = results[name] = [
            harness.spread(spark, wl[name], sf)[0][1] for sf in (SF01, SF1)
        ]
        print(f"probe {name}: sf0.1 {a:.2f}s sf1 {b:.2f}s slope {b / a:.1f}x",
              flush=True)

    print("\n| workload | sf0.1 (s) | sf1 (s) | slope (10x data) |")
    print("|---|---|---|---|")
    for name, (a, b) in results.items():
        print(f"| {name} | {a:.2f} | {b:.2f} | {b / a:.1f}x |")
    print(
        json.dumps(
            {
                "metric": "scale_slopes",
                "sfs": [0.1, 1.0],
                "runs": harness.run_counts()[1],
                "medians": results,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
