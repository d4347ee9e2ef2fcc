"""Scale-sensitivity probe: time representative workloads across the
three testdata scale factors and report how runtimes grow vs data size.

The brief's question is "would this plan survive a 100x scale-up" — the
closest measurable proxy at local[32] is the growth EXPONENT between
sf0.001 -> sf0.01 -> sf0.1 (100x data end to end): a scan/agg/join plan
in good shape grows sublinearly at these sizes (fixed per-query overhead
dominates), and anything super-linear is a red flag worth a plan audit.

Each point is the median of bench.py's protocol
(`sample_data_pipeline_project_spark.harness.spread`).

Usage: python tools/scale_probe.py
Env: SPARK_GRAFT_BENCH_RUNS (default 3), SPARK_GRAFT_BENCH_WARMUP (1).
Prints one markdown table + one JSON line.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]

PROBE = [
    "tpch_q1_pricing_summary",     # scan + wide aggregate
    "tpch_q5_local_supplier_volume",  # multi-join + agg
    "dedup_minhash_lsh",           # shingle -> minhash -> banded join
    "dedup_jaccard_pairs",         # prefix-filtered set-similarity join
    "sim_topk_bruteforce",         # vector scan + TakeOrdered
    "events_hourly_tumbling",      # event-time windowed agg
    "text_tfidf_top_terms",        # tokenize + idf join + rank
    "asof_latest_view_before_click",  # union-merge as-of join
    "window_rolling_median",       # partitioned window frame
    "ledger_overlap_pairs",        # theta self-join as equi+residual
    # round-4 additions
    "ml_logistic_regression_gd",   # iterative scaled-int gradient aggregate
    "text_pmi_collocations",       # bigram counts + TakeOrdered top-k
    "sketch_bitmap_distinct",      # mergeable bitmap-block distinct
    "timeseries_holt_linear",      # keyed agg + per-group array fold
    "embedding_silhouette_labels", # broadcast centroid stats, |labels| fan-out
    "dedup_minhash_jaccard_estimate",  # banded candidates + truth joins
]


def main() -> int:
    from sample_data_pipeline_project_spark import harness
    from sample_data_pipeline_project_spark.engine import get_spark
    from sample_data_pipeline_project_spark.workloads import load_all

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    wl = load_all()
    harness.warm_up(spark, SFS[0])

    results = {
        name: [harness.spread(spark, wl[name], sf)[0][1] for sf in SFS]
        for name in PROBE
    }

    print("| workload | sf0.001 (s) | sf0.01 (s) | sf0.1 (s) | t(100x)/t(1x) |")
    print("|---|---|---|---|---|")
    for name, (a, b, c) in results.items():
        print(f"| {name} | {a:.2f} | {b:.2f} | {c:.2f} | {c / a:.1f}x |")
    print(
        json.dumps(
            {
                "metric": "scale_probe",
                "sfs": [0.001, 0.01, 0.1],
                "runs": harness.run_counts()[1],
                "medians": results,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
