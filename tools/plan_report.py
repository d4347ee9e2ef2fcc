"""Generate PLANS.md: physical-plan facts for every registered workload.

For each workload: join strategies chosen, shuffle-exchange count, pushed
filters, and scan read-schemas — the evidence that filters reach the
scans, dimensions broadcast, and shuffles are minimal. Streaming and
pandas-UDF workloads are annotated rather than skipped.

Usage: python tools/plan_report.py > PLANS.md
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    from sample_data_pipeline_project_spark.engine import get_spark
    from sample_data_pipeline_project_spark.plans.introspect import (
        exchange_count,
        join_strategies,
        pushed_filters,
        scan_schemas,
    )
    from sample_data_pipeline_project_spark.workloads import load_all

    sf_dir = "/root/testdata/sf0.001"
    spark = get_spark(app_name="plan_report")
    spark.sparkContext.setLogLevel("ERROR")

    print("# PLANS — physical-plan facts per workload (sf0.001 shapes)")
    print()
    print("Generated by `python tools/plan_report.py`. Columns: physical")
    print("join operators in plan order; shuffle exchanges; whether any")
    print("filter was pushed to a parquet scan; number of file scans and")
    print("the narrowest/widest column count read (column pruning).")
    print()
    print("| workload | joins | exchanges | pushed filters | scans (min..max cols) |")
    print("|---|---|---|---|---|")
    for name, w in sorted(load_all().items()):
        if name.startswith("stream_"):
            print(f"| {name} | (streaming: incremental plan, state-store stages) | — | — | — |")
            continue
        try:
            df = w.fn(spark, sf_dir)
            joins = ", ".join(join_strategies(df)) or "—"
            ex = exchange_count(df)
            pf = pushed_filters(df)
            pushed = "yes" if any(f.strip() for f in pf) else "none"
            schemas = scan_schemas(df)
            if schemas:
                widths = sorted(len(s.split(",")) for s in schemas)
                scans = f"{len(schemas)} ({widths[0]}..{widths[-1]})"
            else:
                scans = "0"
            print(f"| {name} | {joins} | {ex} | {pushed} | {scans} |")
        except Exception as exc:  # noqa: BLE001
            print(f"| {name} | ERROR: {str(exc)[:60]} | — | — | — |")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
