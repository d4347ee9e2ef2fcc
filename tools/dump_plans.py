"""Dump `.explain("formatted")` for named workloads to files.

Usage: python tools/dump_plans.py <outdir> <suffix> <workload> [...]
Writes <outdir>/<workload>_<suffix>.txt for each.
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    outdir, suffix, *names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(outdir, exist_ok=True)

    from sample_data_pipeline_project_spark.engine import get_spark
    from sample_data_pipeline_project_spark.operators.materialize import (
        materialize_scope,
    )
    from sample_data_pipeline_project_spark.workloads import load_all

    spark = get_spark(app_name="dump_plans")
    spark.sparkContext.setLogLevel("ERROR")
    workloads = load_all()
    for name in names:
        with materialize_scope():
            df = workloads[name].fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} chars)", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
