"""Measure stream_debounce under the default (HDFS-backed) vs RocksDB
state-store provider at decade scales — verdict item: the 407.8 s sf10
floor was only ever measured under the default store, whose per-key
state lives as JVM heap objects; RocksDB is the documented deployment
answer for high-key-cardinality stateful streams (1M keys at sf10).

Protocol: ONE workload execution per process (cold JVM — state-store
bootstrap is part of what changes between providers), timed around the
noop sink by bench.py's `harness.run_workload`. Provider chosen via the
engine's SPARK_GRAFT_STATESTORE knob.

Usage: python tools/debounce_statestore_probe.py <sf_dir>
Env:   SPARK_GRAFT_STATESTORE=rocksdb for the RocksDB leg.
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1]

    from sample_data_pipeline_project_spark import harness
    from sample_data_pipeline_project_spark.engine import get_spark
    from sample_data_pipeline_project_spark.workloads import load_all

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass",
        "default(HDFSBackedStateStoreProvider)",
    )
    dt = harness.run_workload(spark, load_all()["stream_debounce"], sf_dir)
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "provider": provider.rsplit(".", 1)[-1],
                "seconds": round(dt, 2),
                "statestore_env": os.environ.get(
                    "SPARK_GRAFT_STATESTORE", ""
                ),
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
