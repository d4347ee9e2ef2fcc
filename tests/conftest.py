"""Shared Spark session for the test suite (one JVM for the whole run)."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from sample_data_pipeline_project_spark.engine import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="sdpp-tests",
        master="local[4]",
        extra_conf={
            "spark.sql.shuffle.partitions": "4",
            # tests run toy data on local[4]: the engine's wide AQE
            # start of 8 x cores initial partitions (256 at 32; a memory
            # guard for decade-scale shuffles) would only add
            # task-launch overhead here
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "4",
        },
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def ledger(spark):
    from sample_data_pipeline_project_spark.sources.fixtures import (
        pipeline_runs_fixture,
    )

    df = pipeline_runs_fixture(spark)
    df.cache().count()
    return df
