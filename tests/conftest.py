"""Shared Spark session for the test suite (one JVM for the whole run)."""

from __future__ import annotations

import sys
from contextlib import contextmanager
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from sample_data_pipeline_project_spark.engine import get_spark  # noqa: E402
from sample_data_pipeline_project_spark.operators.materialize import (  # noqa: E402
    materialize_scope,
)


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


@pytest.fixture
def scoped(spark):
    """`with scoped(tag):` runs direct operator calls in a
    `materialize_scope`, their jobs tagged `tag` (if given) for
    `harness.stage_table`, and asserts that the session stores no RDD
    after it that it did not store before it."""
    sc = spark.sparkContext

    def stored():
        return {int(i.id()) for i in sc._jsc.sc().getRDDStorageInfo()}

    @contextmanager
    def scope(tag: str | None = None):
        before = stored()
        if tag:
            sc.addJobTag(tag)
        try:
            with materialize_scope():
                yield
        finally:
            if tag:
                sc.removeJobTag(tag)
        assert stored() <= before

    return scope


@pytest.fixture(scope="session")
def ledger(spark):
    from sample_data_pipeline_project_spark.sources.fixtures import (
        pipeline_runs_fixture,
    )

    df = pipeline_runs_fixture(spark)
    df.cache().count()
    return df
