"""Bucketed storage: the co-located join must need no shuffle Exchange,
and must produce exactly the plain-join result."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sample_data_pipeline_project_spark.engine import session_with
from sample_data_pipeline_project_spark.sources.bucketed import (
    bucketed_join,
    ensure_bucketed_table,
)
from sample_data_pipeline_project_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def no_broadcast(spark):
    """A session with broadcast disabled, so the join strategy question is
    real (at test SF everything fits in a broadcast, which would hide a
    missing shuffle)."""
    return session_with(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"})


def test_bucketed_join_has_no_exchange(no_broadcast):
    joined = bucketed_join(no_broadcast, SF)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "Exchange" not in plan  # the whole point of bucketing


def test_unbucketed_join_does_shuffle(no_broadcast):
    """Control: the same join over plain parquet shuffles both sides."""
    o = load_table(no_broadcast, SF, "orders")
    l = load_table(no_broadcast, SF, "lineitem")
    plan = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" in plan


def test_bucketed_join_matches_plain_join(spark):
    bucketed = (
        bucketed_join(spark, SF)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    o = load_table(spark, SF, "orders")
    l = load_table(spark, SF, "lineitem")
    plain = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert sorted(map(tuple, bucketed.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_table_reused_within_session(spark):
    n1 = ensure_bucketed_table(spark, SF, "orders")
    n2 = ensure_bucketed_table(spark, SF, "orders")
    assert n1 == n2
    assert spark.catalog.tableExists(n1)
