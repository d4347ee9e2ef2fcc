"""Partition hygiene (`widen`, the capped checkpoint kinds) and the one
materialization primitive with its releasing scope."""

from __future__ import annotations

import re
from pathlib import Path

from pyspark.sql import functions as F

from sample_data_pipeline_project_spark.operators.materialize import (
    materialize,
    materialize_scope,
)
from sample_data_pipeline_project_spark.operators.partitioning import widen

_PKG = Path(__file__).resolve().parents[1] / "sample_data_pipeline_project_spark"
_TOOLS = _PKG.parent / "tools"


def _stored_rdds(spark) -> set[int]:
    return {int(i.id()) for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_materialize_capped_preserves_rows_and_caps_reads(spark):
    # a deliberately over-partitioned tiny frame: the checkpoint must
    # materialize it, and downstream reads must see <= core-count
    # partitions (the frame is far below the per-task byte budget)
    df = spark.range(0, 1000).repartition(64).withColumn(
        "v", F.col("id") * 2
    )
    out = materialize(df, "capped")
    assert out.rdd.getNumPartitions() <= max(
        1, spark.sparkContext.defaultParallelism
    )
    rows = {(r["id"], r["v"]) for r in out.collect()}
    assert rows == {(i, 2 * i) for i in range(1000)}


def test_materialize_capped_disk_storage_level_roundtrip(spark):
    df = spark.range(0, 100).repartition(16)
    out = materialize(df, "capped_disk")
    assert out.count() == 100


def test_widen_is_noop_on_plans_with_exchanges(spark):
    # an aggregated frame has an Exchange: widen() must NOT probe .rdd
    # (that would execute the shuffle at construction time) and must
    # return the frame unchanged
    agg = spark.range(0, 100).groupBy((F.col("id") % 10).alias("k")).count()
    assert widen(agg) is agg


def test_widen_widens_single_partition_scan_frames(spark):
    narrow = spark.range(0, 100).coalesce(1)
    out = widen(narrow)
    target = max(1, spark.sparkContext.defaultParallelism)
    assert out.rdd.getNumPartitions() == target
    assert out.count() == 100


def test_scope_releases_caches_and_checkpoints_it_materialized(spark):
    before = _stored_rdds(spark)
    with materialize_scope():
        cached = materialize(spark.range(0, 500).selectExpr("id * 5 AS v"), "cache")
        assert cached.count() == 500
        ckpt = materialize(spark.range(0, 500).repartition(8), "checkpoint")
        capped = materialize(spark.range(0, 500).repartition(8), "capped_disk")
        assert ckpt.count() == capped.count() == 500
        assert len(_stored_rdds(spark) - before) == 3
    assert _stored_rdds(spark) <= before
    assert not cached.storageLevel.useMemory


def test_scope_releases_on_error_and_opens_one_at_a_time(spark):
    before = _stored_rdds(spark)
    try:
        with materialize_scope():
            materialize(spark.range(0, 100).repartition(4), "checkpoint")
            with materialize_scope():
                pass
    except RuntimeError as exc:
        assert "already open" in str(exc)
    else:
        raise AssertionError("a second scope opened inside the first")
    assert _stored_rdds(spark) <= before
    with materialize_scope():  # the failed scope closed
        pass


def test_scope_keeps_a_cache_it_did_not_create(spark):
    # a plan cached before the scope belongs to its creator. Only the
    # RDDs the outer cache stored are compared: other RDDs of the shared
    # session may be released in the background meanwhile.
    df = spark.range(0, 300).selectExpr("id * 7 AS v")
    before = _stored_rdds(spark)
    outer = materialize(df, "cache")
    try:
        assert outer.count() == 300
        mine = _stored_rdds(spark) - before
        assert mine
        with materialize_scope():
            assert materialize(df, "cache").count() == 300
        assert mine <= _stored_rdds(spark)
    finally:
        outer.unpersist()


def test_released_cache_of_the_same_plan_stores_blocks_again(spark):
    """Released through `DataFrame.unpersist()`, not by RDD id: unpersisting
    the RDD alone leaves the CacheManager entry, and caching the same plan
    again would then never store blocks."""

    def plan():
        return spark.range(0, 1000).selectExpr("id", "id * 3 AS v")

    with materialize_scope():
        before = _stored_rdds(spark)
        assert materialize(plan(), "cache").count() == 1000
        assert _stored_rdds(spark) - before
    before = _stored_rdds(spark)
    again = materialize(plan(), "cache")
    assert again.count() == 1000
    assert _stored_rdds(spark) - before
    again.unpersist()


def test_no_bare_materialization_outside_the_primitive():
    """One mechanism: only operators/materialize.py caches or checkpoints,
    and no runner clears the whole session's cache."""
    bare = re.compile(r"\.cache\(\)|\.persist\(|\.localCheckpoint\(|checkpoint_capped")
    offenders = [
        f"{p.relative_to(_PKG.parent)}:{i}"
        for p in sorted(_PKG.rglob("*.py"))
        if p.name != "materialize.py"
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if bare.search(line)
    ]
    offenders += [
        f"{p.relative_to(_PKG.parent)}:{i}"
        for p in sorted([*_PKG.rglob("*.py"), *_TOOLS.glob("*.py")])
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if "clearCache" in line
    ]
    assert not offenders, offenders
