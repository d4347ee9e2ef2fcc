"""Copy-on-write DML: update/delete correctness, rows_affected contract,
and partition-scoped rewrite (untouched partitions' files stay untouched)."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from sample_data_pipeline_project_spark.sources.cow import cow_delete, cow_update
from sample_data_pipeline_project_spark.sources.ledger_io import write_ledger

_PART = "query_window_start_day"


@pytest.fixture
def ledger_path(spark, ledger, tmp_path):
    path = str(tmp_path / "ledger")
    write_ledger(ledger, path, mode="overwrite")
    return path


def _mtimes(path: str) -> dict[str, float]:
    return {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{path}/{_PART}=*/*.parquet")
    }


def test_update_rewrites_only_matching_partitions(spark, ledger_path):
    before = _mtimes(ledger_path)
    out = cow_update(
        spark,
        ledger_path,
        (F.col("pipeline_name") == "etl") & (F.col(_PART) == "2024-03-02"),
        {"pipeline_status": F.lit("failed")},
        partition_col=_PART,
    )
    assert out["rows_affected"] == 3
    after = _mtimes(ledger_path)
    changed_days = {
        f.split(f"{_PART}=")[1].split("/")[0]
        for f in set(after) - set(before) | {f for f in before if f not in after}
    }
    assert changed_days == {"2024-03-02"}
    df = spark.read.parquet(ledger_path)
    assert df.filter(
        (F.col(_PART) == "2024-03-02") & (F.col("pipeline_status") != "failed")
    ).count() == 0
    assert df.count() == 18  # no rows lost


def test_update_no_match_is_noop(spark, ledger_path):
    before = _mtimes(ledger_path)
    out = cow_update(
        spark,
        ledger_path,
        F.col("pipeline_name") == "missing",
        {"pipeline_status": F.lit("failed")},
        partition_col=_PART,
    )
    assert out["rows_affected"] == 0
    assert _mtimes(ledger_path) == before


def test_delete_partition_scoped(spark, ledger_path):
    out = cow_delete(
        spark,
        ledger_path,
        F.col("run_id").isin(4, 5),
        partition_col=_PART,
    )
    assert out["rows_affected"] == 2
    df = spark.read.parquet(ledger_path)
    assert df.count() == 16
    assert df.filter(F.col("run_id").isin(4, 5)).count() == 0
    # the rest of that partition survived
    assert df.filter(F.col(_PART) == "2024-03-02").count() == 1


def test_delete_unpartitioned_full_rewrite(spark, ledger, tmp_path):
    path = str(tmp_path / "flat")
    ledger.write.mode("overwrite").parquet(path)
    out = cow_delete(spark, path, F.col("pipeline_name") == "etl")
    assert out["rows_affected"] == 12
    assert spark.read.parquet(path).count() == 6


def test_merge_upsert_partition_scoped(spark, ledger, ledger_path):
    from sample_data_pipeline_project_spark.sources.cow import cow_merge

    before = _mtimes(ledger_path)
    untouched_days_before = {
        f: t for f, t in before.items() if f"{_PART}=2024-03-01" in f
    }
    # source: update run 4 (partition 2024-03-02), insert run 99 into the
    # same partition, insert run 100 into a brand-new partition.
    upd = ledger.filter(F.col("run_id") == 4).withColumn(
        "pipeline_status", F.lit("merged")
    )
    ins_existing = ledger.filter(F.col("run_id") == 4).withColumn(
        "run_id", F.lit(99).cast("long")
    )
    ins_new = (
        ledger.filter(F.col("run_id") == 4)
        .withColumn("run_id", F.lit(100).cast("long"))
        .withColumn(_PART, F.to_date(F.lit("2024-03-20")))
    )
    source = upd.unionByName(ins_existing).unionByName(ins_new)
    out = cow_merge(spark, ledger_path, source, ["run_id"], partition_col=_PART)
    assert out["n_updated"] == 1
    assert out["n_inserted"] == 2
    assert out["rows_affected"] == 3
    df = spark.read.parquet(ledger_path)
    assert df.count() == 20
    assert (
        df.filter(F.col("run_id") == 4).first()["pipeline_status"] == "merged"
    )
    assert df.filter(F.col("run_id").isin(99, 100)).count() == 2
    assert df.filter(F.col(_PART) == "2024-03-20").count() == 1
    # partitions not named by the merge kept their exact files
    after = _mtimes(ledger_path)
    for f, t in untouched_days_before.items():
        assert after.get(f) == t, f


def test_merge_insert_only_unpartitioned(spark, ledger, tmp_path):
    from sample_data_pipeline_project_spark.sources.cow import cow_merge

    path = str(tmp_path / "flat_merge")
    ledger.write.mode("overwrite").parquet(path)
    source = ledger.filter(F.col("run_id") == 1).withColumn(
        "run_id", F.lit(500).cast("long")
    )
    out = cow_merge(spark, path, source, ["run_id"])
    assert out["n_updated"] == 0
    assert out["n_inserted"] == 1
    assert spark.read.parquet(path).count() == 19


def test_merge_duplicate_target_rows_counts_keys(spark, ledger, tmp_path):
    """Duplicate target rows per key: merge replaces all of them with the
    one source row, and n_updated counts matched KEYS (n_inserted must not
    go negative)."""
    from sample_data_pipeline_project_spark.sources.cow import cow_merge

    path = str(tmp_path / "dup_merge")
    dup = ledger.filter(F.col("run_id") == 1)
    ledger.unionByName(dup).write.mode("overwrite").parquet(path)  # run 1 twice
    source = ledger.filter(F.col("run_id") == 1).withColumn(
        "pipeline_status", F.lit("merged")
    )
    out = cow_merge(spark, path, source, ["run_id"])
    assert out["n_updated"] == 1
    assert out["n_inserted"] == 0
    got = spark.read.parquet(path).filter(F.col("run_id") == 1).collect()
    assert len(got) == 1 and got[0]["pipeline_status"] == "merged"


def test_update_refreshes_location_catalog_table(spark, ledger_path):
    # a catalog table over the rewritten path caches its file listing on
    # first read; without a refresh after the rewrite, the next query
    # reads the replaced day file and fails with FILE_NOT_EXIST
    from sample_data_pipeline_project_spark.client import SparkQueryClient
    from sample_data_pipeline_project_spark.ledger.tasks import (
        create_table_if_not_exists,
    )

    schema = spark.read.parquet(ledger_path).schema
    cols = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in schema.fields
    )
    create_table_if_not_exists(
        spark,
        f"CREATE TABLE cow_ledger_tbl ({cols}) USING parquet "
        f"PARTITIONED BY ({_PART}) LOCATION '{ledger_path}'",
    )
    try:
        spark.sql("MSCK REPAIR TABLE cow_ledger_tbl")
        client = SparkQueryClient(spark)
        q = "SELECT COUNT(*) FROM cow_ledger_tbl WHERE pipeline_status = 'failed'"
        failed_before = client.execute_scalar_query(q)["data"]
        out = cow_update(
            spark,
            ledger_path,
            (F.col("pipeline_name") == "etl") & (F.col(_PART) == "2024-03-02"),
            {"pipeline_status": F.lit("failed")},
            partition_col=_PART,
        )
        assert out["rows_affected"] == 3
        expected = (
            spark.read.parquet(ledger_path)
            .filter(F.col("pipeline_status") == "failed")
            .count()
        )
        assert expected > failed_before
        assert client.execute_scalar_query(q)["data"] == expected
    finally:
        spark.sql("DROP TABLE IF EXISTS cow_ledger_tbl")
