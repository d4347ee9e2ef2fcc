"""Copy-on-write UPDATE / DELETE over plain-parquet tables.

The reference's DML surface (`execute_dml_query`,
snowflake_query_client.py:254-294) includes UPDATE/DELETE, which plain
parquet cannot do in place (SURVEY.md §7 hard parts). This module closes
that gap the way table formats do it — copy-on-write:

  1. resolve which PARTITIONS contain matching rows (a pruned scan),
  2. rewrite ONLY those partitions with the mutation applied,
  3. commit via dynamic partition overwrite (untouched partitions' files
     are never opened, moved, or rewritten).

`rows_affected` is counted from the matching scan, restoring the
reference's cursor.rowcount contract.

Scale notes:
  - Write amplification is bounded by partition granularity: a predicate
    touching one day of a day-partitioned 100 TB ledger rewrites one day.
  - The mutated rows are localCheckpoint()ed before the write — Spark
    refuses to overwrite files an active plan still reads from; the
    checkpoint materializes the new partition contents first (the same
    read-before-replace bar a real table format's commit protocol sets).
  - Unpartitioned tables fall back to a full rewrite (documented cost).
  - Every rewrite ends with `_refresh_after_rewrite`: a cached frame or
    a catalog table whose LOCATION is the rewritten path would otherwise
    keep listing the replaced files and fail its next read with
    FAILED_READ_FILE.FILE_NOT_EXIST.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from sample_data_pipeline_project_spark.envelope import new_query_id, run_task
from sample_data_pipeline_project_spark.log_utils import LogBlock
from sample_data_pipeline_project_spark.operators.materialize import materialize


def _mutate_partitions(
    spark: SparkSession,
    path: str,
    predicate: Column,
    transform,
    partition_col: str | None,
) -> int:
    df = spark.read.parquet(path)
    matching = df.filter(predicate)
    affected = matching.count()
    if affected == 0:
        return 0
    if partition_col is None:
        new_full = materialize(transform(df, predicate), "checkpoint")
        new_full.write.mode("overwrite").parquet(path)
    else:
        days = [
            r[0] for r in matching.select(partition_col).distinct().collect()
        ]
        scope = df.filter(F.col(partition_col).isin(days))
        rewritten = materialize(transform(scope, predicate), "checkpoint")
        _overwrite_partitions(rewritten, path, partition_col)
    _refresh_after_rewrite(spark, path)
    return affected


def _refresh_after_rewrite(spark: SparkSession, path: str) -> None:
    """Drop every file listing of `path` taken before the rewrite.
    `refreshByPath` covers cached frames over the path. A catalog table
    at the path keeps its listing in the session's table-relation cache,
    which is keyed by table name, not path, so that cache is dropped
    whole: it holds metadata only, re-resolved on each table's next use,
    where finding the tables at `path` would cost a metastore lookup per
    table on every write."""
    spark.catalog.refreshByPath(path)
    spark._jsparkSession.sessionState().catalog().invalidateAllCachedTables()


def _overwrite_partitions(
    rewritten: DataFrame, path: str, partition_col: str
) -> None:
    """Replace only the partitions present in `rewritten` (dynamic
    partition overwrite, an option of this write alone), one file per
    partition."""
    (
        rewritten.repartition(1, partition_col)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )


def cow_update(
    spark: SparkSession,
    path: str,
    predicate: Column,
    set_exprs: dict[str, Column],
    partition_col: str | None = None,
    logger: LogBlock | None = None,
) -> dict[str, Any]:
    """UPDATE <table> SET ... WHERE predicate, copy-on-write.
    -> {query_id, rows_affected}."""

    def transform(scope: DataFrame, pred: Column) -> DataFrame:
        out = scope
        for col_name, new_val in set_exprs.items():
            out = out.withColumn(
                col_name, F.when(pred, new_val).otherwise(F.col(col_name))
            )
        return out

    def _run() -> dict[str, Any]:
        n = _mutate_partitions(spark, path, predicate, transform, partition_col)
        return {"query_id": new_query_id(), "rows_affected": n}

    return run_task("cow_update", _run, logger, path=path)


def cow_delete(
    spark: SparkSession,
    path: str,
    predicate: Column,
    partition_col: str | None = None,
    logger: LogBlock | None = None,
) -> dict[str, Any]:
    """DELETE FROM <table> WHERE predicate, copy-on-write.
    -> {query_id, rows_affected}."""

    def transform(scope: DataFrame, pred: Column) -> DataFrame:
        return scope.filter(~pred)

    def _run() -> dict[str, Any]:
        n = _mutate_partitions(spark, path, predicate, transform, partition_col)
        return {"query_id": new_query_id(), "rows_affected": n}

    return run_task("cow_delete", _run, logger, path=path)


def cow_merge(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    key_cols: list[str],
    partition_col: str | None = None,
    logger: LogBlock | None = None,
) -> dict[str, Any]:
    """MERGE INTO <table> USING source ON keys — upsert semantics: target
    rows matching a source key are replaced by the source row, unmatched
    source rows are inserted. Copy-on-write like update/delete: only
    partitions holding a matched target row or receiving a source row are
    rewritten (dynamic partition overwrite); when partitioned, `source`
    must carry `partition_col`. Source keys must be unique (the standard
    MERGE precondition — table formats raise on multiple source matches).
    Target keys should be unique too: duplicate target rows per key are
    all replaced by the single source row (the merge dedups them), and
    n_updated counts matched KEYS, not the replaced row multiplicity.
    -> {query_id, n_updated, n_inserted, rows_affected}.
    """

    def _run() -> dict[str, Any]:
        target = spark.read.parquet(path)
        cols = target.columns
        keys = source.select(*key_cols).distinct()
        # Count matched distinct source keys (not matched target rows): with
        # duplicate target rows per key the row count would exceed n_source
        # and drive n_inserted negative.
        n_updated = keys.join(target, key_cols, "left_semi").count()
        n_source = source.count()
        n_inserted = n_source - n_updated
        if partition_col is None:
            merged = materialize(
                target.join(source.select(*key_cols), key_cols, "left_anti")
                .unionByName(source.select(*cols)),
                "checkpoint",
            )
            merged.write.mode("overwrite").parquet(path)
        else:
            tgt_days = (
                target.join(keys, key_cols, "left_semi")
                .select(partition_col)
                .distinct()
            )
            days = [
                r[0]
                for r in tgt_days.unionByName(
                    source.select(partition_col).distinct()
                )
                .distinct()
                .collect()
            ]
            scope = target.filter(F.col(partition_col).isin(days))
            rewritten = materialize(
                scope.join(source.select(*key_cols), key_cols, "left_anti")
                .unionByName(source.select(*cols)),
                "checkpoint",
            )
            _overwrite_partitions(rewritten, path, partition_col)
        _refresh_after_rewrite(spark, path)
        return {
            "query_id": new_query_id(),
            "n_updated": n_updated,
            "n_inserted": n_inserted,
            "rows_affected": n_source,
        }

    return run_task("cow_merge", _run, logger, path=path)
