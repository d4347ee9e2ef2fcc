"""Testdata catalog: schema-on-read Parquet loading (operator A1).

Replaces the reference's `SELECT * FROM {db}.{schema}.{table}` full scans
(reference: overlap_checks.py:50-51, snowflake_tasks.py:174,282,393,533)
with `spark.read.parquet` — Catalyst pushes filters/projections into the
scan, so callers never pay for a true full scan.

Scale notes:
  - Loading is lazy; no data moves until an action. Filters composed later
    reach the parquet reader (`PushedFilters` in .explain).
  - `events.ts` is parquet TIMESTAMP(NANOS): Spark's reader rejects it
    unless `spark.sql.legacy.parquet.nanosAsLong` is on (the engine's
    sessions start with it; the loader sets it on any other session), and
    the loader rebuilds a TIMESTAMP_NTZ column timezone-independently
    (functions/timeops.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from sample_data_pipeline_project_spark.functions.timeops import (
    NANOS_AS_LONG_CONF,
    ensure_ts_ntz,
)
from sample_data_pipeline_project_spark.schema import TESTDATA_TABLES


# Memoized footer schemas, keyed by resolved parquet path. The testdata
# tables are immutable for a session, yet every `spark.read.parquet`
# re-runs the footer/schema-inference job — measured round 11: 350 of
# 354 workload CONSTRUCTIONS launched 1-7 such jobs, i.e. thousands of
# driver round-trips per bench/suite run that an explicit schema avoids.
# At 100 TB the same applies with interest: footer inference against
# object storage is a listing + range-read per build, so production
# readers pin schemas (or read them from a catalog) and so does this
# loader after first contact. Keyed by realpath so distinct corpora
# (gate testdata, .scaledata decades, test fixtures) never share an
# entry; anything outside load_table (cow/snapshot table writes, test
# sinks) is unaffected.
_SCHEMA_CACHE: dict[str, object] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table as a DataFrame (lazy; zero jobs after the
    first per-path load thanks to the memoized footer schema)."""
    import os

    if name not in TESTDATA_TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TESTDATA_TABLES}")
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    key = os.path.realpath(path)
    if name == "events" and spark.conf.get(NANOS_AS_LONG_CONF) != "true":
        # The engine starts its sessions with this conf on; a session it
        # did not start (a driver's) gets it here, the one conf write
        # outside engine.py. It must be set before the read resolves the
        # footer schema AND still set at execution, so it stays on.
        # Harmless when the writer used TIMESTAMP(MICROS) — the column then
        # arrives as TIMESTAMP_NTZ and ensure_ts_ntz leaves it alone.
        spark.conf.set(NANOS_AS_LONG_CONF, "true")
    cached = _SCHEMA_CACHE.get(key)
    if cached is not None:
        df = spark.read.schema(cached).parquet(path)
    else:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
    return ensure_ts_ntz(df) if name == "events" else df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for `spark.sql` use
    (replaces the reference's USE DATABASE/SCHEMA namespace dance, A27)."""
    for name in TESTDATA_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
