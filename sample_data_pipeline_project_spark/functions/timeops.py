"""Timestamp handling.

The reference round-trips timestamps as ISO-8601 strings across its API
boundary (reference: snowflake_tasks.py:213-216, overlap_checks.py:42-43).
Inside this engine everything is `TIMESTAMP_NTZ` (wall-clock, no zone) so
results are independent of the session timezone and byte-identical to any
naive-timestamp oracle (DuckDB, pandas); formatting to ISO happens only at
the API edge (`ledger.tasks`).

`events.parquet` in the driver testdata is written with parquet
TIMESTAMP(NANOS) which Spark's vectorized reader rejects outright
([PARQUET_TYPE_ILLEGAL]). With `spark.sql.legacy.parquet.nanosAsLong=true`
the column arrives as epoch-nanoseconds LongType; `ns_epoch_to_ntz` converts
that to TIMESTAMP_NTZ *without any timezone math*:

  days  = ns div 86_400e9                      (exact integer arithmetic)
  since = (ns div 1000) mod 86_400e6 micros    (truncation, matching DuckDB's
                                                ns->us truncation)
  ntz   = epoch + make_dt_interval(days, 0, 0, micros/1e6 as DECIMAL)

The seconds argument is DECIMAL so no double rounding occurs; verified
bit-exact against DuckDB on the full events table.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

NANOS_AS_LONG_CONF = "spark.sql.legacy.parquet.nanosAsLong"

# SQL fragment template: {c} is the epoch-nanoseconds BIGINT column name.
NS_EPOCH_TO_NTZ_SQL = (
    "TIMESTAMP_NTZ '1970-01-01 00:00:00' + make_dt_interval("
    "CAST({c} div 86400000000000 AS INT), 0, 0, "
    "CAST(({c} div 1000) % 86400000000 AS DECIMAL(20,6)) / 1000000)"
)


def ns_epoch_to_ntz(col_name: str) -> Column:
    """Epoch-nanoseconds BIGINT column -> TIMESTAMP_NTZ (truncating to us)."""
    return F.expr(NS_EPOCH_TO_NTZ_SQL.format(c=col_name))


def ensure_ts_ntz(df, col: str = "ts"):
    """Normalize an event-time column to TIMESTAMP_NTZ regardless of how the
    parquet writer encoded it. Driver testdata has shipped both shapes:
    TIMESTAMP(NANOS) (arrives as BIGINT under the nanosAsLong conf) and
    TIMESTAMP(MICROS) (arrives as TIMESTAMP_NTZ directly). With the engine's
    fixed UTC session timezone every cast here is wall-clock preserving."""
    dtype = dict(df.dtypes).get(col)
    if dtype is None:
        raise ValueError(f"no column {col!r} in {df.columns}")
    if dtype == "bigint":
        return df.withColumn(col, ns_epoch_to_ntz(col))
    if dtype == "timestamp_ntz":
        return df
    return df.withColumn(col, F.col(col).cast("timestamp_ntz"))


# ---------------------------------------------------------------------------
# Truncated-kernel EWMA (shared by the batch workload and its stream twin)
# ---------------------------------------------------------------------------
EWMA_ALPHA = 0.3
EWMA_LAGS = 8  # weight at lag 7 ~ 0.025; truncation keeps the op a
#                fixed-width window (batch LAG) / fixed-size state (stream)

EWMA_WEIGHTS = [EWMA_ALPHA * (1.0 - EWMA_ALPHA) ** j for j in range(EWMA_LAGS)]


def ewma_sql_exprs(lag_fmt: str) -> tuple[str, str]:
    """(numerator, denominator) SQL over lag columns named via lag_fmt.
    Weights are embedded as repr(float) literals (both engines' parsers
    bind the shortest round-tripping decimal to the identical IEEE
    double) and summed in one fixed textual order, so every intermediate
    double is bit-identical across engines — and across the streaming
    twin, whose Python loop adds the same terms in the same order."""
    num_terms = [
        f"(CASE WHEN {lag_fmt.format(j=j)} IS NULL THEN CAST(0.0 AS DOUBLE) "
        f"ELSE {w!r} * {lag_fmt.format(j=j)} END)"
        for j, w in enumerate(EWMA_WEIGHTS)
    ]
    den_terms = [
        f"(CASE WHEN {lag_fmt.format(j=j)} IS NULL THEN CAST(0.0 AS DOUBLE) "
        f"ELSE CAST({w!r} AS DOUBLE) END)"
        for j, w in enumerate(EWMA_WEIGHTS)
    ]
    return " + ".join(num_terms), " + ".join(den_terms)
