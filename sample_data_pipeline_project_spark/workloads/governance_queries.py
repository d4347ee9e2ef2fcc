"""Pipeline-governance workloads: distribution-drift (PSI), k-anonymity
privacy audit, CUSUM change-point detection, and a seasonal-baseline
forecast-error report.

These are the monitoring/audit queries a production ingest pipeline runs
beside the ledger (reference scope: the ledger tracks *runs*,
snowflake_tasks.py:352-486 checks window continuity; these check the
*data* the runs produced). All four follow the repo's cross-engine hash
contract:

  - money is BIGINT cents via DECIMAL(18,2) (never float->int casts);
  - every aggregate that feeds a float expression is an EXACT integer
    sufficient statistic; the float math is ONE fixed-shape IEEE
    expression, identical textually on both engines;
  - `ln` goes through ROUND(_, 9) before hashing (libm-portable, the
    BM25/pagerank guard);
  - integer division is spelled per-dialect (`div` in Spark, `//` in
    DuckDB) via a shared SQL builder so both sides floor identically.

Scale notes (the 100 TB shapes):
  - PSI / k-anonymity / forecast error are keyed aggregates over a
    bounded output domain (buckets, QI classes, weekday cells) — one
    map-side-combinable shuffle each, then bounded-size finishing joins.
  - CUSUM windows run over the per-day AGGREGATE series partitioned by
    o_orderpriority — the windowed input is calendar-bounded (days), not
    row-bounded, so no partition grows with raw data volume.

Layout and source workloads: z-order bit interleaving is pure integer
arithmetic (div/mod by powers of two); the det_range Python DataSource
generates pure-integer rows and the oracle states the identical
generator over DuckDB's range(n); the partitioned round-trip certifies
PartitionFilters on the read side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sample_data_pipeline_project_spark.functions.text import md5_prefix_uint32_sql
from sample_data_pipeline_project_spark.sources.catalog import load_table
from sample_data_pipeline_project_spark.sources.pydatasource import register_det_range
from sample_data_pipeline_project_spark.sources.scratch import scratch_dir
from sample_data_pipeline_project_spark.workloads import workload


_CENTS = "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"

# --------------------------------------------------------------------------
# Population Stability Index drift: 1995 baseline vs 2000 current
# --------------------------------------------------------------------------
_PSI_BUCKETS = 10
_PSI_STEP_CENTS = 5_000_000  # 50k-currency-unit bands


def _psi_sql(intdiv: str) -> str:
    """PSI over fixed price bands; `intdiv` is the dialect's integer
    division operator ('div' for Spark, '//' for DuckDB)."""
    return f"""
WITH priced AS (
  SELECT LEAST({_CENTS} {intdiv} {_PSI_STEP_CENTS}, {_PSI_BUCKETS - 1}) AS bucket,
         CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS yr
  FROM orders
  WHERE EXTRACT(YEAR FROM o_orderdate) IN (1995, 2000)
),
cells AS (
  SELECT bucket,
         SUM(CASE WHEN yr = 1995 THEN 1 ELSE 0 END) AS n_base,
         SUM(CASE WHEN yr = 2000 THEN 1 ELSE 0 END) AS n_cur
  FROM priced GROUP BY bucket
),
tot AS (
  SELECT CAST(SUM(n_base) AS BIGINT) AS t_base,
         CAST(SUM(n_cur) AS BIGINT) AS t_cur
  FROM cells
)
SELECT bucket,
       CAST(n_base AS BIGINT) AS n_base,
       CAST(n_cur AS BIGINT) AS n_cur,
       ROUND(
         (CAST(n_cur + 1 AS DOUBLE) / CAST(t_cur + {_PSI_BUCKETS} AS DOUBLE)
          - CAST(n_base + 1 AS DOUBLE) / CAST(t_base + {_PSI_BUCKETS} AS DOUBLE))
         * ln((CAST(n_cur + 1 AS DOUBLE) / CAST(t_cur + {_PSI_BUCKETS} AS DOUBLE))
              / (CAST(n_base + 1 AS DOUBLE) / CAST(t_base + {_PSI_BUCKETS} AS DOUBLE))),
         9) AS psi_term
FROM cells CROSS JOIN tot
"""


@workload("dq_psi_drift", oracle=_psi_sql("//"))
def dq_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between a baseline year (1995) and a
    current year (2000) over fixed order-price bands — the standard
    "did my feature distribution move?" monitor. ONE conditional-sum
    scan produces both histograms (no per-period re-scan); the
    bucket-domain is fixed ({n} cells), so the totals join is a
    broadcast of a 1-row frame. Counts are exact integers with add-one
    smoothing; the PSI term is a single fixed-shape IEEE expression
    ROUND(9)ed for libm portability. At 100 TB this is one
    map-side-combinable shuffle on a 10-value key."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_psi_sql("div"))


# --------------------------------------------------------------------------
# k-anonymity audit over quasi-identifiers
# --------------------------------------------------------------------------
_KANON_K = 5

_KANON_SQL = f"""
WITH classes AS (
  SELECT c_mktsegment, CAST(c_nationkey AS BIGINT) AS c_nationkey,
         COUNT(*) AS class_size
  FROM customer GROUP BY c_mktsegment, c_nationkey
),
tot AS (SELECT CAST(SUM(class_size) AS BIGINT) AS n_rows FROM classes)
SELECT c_mktsegment, c_nationkey,
       CAST(class_size AS BIGINT) AS class_size,
       CASE WHEN class_size < {_KANON_K} THEN 1 ELSE 0 END AS at_risk,
       CAST(class_size AS DOUBLE) / CAST(n_rows AS DOUBLE) AS row_share
FROM classes CROSS JOIN tot
"""


@workload("dq_k_anonymity", oracle=_KANON_SQL)
def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit: equivalence-class sizes over the
    quasi-identifier pair (c_mktsegment, c_nationkey) with an at-risk
    flag for classes below k=5 — the privacy check a training-data
    release pipeline runs before shipping user-derived rows (complements
    the PII scrubber in functions/text.py). One keyed aggregate; the
    class domain is |segments| x |nations| (bounded), so the total-rows
    join is a 1-row broadcast. At 100 TB: one map-side-combinable
    shuffle, output bounded by the QI domain, not the data."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_KANON_SQL)


# --------------------------------------------------------------------------
# CUSUM change-point detection over per-priority daily revenue
# --------------------------------------------------------------------------
_CUSUM_SQL = f"""
WITH daily AS (
  SELECT o_orderpriority AS priority,
         CAST(o_orderdate AS DATE) AS day,
         CAST(SUM({_CENTS}) AS BIGINT) AS day_cents
  FROM orders GROUP BY o_orderpriority, CAST(o_orderdate AS DATE)
),
stats AS (
  SELECT priority, day, day_cents,
         CAST(SUM(day_cents) OVER (PARTITION BY priority ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s_t,
         CAST(ROW_NUMBER() OVER (PARTITION BY priority ORDER BY day) AS BIGINT) AS t,
         CAST(SUM(day_cents) OVER (PARTITION BY priority) AS BIGINT) AS total_cents,
         CAST(COUNT(*) OVER (PARTITION BY priority) AS BIGINT) AS n_days
  FROM daily
),
cusum AS (
  SELECT priority, day, day_cents,
         n_days * s_t - t * total_cents AS cusum_scaled,
         n_days
  FROM stats
)
SELECT priority, day, day_cents,
       CAST(cusum_scaled AS DOUBLE) / CAST(n_days AS DOUBLE) AS cusum_cents,
       CASE WHEN ABS(cusum_scaled) = MAX(ABS(cusum_scaled))
                 OVER (PARTITION BY priority)
            THEN 1 ELSE 0 END AS is_changepoint
FROM cusum
"""


@workload("timeseries_cusum_changepoints", oracle=_CUSUM_SQL)
def timeseries_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection on per-priority daily revenue: the
    classic mean-shift detector CUSUM_t = sum_(s<=t)(x_s - mean), with
    the argmax |CUSUM| day flagged as the change point. The whole
    statistic is computed in INTEGER arithmetic — cusum_scaled =
    n*S_t - t*T avoids the fractional mean entirely — and only the
    final display value divides (one IEEE op), so the argmax flag is an
    exact-integer comparison on both engines. Scale shape: the raw scan
    collapses to a calendar-bounded per-(priority, day) aggregate FIRST;
    every window then rides the priority partitioning over at most
    |days| rows per group — no window input grows with raw data volume,
    and no Exchange SinglePartition appears (guarded by test_plans)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_CUSUM_SQL)


# --------------------------------------------------------------------------
# Seasonal-naive forecast error (weekday baseline, 2000 holdout)
# --------------------------------------------------------------------------
def _forecast_sql(datediff_expr: str) -> str:
    """`datediff_expr` must yield integer days from 1995-01-02 (a Monday)
    to `day` in the enclosing dialect."""
    return f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM({_CENTS}) AS BIGINT) AS day_cents
  FROM orders GROUP BY CAST(o_orderdate AS DATE)
),
keyed AS (
  SELECT day, day_cents, CAST(({datediff_expr}) % 7 AS BIGINT) AS dow
  FROM daily
),
train AS (
  SELECT dow, CAST(SUM(day_cents) AS BIGINT) AS s_dow,
         CAST(COUNT(*) AS BIGINT) AS n_train_days
  FROM keyed WHERE day < DATE '2000-01-01' GROUP BY dow
),
test AS (
  SELECT dow, day, day_cents FROM keyed
  WHERE day >= DATE '2000-01-01' AND day < DATE '2001-01-01'
),
scored AS (
  SELECT t.dow, tr.n_train_days, tr.s_dow,
         ABS(tr.n_train_days * t.day_cents - tr.s_dow) AS err_scaled
  FROM test t JOIN train tr ON t.dow = tr.dow
)
SELECT dow,
       CAST(COUNT(*) AS BIGINT) AS n_test_days,
       MAX(n_train_days) AS n_train_days,
       CAST(MAX(s_dow) AS DOUBLE) / CAST(MAX(n_train_days) AS DOUBLE)
         AS forecast_cents,
       CAST(SUM(err_scaled) AS DOUBLE)
         / CAST(MAX(n_train_days) * COUNT(*) AS DOUBLE) AS mae_cents
FROM scored GROUP BY dow
"""


@workload(
    "forecast_seasonal_baseline",
    oracle=_forecast_sql("date_diff('day', DATE '1995-01-02', day)"),
)
def forecast_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast audit: predict each 2000 day's revenue as
    the weekday mean from 1995-1999 and report per-weekday MAE — the
    capacity-planning sanity metric every ingest pipeline keeps. The
    weekday key is epoch-anchored day-count mod 7 (portable across
    engines, unlike dialect-specific DOW numbering). MAE is exact until
    the last step: err_scaled = |n_dow * actual - sum_dow| is integer
    (the fractional forecast never materializes), summed exactly, then
    divided once. Scale shape: calendar-bounded daily aggregate -> 7-row
    train table broadcast back onto test days -> 7-row output."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_forecast_sql("datediff(day, DATE '1995-01-02')"))


# --------------------------------------------------------------------------
# MAD-based robust outlier audit (median absolute deviation)
# --------------------------------------------------------------------------
_BAL_CENTS = "CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)"

_MAD_SQL = f"""
WITH base AS (
  SELECT c_mktsegment AS segment, {_BAL_CENTS} AS cents FROM customer
),
med AS (
  SELECT segment, CAST(2 * median(cents) AS BIGINT) AS med2
  FROM base GROUP BY segment
),
dev AS (
  SELECT b.segment, b.cents, ABS(2 * b.cents - m.med2) AS dev2
  FROM base b JOIN med m ON b.segment = m.segment
),
mad AS (
  SELECT segment, CAST(2 * median(dev2) AS BIGINT) AS mad4
  FROM dev GROUP BY segment
)
SELECT d.segment,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MAX(md.med2) AS DOUBLE) / 2.0 AS median_cents,
       CAST(MAX(m.mad4) AS DOUBLE) / 4.0 AS mad_cents,
       CAST(SUM(CASE WHEN 2 * d.dev2 > 3 * m.mad4 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
FROM dev d
JOIN mad m ON d.segment = m.segment
JOIN med md ON d.segment = md.segment
GROUP BY d.segment
"""


@workload("dq_mad_robust_outliers", oracle=_MAD_SQL)
def dq_mad_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier audit: per-segment median + median-absolute-
    deviation over account balances, counting rows with
    |x - median| > 3 * MAD — the outlier detector that (unlike the
    z-score in events_anomaly_zscore) is not itself corrupted by the
    outliers it hunts. The entire decision is INTEGER arithmetic:
    medians are doubled (2*median of ints is an exact int even when the
    median falls between two values), deviations are |2x - med2|, and
    the 3-MAD test compares 2*dev2 > 3*mad4 — no float enters until the
    two display columns. Exact grouped medians are percentile sorts
    within each segment here; at 100 TB the same statistic comes from
    the distributed bucket-offset order-statistic used by
    sketch_approx_quantiles' certification path."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        _MAD_SQL.replace("median(cents)", "percentile(cents, 0.5)").replace(
            "median(dev2)", "percentile(dev2, 0.5)"
        )
    )


# --------------------------------------------------------------------------
# Benford first-digit audit
# --------------------------------------------------------------------------
def _benford_sql(strtype: str) -> str:
    """`strtype` is the dialect's string type name for CAST (STRING in
    Spark, VARCHAR in DuckDB); everything else is shared text."""
    return f"""
WITH d AS (
  SELECT CAST(substr(CAST({_CENTS} AS {strtype}), 1, 1) AS BIGINT) AS digit
  FROM orders WHERE {_CENTS} > 0
),
obs AS (
  SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs FROM d GROUP BY digit
),
tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM obs)
SELECT digit, n_obs,
       ROUND(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0), 9)
         AS p_expected,
       CAST(n_obs AS DOUBLE) / CAST(n AS DOUBLE) AS p_observed,
       ROUND(CAST(n_obs AS DOUBLE) / CAST(n AS DOUBLE)
             - ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0), 9)
         AS deviation
FROM obs CROSS JOIN tot
"""


@workload("dq_benford_first_digit", oracle=_benford_sql("VARCHAR"))
def dq_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals — the classic
    fabricated-data / unit-mixing detector for financial columns. The
    first significant digit is taken from the DECIMAL-exact cents string
    (identical integer rendering on both engines — no float log10
    anywhere near the digit extraction); expected shares ln(1+1/d)/ln(10)
    are ROUND(9)ed for libm portability. One map-side-combinable shuffle
    on a 9-value key; the totals join is a 1-row broadcast."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_benford_sql("STRING"))


# --------------------------------------------------------------------------
# Referential-integrity audit (FK orphan check)
# --------------------------------------------------------------------------
_RI_SQL = """
WITH o_orphans AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_orphans,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_rows
  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_custkey IS NULL
),
l_orphans AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_orphans,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n_rows
  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderkey IS NULL
)
SELECT 'orders.o_custkey->customer' AS fk, n_orphans, n_rows,
       CAST(n_orphans AS DOUBLE) / CAST(n_rows AS DOUBLE) AS orphan_share
FROM o_orphans
UNION ALL
SELECT 'lineitem.l_orderkey->orders' AS fk, n_orphans, n_rows,
       CAST(n_orphans AS DOUBLE) / CAST(n_rows AS DOUBLE) AS orphan_share
FROM l_orphans
"""


@workload("dq_referential_integrity", oracle=_RI_SQL)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan counts for the two load-bearing
    foreign keys (orders->customer, lineitem->orders) — the DQ check that
    catches partial loads and out-of-order ingestion, complementing the
    rule-based dq_expectations_orders. Each FK is one anti-join-shaped
    LEFT JOIN + IS NULL count: an equi-join on the key (broadcast or
    shuffled by Catalyst/AQE as sizes dictate), never a cross product;
    output is 2 rows regardless of scale."""
    for t in ("orders", "customer", "lineitem"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_RI_SQL)


# --------------------------------------------------------------------------
# Equi-depth histogram (ANALYZE-style optimizer statistics)
# --------------------------------------------------------------------------
_EQD_BUCKETS = 10

_EQD_SQL = f"""
WITH priced AS (
  SELECT o_orderpriority AS priority, {_CENTS} AS cents, o_orderkey
  FROM orders
),
tiled AS (
  SELECT priority, cents,
         NTILE({_EQD_BUCKETS}) OVER (
           PARTITION BY priority ORDER BY cents, o_orderkey
         ) AS bucket
  FROM priced
)
SELECT priority, CAST(bucket AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(cents) AS BIGINT) AS lo_cents,
       CAST(MAX(cents) AS BIGINT) AS hi_cents
FROM tiled GROUP BY priority, bucket
"""


@workload("stats_equidepth_histogram", oracle=_EQD_SQL)
def stats_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-height) histogram per priority class — the
    ANALYZE-TABLE statistic a cost-based optimizer uses for selectivity
    estimation: {n} buckets of near-equal row count with their value
    boundaries. NTILE is made deterministic by the unique
    (cents, o_orderkey) tiebreak, so bucket membership — and therefore
    every boundary — is exact on both engines. Windows are partitioned
    by the priority class (the per-column-group statistics unit); at
    true 100 TB column granularity the same histogram comes from the
    distributed bucket-offset order statistic (sketch_approx_quantiles'
    certification path) rather than a per-group sort."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_EQD_SQL)


# --------------------------------------------------------------------------
# Source-format roundtrip certification (CSV + JSON-lines connectors)
# --------------------------------------------------------------------------
_FMT_ORACLE = """
WITH src AS (
  SELECT o_orderstatus, CAST(o_totalprice AS DECIMAL(18,2)) AS price_dec
  FROM orders
)
SELECT 'csv' AS fmt, o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(price_dec) AS DOUBLE) AS sum_price
FROM src GROUP BY o_orderstatus
UNION ALL
SELECT 'json' AS fmt, o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(price_dec) AS DOUBLE) AS sum_price
FROM src GROUP BY o_orderstatus
"""


@workload("source_csv_json_roundtrip", oracle=_FMT_ORACLE)
def source_csv_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-connector certification: orders written to CSV and
    JSON-lines, read back with explicit schemas, and aggregated — the
    oracle computes the SAME aggregate from the original parquet, so a
    hash match proves the roundtrip lossless (the reason money rides as
    DECIMAL(18,2): decimal-string rendering is exact in both directions,
    where raw doubles would depend on the writer's float formatting).
    Both connectors scale like parquet reads (splittable files,
    schema-on-read, predicate evaluation after parse); the write here is
    a one-time fixture, excluded from nothing — it IS the measured
    workload, matching how an ingest job would land raw vendor feeds."""
    import os
    import shutil

    root = scratch_dir("fmt_roundtrip")

    src = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price_dec"),
    )
    csv_path = f"{root}/orders_csv"
    json_path = f"{root}/orders_json"
    src.write.option("header", True).csv(csv_path)
    src.write.json(json_path)

    schema = "o_orderstatus string, price_dec decimal(18,2)"
    csv_df = spark.read.schema(schema).option("header", True).csv(csv_path)
    json_df = spark.read.schema(schema).json(json_path)

    def agg(df: DataFrame, fmt: str) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("price_dec").cast("double").alias("sum_price"),
        ).select(F.lit(fmt).alias("fmt"), "o_orderstatus", "n_orders", "sum_price")

    return agg(csv_df, "csv").unionAll(agg(json_df, "json"))


# --------------------------------------------------------------------------
# ORC source roundtrip certification (columnar-format connector + NTZ ts)
# --------------------------------------------------------------------------
_ORC_ORACLE = """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       MIN(CAST(o_orderdate AS TIMESTAMP)) AS min_ts,
       MAX(CAST(o_orderdate AS TIMESTAMP)) AS max_ts
FROM orders GROUP BY o_orderstatus
"""


@workload("source_orc_roundtrip", oracle=_ORC_ORACLE)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC connector certification (the columnar sibling of
    source_csv_json_roundtrip): orders written to ORC via the uniform
    formats API (sources/formats.py) — including a TIMESTAMP_NTZ column,
    the encoding where ORC's writer-timezone semantics classically
    corrupt parquet-born data — read back with its embedded schema and
    aggregated; the oracle computes the identical aggregate from the
    original parquet, so a hash match certifies both the value fidelity
    and the timezone-free timestamp contract across the format boundary.
    ORC scans scale like parquet (splittable stripes, predicate pushdown,
    column projection)."""
    import os
    import shutil

    from sample_data_pipeline_project_spark.sources.formats import (
        read_table,
        write_table,
    )

    root = scratch_dir("fmt_orc_roundtrip")

    src = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price_dec"),
        F.col("o_orderdate").cast("timestamp_ntz").alias("ots"),
    )
    path = f"{root}/orders_orc"
    write_table(src, path, fmt="orc")
    orc_df = read_table(spark, path, fmt="orc")
    return orc_df.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("price_dec").cast("double").alias("sum_price"),
        F.min("ots").alias("min_ts"),
        F.max("ots").alias("max_ts"),
    )


# --------------------------------------------------------------------------
# Nested-struct schema pruning through a parquet boundary
# --------------------------------------------------------------------------
_NESTED_ORACLE = """
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
FROM events GROUP BY user_id
"""


@workload("nested_struct_pruning", oracle=_NESTED_ORACLE)
def nested_struct_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NESTED-COLUMN projection through a real parquet boundary: events
    are re-landed with their attributes folded into a two-level struct
    (payload.who.user_id etc.), read back, and ONLY payload.who.user_id
    is referenced — Catalyst's nested-schema pruning must push the
    one-leaf ReadSchema into the scan instead of materializing the whole
    struct (asserted in tests/test_plans.py; at 100 TB reading one leaf
    vs the full payload struct is the whole game for wide event schemas).
    The aggregate is hashed against the flat-table oracle, certifying the
    nested roundtrip is lossless."""
    import os
    import shutil

    path = scratch_dir("nested_events")

    ev = load_table(spark, sf_dir, "events")
    nested = ev.select(
        "event_id",
        F.struct(
            F.struct("user_id", "event_type").alias("who"),
            F.struct("ts", "value").alias("what"),
        ).alias("payload"),
    )
    nested.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    return back.groupBy(
        F.col("payload.who.user_id").alias("user_id")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))


# --------------------------------------------------------------------------
# Order-insensitive table fingerprint (fast cross-replica equality check)
# --------------------------------------------------------------------------
def _md5_word2_sql(expr: str) -> str:
    """Hex chars 9..16 of md5(expr) as a u32 — the second independent
    fingerprint word (same portable substr/instr technique as
    md5_prefix_uint32_sql)."""
    h = f"md5({expr})"
    terms = [
        f"(instr('0123456789abcdef', substr({h}, {k}, 1)) - 1)"
        f" * CAST({16 ** (16 - k)} AS BIGINT)"
        for k in range(9, 17)
    ]
    return "(" + " + ".join(terms) + ")"


_FP_ROW = (
    "CAST(o_orderkey AS STRING) || '|' || CAST(o_custkey AS STRING)"
    " || '|' || o_orderstatus || '|' || CAST(CAST(CAST(o_totalprice"
    " AS DECIMAL(18,2)) * 100 AS BIGINT) AS STRING)"
)

_FP_ORACLE = f"""
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(bit_xor({md5_prefix_uint32_sql(_FP_ROW)}) AS BIGINT) AS fp_w1,
       CAST(bit_xor({_md5_word2_sql(_FP_ROW)}) AS BIGINT) AS fp_w2
FROM orders GROUP BY o_orderstatus
"""


@workload("dq_table_fingerprint", oracle=_FP_ORACLE)
def dq_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER-INSENSITIVE TABLE FINGERPRINT: per-row md5 over a canonical
    integer/string rendering (no float formatting anywhere), reduced with
    the commutative-associative BIT_XOR aggregate — the O(1)-state
    replica-equality primitive (anti-entropy's cheap first pass before
    C76's row-level diff): equal fingerprints per group mean the row SETS
    match with 2^-64 collision odds, computed with one map-side-combinable
    pass and no shuffle of row data. The oracle recomputes the identical
    fingerprint in DuckDB, certifying the canonical rendering is
    engine-portable."""
    o = load_table(spark, sf_dir, "orders")
    row = F.expr(_FP_ROW)
    w1 = F.expr(md5_prefix_uint32_sql(_FP_ROW))
    w2 = F.expr(_md5_word2_sql(_FP_ROW))
    return (
        o.select("o_orderstatus", row.alias("r"), w1.alias("w1"), w2.alias("w2"))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.expr("bit_xor(w1)").cast("long").alias("fp_w1"),
            F.expr("bit_xor(w2)").cast("long").alias("fp_w2"),
        )
    )


# --------------------------------------------------------------------------
# Parquet schema-evolution certification (mergeSchema union)
# --------------------------------------------------------------------------
_EVO_ORACLE = """
WITH unioned AS (
  SELECT o_orderstatus,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         CAST(NULL AS VARCHAR) AS o_orderpriority
  FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '1995-01-01'
  UNION ALL
  SELECT o_orderstatus,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         o_orderpriority
  FROM orders WHERE CAST(o_orderdate AS DATE) >= DATE '1995-01-01'
)
SELECT o_orderstatus,
       COALESCE(o_orderpriority, '<pre-evolution>') AS priority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(cents) AS BIGINT) AS sum_cents
FROM unioned
GROUP BY o_orderstatus, COALESCE(o_orderpriority, '<pre-evolution>')
"""


@workload("source_schema_evolution", oracle=_EVO_ORACLE)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA-EVOLUTION certification for the parquet source: a v1 batch
    lands with (status, cents), a later v2 batch adds the
    o_orderpriority column — the additive-column evolution every
    long-lived ingestion table goes through. The read side reconstructs
    ONE logical table across both physical schemas via mergeSchema
    (Spark's parquet schema-merge; rows from pre-evolution files surface
    the new column as NULL), and the aggregate is value-hashed against an
    oracle that restates the evolution as UNION ALL + NULL — a hash match
    proves the merge is lossless and NULL-backfill semantics exact. At
    scale the schema merge is planning-time footer work per file; data
    pages are untouched."""
    from sample_data_pipeline_project_spark.sources.scratch import scratch_dir

    o = load_table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    day = F.to_date("o_orderdate")
    root = scratch_dir("schema_evolution")
    v1 = o.filter(day < F.lit("1995-01-01")).select(
        "o_orderstatus", cents.alias("cents")
    )
    v2 = o.filter(day >= F.lit("1995-01-01")).select(
        "o_orderstatus", cents.alias("cents"), "o_orderpriority"
    )
    v1.write.parquet(f"{root}/batch=1")
    v2.write.parquet(f"{root}/batch=2")
    merged = spark.read.option("mergeSchema", True).parquet(
        f"{root}/batch=1", f"{root}/batch=2"
    )
    return (
        merged.groupBy(
            "o_orderstatus",
            F.coalesce(F.col("o_orderpriority"), F.lit("<pre-evolution>")).alias(
                "priority"
            ),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
    )


# --------------------------------------------------------------------------
# Z-order layout cells: multi-dimensional clustering key for file layout
# --------------------------------------------------------------------------
_Z_BITS = 4  # 16 buckets per dimension -> 256 cells
_Z_PRICE_WIDTH = 40000.0


def _zvalue_sql(xb: str, yb: str, intdiv: str) -> str:
    """Bit-interleave two {0..15} bucket ids into an 8-bit z-value using
    only integer div/mod (engine-portable; `intdiv` is the engine's
    integer-division operator: Spark 'DIV', DuckDB '//')."""
    terms = []
    for i in range(_Z_BITS):
        bit_x = f"((({xb}) {intdiv} {1 << i}) % 2)"
        bit_y = f"((({yb}) {intdiv} {1 << i}) % 2)"
        terms.append(f"({bit_x} * {1 << (2 * i)})")
        terms.append(f"({bit_y} * {1 << (2 * i + 1)})")
    return " + ".join(terms)


_XB = "CAST(o_custkey % 16 AS INT)"
_YB = (
    f"CAST(LEAST(15, CAST(FLOOR(o_totalprice / {_Z_PRICE_WIDTH}) AS INT)) AS INT)"
)

_Z_ORACLE = f"""
WITH cells AS (
  SELECT {_zvalue_sql(_XB, _YB, '//')} AS z_cell,
         CAST(o_totalprice AS DECIMAL(18,2)) AS price
  FROM orders
)
SELECT z_cell, COUNT(*) AS n_orders,
       CAST(SUM(price) AS DOUBLE) AS total_price
FROM cells GROUP BY z_cell
"""


@workload("layout_zorder_cells", oracle=_Z_ORACLE)
def layout_zorder_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER (Morton) layout cells over orders: bucketize (custkey,
    totalprice) to 4 bits each and bit-interleave into an 8-bit z-value —
    the multi-dimensional clustering key that, used as a sort/partition
    key at write time, gives min-max file skipping on BOTH dimensions at
    once (each z-cell is a rectangle in (custkey, price) space, so a range
    predicate on either dimension touches a provably bounded subset of
    cells — `sources/layout.py:write_zordered` is the writer and
    tests/test_layout.py measures the pruning). This workload is the
    driver-gated cell-assignment/aggregation half: per-cell row counts and
    revenue, interleaving via integer div/mod only — exact cross-engine."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            F.expr(_zvalue_sql(_XB, _YB, "DIV")).alias("z_cell"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        )
        .groupBy("z_cell")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("price").cast("double").alias("total_price"),
        )
    )


# --------------------------------------------------------------------------
# Join-key skew diagnostic
# --------------------------------------------------------------------------
_SKEW_TOP = 5

_SKEW_ORACLE = f"""
WITH per_key AS (
  SELECT l_suppkey, COUNT(*) AS cnt FROM lineitem GROUP BY l_suppkey
),
tot AS (
  SELECT SUM(cnt) AS total_rows, COUNT(*) AS n_keys FROM per_key
)
SELECT p.l_suppkey, p.cnt,
       CAST(p.cnt AS DOUBLE) / t.total_rows AS share,
       CAST(p.cnt AS DOUBLE) * t.n_keys / t.total_rows AS skew_vs_avg
FROM per_key p CROSS JOIN tot t
ORDER BY p.cnt DESC, p.l_suppkey ASC
LIMIT {_SKEW_TOP}
"""


@workload("dq_skew_report", oracle=_SKEW_ORACLE)
def dq_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-KEY SKEW diagnostic for lineitem.l_suppkey — the operational
    pre-check before a 100 TB shuffle join: per-key row counts, the top-{k}
    heaviest keys, each key's share of all rows and its ratio to the mean
    key (skew_vs_avg >> 1 means AQE skew-join splitting or salting —
    operators/skewjoin.py — is warranted). One keyed aggregate plus a
    broadcast single-row total; top-k via TakeOrderedAndProject. All
    divisions are exact-integer -> double: bit-identical cross-engine."""
    li = load_table(spark, sf_dir, "lineitem")
    per_key = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("cnt"))
    tot = per_key.agg(
        F.sum("cnt").alias("total_rows"), F.count(F.lit(1)).alias("n_keys")
    )
    return (
        per_key.crossJoin(F.broadcast(tot))
        .select(
            "l_suppkey",
            "cnt",
            (F.col("cnt").cast("double") / F.col("total_rows")).alias("share"),
            (
                F.col("cnt").cast("double")
                * F.col("n_keys")
                / F.col("total_rows")
            ).alias("skew_vs_avg"),
        )
        .orderBy(F.col("cnt").desc(), F.col("l_suppkey").asc())
        .limit(_SKEW_TOP)
    )


# --------------------------------------------------------------------------
# C173 — functional-dependency discovery scores (g3 violation rate)
# --------------------------------------------------------------------------

_FD_SPECS: list[tuple[str, str, str]] = [
    ("orders", "o_orderkey", "o_orderdate"),
    ("orders", "o_custkey", "o_orderpriority"),
    ("lineitem", "l_orderkey", "l_returnflag"),
    ("lineitem", "l_partkey", "l_suppkey"),
]


def _fd_sql(table: str, lhs: str, rhs: str) -> str:
    return f"""
SELECT '{table}.{lhs}->{rhs}' AS fd,
       CAST(SUM(cnt) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_lhs,
       CAST(SUM(cnt) - SUM(mx) AS BIGINT) AS violations,
       CAST(SUM(cnt) - SUM(mx) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE) AS g3_rate
FROM (
  SELECT {lhs}, CAST(SUM(c) AS BIGINT) AS cnt, CAST(MAX(c) AS BIGINT) AS mx
  FROM (
    SELECT {lhs}, {rhs}, CAST(COUNT(*) AS BIGINT) AS c
    FROM {table} GROUP BY {lhs}, {rhs}
  ) GROUP BY {lhs}
)"""


_FD_ORACLE = "\nUNION ALL\n".join(_fd_sql(*spec) for spec in _FD_SPECS)


@workload("dq_functional_dependency", oracle=_FD_ORACLE)
def dq_functional_dependency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate functional-dependency profiling: for each candidate
    X -> Y, the g3 measure — the minimum fraction of rows to delete for
    the FD to hold exactly (n_rows minus, per X group, the count of the
    plurality Y value). Two grouped aggregations per candidate, both
    keyed on the candidate columns — fully distributed, no windows, and
    the per-candidate results union into one tiny report. The schema-
    inference primitive data-quality suites (Deequ/Metanome-style) run
    before trusting a key or denormalizing a column at warehouse scale."""
    frames = []
    for table, lhs, rhs in _FD_SPECS:
        t = load_table(spark, sf_dir, table)
        pairs = t.groupBy(lhs, rhs).agg(F.count(F.lit(1)).cast("long").alias("c"))
        per_lhs = pairs.groupBy(lhs).agg(
            F.sum("c").cast("long").alias("cnt"),
            F.max("c").cast("long").alias("mx"),
        )
        frames.append(
            per_lhs.agg(
                F.lit(f"{table}.{lhs}->{rhs}").alias("fd"),
                F.sum("cnt").cast("long").alias("n_rows"),
                F.count(F.lit(1)).cast("long").alias("n_lhs"),
                (F.sum("cnt") - F.sum("mx")).cast("long").alias("violations"),
                (
                    (F.sum("cnt") - F.sum("mx")).cast("long").cast("double")
                    / F.sum("cnt").cast("long").cast("double")
                ).alias("g3_rate"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


# --------------------------------------------------------------------------
# C183 — integer-keyspace gap detection (missing-id islands)
# --------------------------------------------------------------------------

_GAP_BUCKET = 4096
_GAP_TOP_K = 100

_IDGAP_ORACLE = f"""
WITH ks AS (
  SELECT DISTINCT o_orderkey AS k FROM orders WHERE o_orderstatus = 'F'
),
seq AS (
  SELECT k, LAG(k) OVER (ORDER BY k) AS prev FROM ks
)
SELECT CAST(prev + 1 AS BIGINT) AS gap_start,
       CAST(k - 1 AS BIGINT) AS gap_end,
       CAST(k - prev - 1 AS BIGINT) AS gap_len
FROM seq
WHERE prev IS NOT NULL AND k - prev > 1
ORDER BY gap_len DESC, gap_start ASC
LIMIT {_GAP_TOP_K}
"""


@workload("dq_sequential_id_gaps", oracle=_IDGAP_ORACLE)
def dq_sequential_id_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-id detection over an integer key domain: the top-{k}
    largest holes in the o_orderkey sequence of the FULFILLED slice
    (the testdata keyspace is dense, so the status filter is what makes
    holes — exactly the 'which id ranges never reached state X' audit).
    The successor scan never sorts globally: keys
    bucket by k div {b}, LAG runs inside (bucket)-partitioned windows,
    and the bucket-boundary gaps come from the bounded per-bucket
    (min, max) summary — keyspace/{b} rows — stitched on the driver
    (two-level recursion of the same machinery at larger domains). The
    final top-k is ORDER BY + LIMIT (TakeOrderedAndProject). The oracle
    states the same gaps from a plain single-node LAG. This is the DQ
    primitive behind 'did ingestion drop a batch?' on monotone ids."""
    o = load_table(spark, sf_dir, "orders")
    ks = (
        o.filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_orderkey").alias("k"))
        .distinct()
    )
    ks = ks.withColumn("bkt", F.expr(f"k div {_GAP_BUCKET}"))
    w = Window.partitionBy("bkt").orderBy("k")
    inner = (
        ks.withColumn("prev", F.lag("k").over(w))
        .filter(F.col("prev").isNotNull() & (F.col("k") - F.col("prev") > 1))
        .select(
            (F.col("prev") + 1).cast("long").alias("gap_start"),
            (F.col("k") - 1).cast("long").alias("gap_end"),
            (F.col("k") - F.col("prev") - 1).cast("long").alias("gap_len"),
        )
    )
    bsum = sorted(
        ks.groupBy("bkt").agg(F.min("k").alias("lo"), F.max("k").alias("hi")).collect(),
        key=lambda r: r["bkt"],
    )
    boundary = []
    for prev_row, row in zip(bsum, bsum[1:]):
        if row["lo"] - prev_row["hi"] > 1:
            boundary.append(
                (prev_row["hi"] + 1, row["lo"] - 1, row["lo"] - prev_row["hi"] - 1)
            )
    gaps = inner
    if boundary:
        gaps = gaps.unionByName(
            spark.createDataFrame(
                boundary, "gap_start long, gap_end long, gap_len long"
            )
        )
    return gaps.orderBy(F.col("gap_len").desc(), F.col("gap_start").asc()).limit(
        _GAP_TOP_K
    )


# --------------------------------------------------------------------------
# C187 — hive-partitioned write + partition-pruned read-back certification
# --------------------------------------------------------------------------

_PART_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(ROUND(value, 2) AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
WHERE event_type IN ('click', 'view')
GROUP BY event_type
"""


@workload("source_partitioned_roundtrip", oracle=_PART_ORACLE)
def source_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned layout certification: write events partitioned
    by event_type to a per-process scratch path, read the layout back
    with a partition filter, and prove the round trip preserves the
    data (per-type counts and exact DECIMAL value sums vs the oracle on
    the ORIGINAL table). The workload HARD-FAILS unless the read plan
    shows partition pruning (PartitionFilters on event_type) — a silent
    full-layout scan is a correctness bug of the layout, not a perf
    footnote, because partition pruning is the entire point of the
    directory scheme at 100 TB. Timestamps round-trip through the
    engine's NTZ normalization (sources/catalog.py)."""
    e = load_table(spark, sf_dir, "events")
    root = scratch_dir("part_roundtrip")
    e.write.partitionBy("event_type").mode("overwrite").parquet(root)
    back = spark.read.parquet(root).filter(
        F.col("event_type").isin("click", "view")
    )
    plan = back._jdf.queryExecution().executedPlan().toString()
    if "PartitionFilters: [" not in plan or "event_type" not in plan.split(
        "PartitionFilters", 1
    )[1].split("]", 1)[0]:
        raise AssertionError(
            "partitioned read-back did not prune on event_type; plan:\n" + plan
        )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.round(F.col("value"), 2).cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_value"),
    )


# --------------------------------------------------------------------------
# C195 — Python DataSource API: partitioned deterministic generator
# --------------------------------------------------------------------------

_DS_N = 100_000
_DS_PARTS = 8

_DS_ORACLE = f"""
WITH t AS (
  SELECT CAST(r.range AS BIGINT) AS id,
         CAST(r.range % 10 AS BIGINT) AS bucket,
         CAST((r.range * 2654435761) % 1000003 AS BIGINT) AS val
  FROM range({_DS_N}) r
)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(val) AS BIGINT) AS sum_val,
       CAST(MIN(val) AS BIGINT) AS min_val,
       CAST(MAX(val) AS BIGINT) AS max_val,
       CAST(SUM(CASE WHEN val % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_even
FROM t GROUP BY bucket
"""


@workload("source_python_datasource", oracle=_DS_ORACLE)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark 4 Python DataSource API exercised end to end: a custom
    `DataSource` subclass (sources/pydatasource.py) declares a schema,
    consumes reader options, plans {parts} splittable partitions, and
    streams Arrow batches per partition — the contract for exposing any
    external system (API, queue, bespoke format) as a distributed table
    WITHOUT a JVM connector. The generator is pure integer arithmetic
    (Knuth multiplicative mix), so the oracle states the identical rows
    from range({n}) and the whole source rides the ordinary value-hash
    gate. Partition count is the parallelism knob; each partition owns a
    residue class, so the split is balanced and order-independent."""
    register_det_range(spark)
    t = (
        spark.read.format("det_range")
        .option("n", str(_DS_N))
        .option("partitions", str(_DS_PARTS))
        .load()
    )
    return t.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("val").cast("long").alias("sum_val"),
        F.min("val").cast("long").alias("min_val"),
        F.max("val").cast("long").alias("max_val"),
        F.sum(F.when(F.col("val") % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_even"),
    )


# --------------------------------------------------------------------------
# C223 — cross-field data-quality rule engine (one pass, unpivoted report)
# --------------------------------------------------------------------------
_DQ_RULES: list[tuple[str, str]] = [
    # (rule_name, VIOLATION predicate — true means the row FAILS the rule)
    ("ship_before_order", "l_shipdate < o_orderdate"),
    ("discount_out_of_range", "l_discount < 0 OR l_discount > 1"),
    ("nonpositive_price", "l_extendedprice <= 0"),
    ("negative_tax", "l_tax < 0"),
    ("zero_quantity", "l_quantity < 1"),
]

_DQRULES_ORACLE = f"""
WITH j AS (
  SELECT l.*, o.o_orderdate
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
agg AS (
  SELECT COUNT(*) AS n_checked,
         {', '.join(
             f"COUNT(*) FILTER (WHERE {pred}) AS v_{name}"
             for name, pred in _DQ_RULES)}
  FROM j
)
{' UNION ALL '.join(
    f"SELECT '{name}' AS rule_name, CAST(n_checked AS BIGINT) AS n_checked, "
    f"CAST(v_{name} AS BIGINT) AS n_violations, "
    f"ROUND(CAST(v_{name} AS DOUBLE) / n_checked, 6) AS violation_rate "
    f"FROM agg" for name, _ in _DQ_RULES)}
"""


@workload("dq_cross_field_rules", oracle=_DQRULES_ORACLE)
def dq_cross_field_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-FIELD DQ RULE ENGINE: five referential/range constraints
    (ship-before-order needs the lineitem->orders join; the rest are
    row-local) evaluated in ONE aggregation pass — conditional counts,
    never five scans — then unpivoted to the per-rule report shape
    (rule, checked, violations, rate) via stack(). Adding a rule adds
    one counter to the same pass. This is the constraint-audit layer
    over the single-column profiles of dq_profile_orders (C11) and the
    FK audit (C62)."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = l.join(o, l["l_orderkey"] == o["o_orderkey"])
    aggs = [F.count(F.lit(1)).alias("n_checked")] + [
        F.count(F.when(F.expr(pred), 1)).alias(f"v_{name}")
        for name, pred in _DQ_RULES
    ]
    agg = j.agg(*aggs)
    stack_expr = "stack({n}, {pairs}) AS (rule_name, n_violations)".format(
        n=len(_DQ_RULES),
        pairs=", ".join(f"'{name}', v_{name}" for name, _ in _DQ_RULES),
    )
    return agg.select("n_checked", F.expr(stack_expr)).select(
        "rule_name",
        F.col("n_checked").cast("long"),
        F.col("n_violations").cast("long"),
        F.round(
            F.col("n_violations").cast("double") / F.col("n_checked"), 6
        ).alias("violation_rate"),
    )
