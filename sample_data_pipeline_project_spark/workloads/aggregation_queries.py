"""Aggregation and window workloads over the TPC-H-ish and event testdata:
grouped and conditional aggregates, COUNT(DISTINCT), ROLLUP/CUBE/GROUPING
SETS and GROUPING_ID, PIVOT/UNPIVOT, HAVING, exact percentiles, and the
window-function surface (ranking, running, centered, distribution and
capped windows).

Scale notes (the same as workloads/relational.py, whose `_dsum` these
builders share): dimension tables are broadcast, aggregates are partial
(map-side combine) by construction, and double-typed metrics go through
exact DECIMAL sums with one final cast to DOUBLE.

Determinism notes:
  - grouping-sets output is distinguished by NULL group keys (the data
    has no NULL keys of its own, so the marker is unambiguous);
    grouping-id bit order (first listed column = most significant bit)
    is identical in Spark and DuckDB (probed before registering);
  - percent_rank/cume_dist divide identically-derived integers on both
    engines (one double division per row, same operands -> same bits);
  - boolean aggregates are exact logical folds (DuckDB
    bool_and/bool_or/count_if are the same functions by name);
  - share-of-parent uses a REGION-partitioned window over the grouped
    frame (many small partitions); the corpus total re-enters as a
    bounded driver scalar, never a global window;
  - the capped running sum uses the Skorokhod reflection identity
    b_t = S_t - min(0, min_{j<=t} S_j), turning an apparently sequential
    clamp recurrence into two key-partitioned windows;
  - window_rolling_median uses identical arithmetic EXPRESSION SHAPE on
    both engines (IEEE ops in the same order produce identical bits) and
    explicit FLOOR on fractional index arithmetic;
  - agg_aqe_wide_start_coalesce structurally certifies the engine's AQE
    initial-partition guard (engine.py: coalescePartitions.
    initialPartitionNum = 8 x cores), so a conf regression fails a gate
    instead of resurfacing as an out-of-memory at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sample_data_pipeline_project_spark.sources.catalog import load_table
from sample_data_pipeline_project_spark.workloads import workload
from sample_data_pipeline_project_spark.workloads.relational import _CENTS_O, _dsum


# --------------------------------------------------------------------------
# Ranking window: top-N per group (dense coverage for window functions)
# --------------------------------------------------------------------------
@workload(
    "window_topn_per_nation",
    oracle="""
SELECT n_name, c_custkey, c_acctbal, rnk
FROM (
  SELECT n_name, c_custkey, c_acctbal,
         RANK() OVER (PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey ASC) AS rnk
  FROM customer JOIN nation ON c_nationkey = n_nationkey
) t
WHERE rnk <= 3
""",
)
def window_topn_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 customers by balance per nation — RANK() over a partitioned
    window. Runs as one shuffle on the partition key (no global sort)."""
    c = load_table(spark, sf_dir, "customer")
    nt = load_table(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return (
        c.join(F.broadcast(nt), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("n_name", "c_custkey", "c_acctbal", F.rank().over(w).alias("rnk"))
        .filter(F.col("rnk") <= 3)
    )


@workload(
    "window_running_order_total",
    oracle="""
SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS running_total
FROM orders
WHERE o_custkey < 100
""",
)
def window_running_order_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer running order total — frame-bounded window aggregate
    (rowsBetween unboundedPreceding/currentRow)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double").alias("running_total"),
    )


@workload(
    "rollup_customers_by_region_nation",
    oracle="""
SELECT r_name, n_name, COUNT(*) AS n_customers
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
""",
)
def rollup_customers_by_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ROLLUP — hierarchical subtotals (region, nation, grand)."""
    c = load_table(spark, sf_dir, "customer")
    nt = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(nt), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .rollup("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@workload(
    "having_big_orders_per_customer",
    oracle="""
SELECT o_custkey, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
FROM orders
GROUP BY o_custkey
HAVING COUNT(*) >= 15
""",
)
def having_big_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING (post-aggregation filter)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dsum(F.col("o_totalprice"), "DECIMAL(18,2)").alias("total_spent"),
        )
        .filter(F.col("n_orders") >= 15)
    )


@workload(
    "agg_minmax_minby_maxby",
    oracle="""
SELECT l_returnflag,
       MIN(l_extendedprice) AS min_price,
       MAX(l_extendedprice) AS max_price,
       MIN(l_shipdate) AS first_ship,
       MAX(l_shipdate) AS last_ship
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_minmax_minby_maxby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIN/MAX over doubles and timestamps (comparison-only — exact across
    engines, no summation)."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
    )


@workload(
    "cube_orders_status_priority",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
)
def cube_orders_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY CUBE — all 4 grouping-set combinations in one pass (Spark
    expands to a single Expand + hash aggregate; no repeated scans)."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _dsum(F.col("o_totalprice"), "DECIMAL(18,2)").alias("total_price"),
    )


@workload(
    "percentile_order_prices",
    oracle="""
SELECT o_orderpriority,
       quantile_cont(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT), 0.25) AS p25_cents,
       quantile_cont(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT), 0.5)  AS p50_cents,
       quantile_cont(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT), 0.75) AS p75_cents
FROM orders
GROUP BY o_orderpriority
""",
)
def percentile_order_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (type-7 quantile, the definition both
    Spark's `percentile` and DuckDB's `quantile_cont` implement). Inputs
    are integer cents VIA DECIMAL — a direct float*100 -> BIGINT cast
    truncates in Spark but rounds in DuckDB, and float error puts ~half
    of all 2-decimal prices a hair below the integer (caught by the
    driver-canon checker at sf0.001); the DECIMAL(18,2) hop makes the
    cents exact on both engines. At scale exact percentile is a
    sort-based aggregate — approx_percentile is the O(1)-memory
    variant."""
    o = load_table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
    return o.groupBy("o_orderpriority").agg(
        F.percentile(cents, F.lit(0.25)).alias("p25_cents"),
        F.percentile(cents, F.lit(0.5)).alias("p50_cents"),
        F.percentile(cents, F.lit(0.75)).alias("p75_cents"),
    )


# --------------------------------------------------------------------------
# Rolling exact median (order statistic over a sliding window frame)
# --------------------------------------------------------------------------
_ROLLMED_ORACLE = """
WITH daily AS (
  SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1, 2
),
w AS (
  SELECT o_orderpriority, day, cents,
         list_sort(list(cents) OVER (
           PARTITION BY o_orderpriority ORDER BY day
           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS win,
         COUNT(*) OVER (
           PARTITION BY o_orderpriority ORDER BY day
           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS n
  FROM daily
)
SELECT o_orderpriority, day, cents,
       win[CAST(FLOOR((n + 1) / 2.0) AS INTEGER)] AS rolling_median_cents
FROM w
"""


@workload("window_rolling_median", oracle=_ROLLMED_ORACLE)
def window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling MEDIAN (lower order statistic) of daily revenue over
    a 7-row trailing frame per priority — the order-statistic window no
    engine ships as a fast primitive, composed portably: list-collect the
    frame, sort, index at (n+1)/2. Values are integer cents, so both
    engines index identical arrays. Frame size is bounded (7), so the
    per-row cost is O(7 log 7) and the window shuffle is the only
    exchange; an unbounded-frame median would need the sketch path
    (sketch_approx_quantiles) instead."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        "o_orderpriority", F.to_date("o_orderdate").alias("day")
    ).agg(
        F.sum(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
        )
        .cast("bigint")
        .alias("cents")
    )
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    win = F.sort_array(F.collect_list("cents").over(w))
    n = F.count(F.lit(1)).over(w)
    return daily.select(
        "o_orderpriority",
        "day",
        "cents",
        F.element_at(
            win, F.floor((n + F.lit(1)) / F.lit(2)).cast("int")
        ).alias("rolling_median_cents"),
    )


# --------------------------------------------------------------------------
# Deterministic MODE per group (most frequent value, exact tiebreak)
# --------------------------------------------------------------------------
_MODE_ORACLE = """
WITH cells AS (
  SELECT c.c_mktsegment AS segment, o.o_orderpriority AS priority,
         COUNT(*) AS n
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY c.c_mktsegment, o.o_orderpriority
),
ranked AS (
  SELECT segment, priority, n,
         ROW_NUMBER() OVER (PARTITION BY segment
                            ORDER BY n DESC, priority ASC) AS rn
  FROM cells
)
SELECT segment, priority AS mode_priority, CAST(n AS BIGINT) AS n_orders
FROM ranked WHERE rn = 1
"""


@workload("agg_mode_per_segment", oracle=_MODE_ORACLE)
def agg_mode_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact MODE per group with a DETERMINISTIC tiebreak — the aggregate
    SQL makes awkward (engine mode()/max_by() leave ties unspecified,
    which would break cross-engine hashing): count per (group, value),
    then a rank-1 pick ordered (count DESC, value ASC) over a window
    partitioned by group. Both shuffles key on the group column; the
    windowed input is the |groups| x |distinct values| cell table, not
    the fact table."""
    from pyspark.sql.window import Window

    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_mktsegment").alias("segment"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_orderpriority").alias("priority")
    )
    cells = (
        o.join(F.broadcast(c), "o_custkey")
        .groupBy("segment", "priority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("segment").orderBy(
        F.col("n").desc(), F.col("priority").asc()
    )
    return (
        cells.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "segment",
            F.col("priority").alias("mode_priority"),
            F.col("n").cast("long").alias("n_orders"),
        )
    )


# --------------------------------------------------------------------------
# Exact interpolated percentile (percentile_cont) — distributed order stats
# --------------------------------------------------------------------------
_PCONT_PS = ("0.25", "0.5", "0.9")  # repr strings: literal-parse portable

_PCONT_CENTS = "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"

_PCONT_ORACLE = f"""
WITH ranked AS (
  SELECT {_PCONT_CENTS} AS v,
         ROW_NUMBER() OVER (ORDER BY {_PCONT_CENTS}, o_orderkey) AS rn
  FROM orders
),
nn AS (SELECT COUNT(*) AS n FROM orders),
ps AS (
  SELECT p, CAST(nn.n - 1 AS DOUBLE) * p AS h, nn.n AS n
  FROM (VALUES {", ".join(f"(CAST('{p}' AS DOUBLE))" for p in _PCONT_PS)})
       AS t(p) CROSS JOIN nn
),
t AS (
  SELECT p, n, h,
         CAST(FLOOR(h) AS BIGINT) + 1 AS lo_rn,
         CAST(FLOOR(h) AS BIGINT) + 1
           + (CASE WHEN h = FLOOR(h) THEN 0 ELSE 1 END) AS hi_rn,
         h - FLOOR(h) AS frac
  FROM ps
)
SELECT t.p, CAST(t.n AS BIGINT) AS n,
       CAST(lo.v AS DOUBLE)
       + (CAST(hi.v AS DOUBLE) - CAST(lo.v AS DOUBLE)) * t.frac
         AS pcont_cents
FROM t
JOIN ranked lo ON lo.rn = t.lo_rn
JOIN ranked hi ON hi.rn = t.hi_rn
"""


@workload("percentile_cont_exact", oracle=_PCONT_ORACLE)
def percentile_cont_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT PERCENTILE_CONT (linear interpolation between the two
    adjacent order statistics at h = (n-1)*p) computed DISTRIBUTED via
    the C4 bucketed-global-rank machinery — value-range buckets + offset
    ranks, no global window, no single-partition sort; only the two rows
    at each target rank survive to the driver-free interpolation. The
    fractional weight is bound identically on both engines (Python
    computes h = (n-1)*p with the same two IEEE doubles DuckDB multiplies;
    frac rides as a repr literal in Spark and as h - FLOOR(h) in SQL),
    and lo/hi are exact integer cents, so the single interpolation
    expression is bit-identical cross-engine."""
    import math

    from sample_data_pipeline_project_spark.operators.ranks import (
        bucketed_global_rank,
    )

    o = load_table(spark, sf_dir, "orders").select(
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("v"),
        "o_orderkey",
    )
    ranked, n = bucketed_global_rank(o, "v", ["o_orderkey"])
    rows = []
    for p_str in _PCONT_PS:
        p = float(p_str)
        h = float(n - 1) * p
        lo_rn = int(math.floor(h)) + 1
        hi_rn = lo_rn + (0 if h == math.floor(h) else 1)
        rows.append((p, n, lo_rn, hi_rn, h - math.floor(h)))
    targets = spark.createDataFrame(
        rows, "p double, n long, lo_rn long, hi_rn long, frac double"
    )
    lo = ranked.select(F.col("rn").alias("lo_rn"), F.col("v").alias("lo_v"))
    hi = ranked.select(F.col("rn").alias("hi_rn"), F.col("v").alias("hi_v"))
    return (
        F.broadcast(targets)
        .join(lo, "lo_rn")
        .join(hi, "hi_rn")
        .select(
            "p",
            F.col("n").cast("long"),
            (
                F.col("lo_v").cast("double")
                + (F.col("hi_v").cast("double") - F.col("lo_v").cast("double"))
                * F.col("frac")
            ).alias("pcont_cents"),
        )
    )


# --------------------------------------------------------------------------
# Diversity-constrained top-k (fair ranking with a per-group quota)
# --------------------------------------------------------------------------
_FAIR_TOP = 10
_FAIR_QUOTA = 2

_FAIR_ORACLE = f"""
WITH ranked AS (
  SELECT n.n_name AS nation, o.o_orderkey,
         CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents,
         ROW_NUMBER() OVER (
           PARTITION BY n.n_name
           ORDER BY CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                         AS BIGINT) DESC, o.o_orderkey ASC) AS rn
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
)
SELECT nation, o_orderkey, cents
FROM ranked WHERE rn <= {_FAIR_QUOTA}
ORDER BY cents DESC, o_orderkey ASC
LIMIT {_FAIR_TOP}
"""


@workload("window_fair_topk_quota", oracle=_FAIR_ORACLE)
def window_fair_topk_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIVERSITY-CONSTRAINED TOP-K: the global top-{k} highest-value
    orders subject to AT MOST {q} per nation — the fair-ranking /
    result-diversification shape (leaderboards, search result dedup by
    domain, one-per-supplier quotas). Two-stage plan that scales: the
    quota filter is a nation-PARTITIONED rank (never a global window)
    that discards all but {q} rows per group map-side of the final
    ordering, and the global cut is TakeOrderedAndProject over the
    surviving |nations| x {q} rows; both stages fully tiebroken
    (cents DESC, orderkey ASC)."""
    from pyspark.sql.window import Window as W

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"),
        F.col("n_name").alias("nation"),
    )
    j = (
        o.join(F.broadcast(c), "o_custkey")
        .join(F.broadcast(n), "c_nationkey")
        .select(
            "nation",
            "o_orderkey",
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("cents"),
        )
    )
    w = W.partitionBy("nation").orderBy(
        F.col("cents").desc(), F.col("o_orderkey").asc()
    )
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _FAIR_QUOTA)
        .select("nation", "o_orderkey", "cents")
        .orderBy(F.col("cents").desc(), F.col("o_orderkey").asc())
        .limit(_FAIR_TOP)
    )


# --------------------------------------------------------------------------
# NULL-semantics aggregate surface (COUNT/SUM/MIN over NULL-bearing groups)
# --------------------------------------------------------------------------
_NULLS_ORACLE = f"""
WITH t AS (
  SELECT l_returnflag AS flag,
         CASE WHEN l_quantity < 10 THEN 'low' ELSE 'high' END AS band,
         CASE WHEN l_quantity < 10 THEN NULL
              ELSE CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
         END AS maybe_cents
  FROM lineitem
)
SELECT flag, band,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(maybe_cents) AS BIGINT) AS n_nonnull,
       CAST(COUNT(DISTINCT maybe_cents) AS BIGINT) AS n_distinct,
       CAST(COALESCE(SUM(maybe_cents), -1) AS BIGINT) AS sum_or_sentinel,
       SUM(maybe_cents) IS NULL AS sum_is_null,
       CAST(COALESCE(MIN(maybe_cents), -1) AS BIGINT) AS min_or_sentinel
FROM t GROUP BY flag, band
"""


@workload("agg_null_semantics", oracle=_NULLS_ORACLE)
def agg_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-SEMANTICS certification for the aggregate surface: groups are
    engineered so some are entirely NULL on the measure ('low' quantity
    band), pinning the ANSI contracts cross-engine — COUNT(*) counts
    rows, COUNT(col) skips NULLs, COUNT(DISTINCT) ignores NULLs entirely,
    and SUM/MIN over an all-NULL group return NULL (surfaced both as an
    explicit boolean and through a COALESCE sentinel). These are the
    boundary rules every downstream aggregate in the engine silently
    relies on; one conditional projection + one keyed aggregate, nothing
    non-scalable."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
    t = li.select(
        F.col("l_returnflag").alias("flag"),
        F.when(F.col("l_quantity") < 10, "low").otherwise("high").alias("band"),
        F.when(F.col("l_quantity") < 10, F.lit(None).cast("long"))
        .otherwise(cents)
        .alias("maybe_cents"),
    )
    return t.groupBy("flag", "band").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count("maybe_cents").cast("long").alias("n_nonnull"),
        F.countDistinct("maybe_cents").cast("long").alias("n_distinct"),
        F.coalesce(F.sum("maybe_cents"), F.lit(-1)).cast("long").alias("sum_or_sentinel"),
        F.sum("maybe_cents").isNull().alias("sum_is_null"),
        F.coalesce(F.min("maybe_cents"), F.lit(-1)).cast("long").alias("min_or_sentinel"),
    )


# --------------------------------------------------------------------------
# Centered rolling mean (ROWS BETWEEN n PRECEDING AND n FOLLOWING)
# --------------------------------------------------------------------------
_CRM_HALF = 3

_CRM_ORACLE = f"""
WITH daily AS (
  SELECT o_orderpriority AS priority,
         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS d,
         CAST(SUM({_CENTS_O}) AS BIGINT) AS v
  FROM orders GROUP BY 1, 2
)
SELECT priority, CAST(d AS BIGINT) AS d,
       CAST(SUM(v) OVER w AS BIGINT) AS win_sum,
       CAST(COUNT(*) OVER w AS BIGINT) AS win_n,
       CAST(SUM(v) OVER w AS DOUBLE) / CAST(COUNT(*) OVER w AS DOUBLE)
         AS centered_mean
FROM daily
WINDOW w AS (PARTITION BY priority ORDER BY d
             ROWS BETWEEN {_CRM_HALF} PRECEDING AND {_CRM_HALF} FOLLOWING)
"""


@workload("window_centered_rolling_mean", oracle=_CRM_ORACLE)
def window_centered_rolling_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CENTERED rolling mean — the symmetric ROWS BETWEEN n PRECEDING AND
    n FOLLOWING frame (the smoother that needs FUTURE rows, which the
    trailing-frame workloads C118/C13 never exercise): +-{h}-row window
    over per-priority daily revenue, edges naturally narrower (no
    padding). Sum and count ride as exact integers with ONE final
    division. The window is priority-partitioned over the
    calendar-bounded daily aggregate — never raw rows, never a global
    sort."""
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    daily = (
        o.groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")).alias("d"),
        )
        .agg(F.sum(cents).cast("long").alias("v"))
    )
    w = (
        Window.partitionBy("priority")
        .orderBy("d")
        .rowsBetween(-_CRM_HALF, _CRM_HALF)
    )
    return daily.select(
        "priority",
        F.col("d").cast("long"),
        F.sum("v").over(w).cast("long").alias("win_sum"),
        F.count(F.lit(1)).over(w).cast("long").alias("win_n"),
        (
            F.sum("v").over(w).cast("double")
            / F.count(F.lit(1)).over(w).cast("double")
        ).alias("centered_mean"),
    )


# --------------------------------------------------------------------------
# C176 — floor-clamped running balance via Skorokhod reflection
# --------------------------------------------------------------------------

_CAP_ORACLE = """
WITH flows AS (
  SELECT o_custkey,
         CASE WHEN o_orderstatus = 'F'
              THEN -CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
              ELSE  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
         END AS delta,
         o_orderdate, o_orderkey
  FROM orders
),
pref AS (
  SELECT o_custkey, delta, o_orderdate, o_orderkey,
         SUM(delta) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
  FROM flows
),
marked AS (
  SELECT o_custkey, delta, s,
         LEAST(0, COALESCE(MIN(s) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)) AS m_prev
  FROM pref
),
per_c AS (
  SELECT o_custkey,
         CAST(SUM(delta) - LEAST(0, MIN(s)) AS BIGINT) AS final_cents,
         CAST(SUM(CASE WHEN s < m_prev THEN 1 ELSE 0 END) AS BIGINT)
           AS n_floor_events
  FROM marked
  GROUP BY o_custkey
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(final_cents) AS BIGINT) AS sum_final_cents,
       CAST(MAX(final_cents) AS BIGINT) AS max_final_cents,
       CAST(SUM(n_floor_events) AS BIGINT) AS n_floor_events,
       CAST(SUM(CASE WHEN n_floor_events > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_customers_floored
FROM per_c
"""


@workload("window_capped_running_sum", oracle=_CAP_ORACLE)
def window_capped_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Floor-clamped running balance — b_t = max(0, b_{t-1} + delta_t) —
    the bounded-inventory / store-credit recurrence that LOOKS inherently
    sequential (each step's clamp feeds the next) but has the closed-form
    reflection solution b_t = S_t - min(0, min_{j<=t} S_j) over plain
    prefix sums S. That identity turns a per-row scan into two
    key-partitioned windows sharing one sort (prefix sum + running min),
    so the operator scales exactly like any other windowed aggregate —
    no applyInPandas, no driver loop. Deltas are exact DECIMAL cents
    (credits for open/pending orders, debits for fulfilled), clamped at
    zero; a floor EVENT is a row where the prefix sum undercuts the prior
    running minimum. Output: corpus-level balance/floor statistics, all
    exact int64."""
    o = load_table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    flows = o.select(
        "o_custkey",
        F.when(F.col("o_orderstatus") == "F", -cents).otherwise(cents).alias(
            "delta"
        ),
        "o_orderdate",
        "o_orderkey",
    )
    w_cur = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_prev = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pref = flows.withColumn("s", F.sum("delta").over(w_cur)).withColumn(
        "m_prev",
        F.least(F.lit(0).cast("long"), F.coalesce(F.min("s").over(w_prev), F.lit(0).cast("long"))),
    )
    per_c = pref.groupBy("o_custkey").agg(
        (F.sum("delta") - F.least(F.lit(0).cast("long"), F.min("s")))
        .cast("long")
        .alias("final_cents"),
        F.sum(F.when(F.col("s") < F.col("m_prev"), 1).otherwise(0))
        .cast("long")
        .alias("n_floor_events"),
    )
    return per_c.agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("final_cents").cast("long").alias("sum_final_cents"),
        F.max("final_cents").cast("long").alias("max_final_cents"),
        F.sum("n_floor_events").cast("long").alias("n_floor_events"),
        F.sum(F.when(F.col("n_floor_events") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_customers_floored"),
    )


# --------------------------------------------------------------------------
# C192 — hierarchical share-of-parent revenue rollup
# --------------------------------------------------------------------------

_SHARE_EXPRS = {
    "share_of_region": "CAST(rev_cents AS DOUBLE) / CAST(region_cents AS DOUBLE)",
    "share_of_total": "CAST(rev_cents AS DOUBLE) / CAST(total_cents AS DOUBLE)",
}

_SHARE_ORACLE = f"""
WITH rev AS (
  SELECT r.r_name AS region, n.n_name AS nation,
         CAST(SUM({_CENTS_O}) AS BIGINT) AS rev_cents
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY r.r_name, n.n_name
),
shares AS (
  SELECT region, nation, rev_cents,
         CAST(SUM(rev_cents) OVER (PARTITION BY region) AS BIGINT)
           AS region_cents,
         CAST(SUM(rev_cents) OVER () AS BIGINT) AS total_cents
  FROM rev
)
SELECT region, nation, rev_cents, region_cents,
       {_SHARE_EXPRS["share_of_region"]} AS share_of_region,
       {_SHARE_EXPRS["share_of_total"]} AS share_of_total
FROM shares
"""


@workload("rollup_share_of_parent", oracle=_SHARE_ORACLE)
def rollup_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-parent revenue rollup along the geography hierarchy:
    each nation's revenue beside its share of the region and of the
    corpus — the percent-of-parent column every BI drilldown renders
    next to a rollup. The region share is a REGION-partitioned window
    over the (|nations|-row) grouped frame; the corpus total re-enters
    as a bounded driver scalar, so no global window exists. Dimension
    joins broadcast; shares are fixed divisions of exact cents."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    rev = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.sum(F.expr(_CENTS_O)).cast("long").alias("rev_cents"))
    )
    total = int(rev.agg(F.sum("rev_cents")).first()[0])
    w = Window.partitionBy("region")
    shares = rev.select(
        "region",
        "nation",
        "rev_cents",
        F.sum("rev_cents").over(w).cast("long").alias("region_cents"),
        F.lit(total).cast("long").alias("total_cents"),
    )
    return shares.select(
        "region",
        "nation",
        "rev_cents",
        "region_cents",
        F.expr(_SHARE_EXPRS["share_of_region"]).alias("share_of_region"),
        F.expr(_SHARE_EXPRS["share_of_total"]).alias("share_of_total"),
    )


# --------------------------------------------------------------------------
# C201 — boolean aggregate surface (bool_and / bool_or / count_if)
# --------------------------------------------------------------------------

_BOOL_ORACLE = """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       bool_and(o_totalprice > 1000) AS all_over_1k,
       bool_or(o_totalprice > 400000) AS any_over_400k,
       CAST(count_if(o_orderpriority = '1-URGENT') AS BIGINT) AS n_urgent,
       bool_and(o_orderdate >= TIMESTAMP '1995-01-01') AS all_after_95,
       bool_or(o_custkey % 1000 = 0) AS any_round_cust
FROM orders
GROUP BY o_orderstatus
"""


@workload("agg_boolean_aggregates", oracle=_BOOL_ORACLE)
def agg_boolean_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The boolean aggregate vocabulary — bool_and / bool_or (SQL EVERY /
    ANY) and count_if — as grouped data-quality assertions over orders:
    'does EVERY order in this status exceed $1k', 'does ANY cross
    $400k', 'how many are urgent'. These are the aggregate forms DQ
    expectation suites compile to (a failed bool_and IS the violated
    expectation); all three are single-pass partial-aggregatable folds,
    named identically on both engines."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.bool_or(F.col("o_totalprice") > 400000).alias("any_over_400k"),
        F.count_if(F.col("o_orderpriority") == "1-URGENT")
        .cast("long")
        .alias("n_urgent"),
        F.bool_and(
            F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp_ntz")
        ).alias("all_after_95"),
        F.bool_or(F.col("o_custkey") % 1000 == 0).alias("any_round_cust"),
    )


# --------------------------------------------------------------------------
# C203 — GROUPING() / GROUPING_ID() over a cube: which cell is which rollup
# --------------------------------------------------------------------------

_GID_ORACLE = """
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
       CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
       CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders
GROUP BY CUBE(o_orderstatus, o_orderpriority)
"""


@workload("agg_grouping_id_cube", oracle=_GID_ORACLE)
def agg_grouping_id_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING() / GROUPING_ID() semantics over a two-dimension cube:
    the bitmask that tells a report renderer whether a NULL cell means
    'subtotal over this dimension' or 'the data really was NULL' — the
    disambiguator every rollup consumer needs. Bit order (first listed
    column = most significant) is identical across engines, which this
    workload pins under the value hash; one cube aggregation, 4x the
    group cells of a plain groupBy, fully partial-aggregatable."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("long").alias("g_status"),
        F.grouping("o_orderpriority").cast("long").alias("g_priority"),
        F.grouping_id().cast("long").alias("gid"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
    )


# --------------------------------------------------------------------------
# C218 — ranking-function surface (rank/dense_rank/percent_rank/cume_dist/
#        ntile) with explicit tie semantics
# --------------------------------------------------------------------------
_RANKS_ORACLE = """
SELECT o_orderkey,
       o_orderpriority AS priority,
       CAST(RANK() OVER w_ties AS BIGINT) AS rnk,
       CAST(DENSE_RANK() OVER w_ties AS BIGINT) AS drnk,
       PERCENT_RANK() OVER w_ties AS prank,
       CUME_DIST() OVER w_ties AS cdist,
       CAST(NTILE(4) OVER w_uniq AS BIGINT) AS quartile,
       CAST(ROW_NUMBER() OVER w_uniq AS BIGINT) AS rn
FROM orders
WINDOW
  w_ties AS (PARTITION BY o_orderpriority ORDER BY CAST(o_orderdate AS DATE)),
  w_uniq AS (PARTITION BY o_orderpriority
             ORDER BY CAST(o_orderdate AS DATE), o_orderkey)
"""


@workload("window_rank_surface", oracle=_RANKS_ORACLE)
def window_rank_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANKING-FUNCTION SURFACE with explicit tie semantics: rank /
    dense_rank / percent_rank / cume_dist ride a TIE-FULL ordering
    (order date only — value-based functions are deterministic under
    ties), while ntile and row_number — POSITION-based, nondeterministic
    under ties — ride the unique (date, orderkey) ordering. Both windows
    share one partitioning (priority), so Catalyst plans a single
    exchange with two sorts, not two shuffles."""
    from pyspark.sql.window import Window as W

    o = load_table(spark, sf_dir, "orders")
    day = F.col("o_orderdate").cast("date")
    w_ties = W.partitionBy("o_orderpriority").orderBy(day)
    w_uniq = W.partitionBy("o_orderpriority").orderBy(day, F.col("o_orderkey"))
    return o.select(
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        F.rank().over(w_ties).cast("long").alias("rnk"),
        F.dense_rank().over(w_ties).cast("long").alias("drnk"),
        F.percent_rank().over(w_ties).alias("prank"),
        F.cume_dist().over(w_ties).alias("cdist"),
        F.ntile(4).over(w_uniq).cast("long").alias("quartile"),
        F.row_number().over(w_uniq).cast("long").alias("rn"),
    )


# --------------------------------------------------------------------------
# C225 — AQE wide-start / coalesce-back certification (the round-7 OOM
# guard as a hard-fail plan fact instead of an unpinned engine default)
# --------------------------------------------------------------------------
_AQE_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem
GROUP BY l_returnflag
"""


@workload("agg_aqe_wide_start_coalesce", oracle=_AQE_ORACLE)
def agg_aqe_wide_start_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE WIDE-START shuffle certification (C225): the round-7 sf10
    probe OOM'd `er_blocking_quality` because a decade of data growth
    pushed 22M-row tasks through a statically-narrow shuffle; the fix
    is the engine default
    `spark.sql.adaptive.coalescePartitions.initialPartitionNum` =
    8 x cores (256 at 32) — shuffles START wide (per-task memory bounded by partition width)
    and AQE coalesces small stages back down, so short queries pay
    nothing. That default was only verified empirically in round 7;
    this workload pins it STRUCTURALLY, the C187/C202/C221/C223
    hard-fail pattern: it runs a grouped aggregate and fails unless
    (a) the configured initial partition number exists and is what the
    exchange actually hash-partitions to, and (b) the executed adaptive
    plan coalesced the read back below the wide start. A future conf
    regression (dropping the guard, or AQE coalescing being disabled)
    fails this gate instead of resurfacing as an OOM at 100 TB. The
    3-row rollup is oracle-hashed, certifying the runtime mitigation
    never changes answers."""
    import re

    if spark.conf.get("spark.sql.adaptive.enabled", "false") != "true":
        raise AssertionError("engine contract: AQE must be enabled")
    # .conf.get raises if the guard conf was dropped entirely — exactly
    # the regression this cert exists to catch.
    init = int(
        spark.conf.get(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
        )
    )
    li = load_table(spark, sf_dir, "lineitem")
    out = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("sum_qty"),
    )
    # AQE decisions exist only on an executed plan (the C221 pattern;
    # the 3-row collect is the certification's cost, and bench counts
    # the job twice — documented in BENCH-NOTES).
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    if not re.search(rf"hashpartitioning\([^)]*,\s*{init}\)", plan):
        raise AssertionError(
            f"expected the aggregate exchange to start WIDE at the "
            f"configured initialPartitionNum={init}; plan:\n" + plan
        )
    if "AQEShuffleRead coalesced" not in plan:
        raise AssertionError(
            "expected AQE to coalesce the wide shuffle back down at "
            "this scale (coalesced AQEShuffleRead missing); plan:\n" + plan
        )
    return out


# --------------------------------------------------------------------------
# Multiple COUNT(DISTINCT) in one aggregate
# --------------------------------------------------------------------------
@workload(
    "agg_count_distinct_parts_suppliers",
    oracle="""
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_suppkey) AS n_supps,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_count_distinct_parts_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two COUNT(DISTINCT) columns + a plain count in one aggregate: Spark
    plans this with Expand (one replica of each row per distinct column),
    partial-distinct before the shuffle, so duplicate keys collapse
    map-side. The exact form of what sketch_approx_distinct_users
    approximates in O(1) memory."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("n_parts"),
        F.count_distinct("l_suppkey").alias("n_supps"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# --------------------------------------------------------------------------
# Pivot (grouped transpose) — conditional-aggregation expansion
# --------------------------------------------------------------------------
@workload(
    "pivot_status_by_priority",
    oracle="""
SELECT o_orderpriority,
       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS status_f,
       COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS status_o,
       COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS status_p,
       CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
            FILTER (WHERE o_orderstatus = 'F'), 0) AS DOUBLE) AS total_f
FROM orders
GROUP BY o_orderpriority
""",
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT with an explicit value list: one grouped pass (single shuffle),
    each pivot cell a conditional aggregate — the same plan `groupBy().
    pivot(col, values)` produces, written explicitly so empty cells are 0
    (Spark's pivot yields NULL there, DuckDB's FILTER yields 0/empty-sum).
    Explicit values matter at scale: value-discovering pivot runs an extra
    distinct job over the fact table first."""
    o = load_table(spark, sf_dir, "orders")

    def cnt(status: str) -> F.Column:
        return F.count(F.when(F.col("o_orderstatus") == status, 1))

    return o.groupBy("o_orderpriority").agg(
        cnt("F").alias("status_f"),
        cnt("O").alias("status_o"),
        cnt("P").alias("status_p"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("o_orderstatus") == "F",
                    F.col("o_totalprice").cast("decimal(18,2)"),
                )
            ),
            F.lit(0).cast("decimal(18,2)"),
        )
        .cast("double")
        .alias("total_f"),
    )


# --------------------------------------------------------------------------
# Array aggregation (collect to sorted array) + window-function variety
# --------------------------------------------------------------------------
@workload(
    "agg_collect_sorted_segments",
    oracle="""
SELECT c_nationkey,
       array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',') AS segments,
       COUNT(DISTINCT c_mktsegment) AS n_segments
FROM customer
GROUP BY c_nationkey
""",
)
def agg_collect_sorted_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-valued aggregation: distinct segments per nation collected to
    a SORTED array (collect_set order is partition-dependent; sort_array
    makes the value deterministic — the only way an array aggregate can be
    compared across engines or retries), then serialized to ONE
    comma-joined STRING: the driver's pandas canonicalizer cannot
    sort/factorize list cells (proven by the r04 red row on
    features_hashing_trick), so the final schema stays scalar."""
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.array_join(F.sort_array(F.collect_set("c_mktsegment")), ",").alias(
            "segments"
        ),
        F.count_distinct("c_mktsegment").alias("n_segments"),
    )


@workload(
    "window_lead_first_seq",
    oracle="""
SELECT o_custkey, o_orderkey, o_orderdate,
       LEAD(o_orderdate) OVER w AS next_order_date,
       FIRST_VALUE(o_orderdate) OVER w AS first_order_date,
       ROW_NUMBER() OVER w AS order_seq
FROM orders
WHERE o_custkey < 200
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
""",
)
def window_lead_first_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function variety beyond LAG/RANK: LEAD (next event),
    FIRST_VALUE (anchor row), ROW_NUMBER (sequence) — all share ONE window
    spec, so Spark computes them in a single shuffle+sort pass."""
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.lead("o_orderdate").over(w).alias("next_order_date"),
        F.first("o_orderdate").over(w).alias("first_order_date"),
        F.row_number().over(w).alias("order_seq"),
    )


# --------------------------------------------------------------------------
# Exact variance/stddev from associative partials
# --------------------------------------------------------------------------
@workload(
    "agg_variance_exact",
    oracle="""
WITH partials AS (
  SELECT o_orderpriority,
         COUNT(*) AS n,
         SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS s,
         SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS DECIMAL(18,0))
             * CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS DECIMAL(18,0))) AS sq
  FROM orders
  GROUP BY o_orderpriority
)
, sq_double AS (
  SELECT o_orderpriority, n, s,
         CAST(CAST(sq AS HUGEINT) // 1000000000 AS DOUBLE) * 1000000000.0
         + CAST(CAST(sq AS HUGEINT) % 1000000000 AS DOUBLE) AS sq_d
  FROM partials
)
SELECT o_orderpriority, n,
       (sq_d - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1) / 10000.0 AS variance,
       sqrt((sq_d - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1)) / 100.0 AS stddev
FROM sq_double
""",
)
def agg_variance_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample variance/stddev from exact integer-cents partials (n, sum,
    sum of squares) with the float math done once, identically, at the
    end — engine-native stddev aggregates (Welford updates) are summation-
    order-dependent and never bit-match across engines. The count and sum
    partials are int64; the sum-of-squares partial is exact DECIMAL(38,0)
    (int64 overflows it past ~10^5 rows per group) — integer-valued either
    way, so the one cast to double is IEEE-nearest identically in both
    engines. The partials are associative,
    so this is also the form that merges across partitions, rollup tiers,
    or incremental batches."""
    o = load_table(spark, sf_dir, "orders")
    # cents via the decimal(18,2) conversion every money workload relies on:
    # double*100 -> bigint truncates in Spark but rounds in DuckDB.
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
    # The squares sum exceeds int64 around sf0.1 (8-digit cents squared,
    # summed over 10^5+ rows) — hold it in exact wide DECIMAL instead:
    # both engines sum 128-bit exactly, and an integer-valued decimal
    # casts to double with the same IEEE-nearest rounding as an int.
    cents_dec = cents.cast("decimal(18,0)")
    partials = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).alias("s"),
        F.sum(cents_dec * cents_dec).alias("sq"),
    )
    # sq has ~20 digits: casting a >2^53 decimal to double is NOT
    # correctly rounded in every engine (DuckDB's 128-bit path is 1 ulp
    # off Spark's). Pin the conversion by splitting into two <2^53
    # integers and reassembling with plain IEEE ops — deterministic
    # everywhere (the oracle does the identical split via HUGEINT).
    sq_d = F.expr(
        "CAST(sq DIV 1000000000 AS DOUBLE) * 1000000000.0"
        " + CAST(sq % 1000000000 AS DOUBLE)"
    )
    var_cents2 = (
        sq_d
        - F.col("s").cast("double") * F.col("s").cast("double") / F.col("n")
    ) / (F.col("n") - 1)
    return partials.select(
        "o_orderpriority",
        "n",
        (var_cents2 / 10000.0).alias("variance"),
        (F.sqrt(var_cents2) / 100.0).alias("stddev"),
    )


# --------------------------------------------------------------------------
# GROUPING SETS (beyond the cube/rollup already covered)
# --------------------------------------------------------------------------
@workload(
    "grouping_sets_region_segment",
    oracle="""
SELECT r_name, c_mktsegment, COUNT(*) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY GROUPING SETS ((r_name), (c_mktsegment), ())
""",
)
def grouping_sets_region_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the general form of cube/rollup: per-region
    totals, per-segment totals, and the grand total in ONE pass (a single
    Expand + hash aggregate, not three scans unioned)."""
    c = load_table(spark, sf_dir, "customer")
    nt = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = c.join(
        F.broadcast(nt), F.col("c_nationkey") == F.col("n_nationkey")
    ).join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    return joined.groupingSets(
        [["r_name"], ["c_mktsegment"], []], "r_name", "c_mktsegment"
    ).agg(
        F.count(F.lit(1)).alias("n_customers"),
        _dsum(F.col("c_acctbal"), "DECIMAL(18,2)").alias("total_bal"),
    )


# --------------------------------------------------------------------------
# UNPIVOT / melt (wide -> long reshaping)
# --------------------------------------------------------------------------
@workload(
    "unpivot_lineitem_measures",
    oracle="""
SELECT l_orderkey, l_linenumber, 'l_extendedprice' AS measure, l_extendedprice AS amount
FROM lineitem WHERE l_orderkey < 50
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
FROM lineitem WHERE l_orderkey < 50
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
FROM lineitem WHERE l_orderkey < 50
""",
)
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): three measure columns to (measure, amount) long
    form — Spark's native `unpivot` plans one Expand over one scan, where
    the UNION ALL oracle formulation scans three times."""
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 50)
    return l.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "amount",
    )


# --------------------------------------------------------------------------
# Distribution window functions
# --------------------------------------------------------------------------
@workload(
    "window_distribution_funcs",
    oracle="""
SELECT n_name, c_custkey, c_acctbal,
       NTILE(4) OVER w AS quartile,
       PERCENT_RANK() OVER w AS pct_rank,
       CUME_DIST() OVER w AS cume
FROM customer JOIN nation ON c_nationkey = n_nationkey
WINDOW w AS (PARTITION BY n_name ORDER BY c_acctbal ASC, c_custkey ASC)
""",
)
def window_distribution_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE / PERCENT_RANK / CUME_DIST sharing one window spec — one
    shuffle on the partition key, one sort, three analytic outputs. The
    order key is made unique (acctbal, custkey) so ranks are deterministic."""
    c = load_table(spark, sf_dir, "customer")
    nt = load_table(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(
        F.col("c_acctbal").asc(), F.col("c_custkey").asc()
    )
    return (
        c.join(F.broadcast(nt), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            "n_name",
            "c_custkey",
            "c_acctbal",
            F.ntile(4).over(w).alias("quartile"),
            F.percent_rank().over(w).alias("pct_rank"),
            F.cume_dist().over(w).alias("cume"),
        )
    )


# --------------------------------------------------------------------------
# RANGE window frame (value-based, vs the ROWS frames covered elsewhere)
# --------------------------------------------------------------------------
@workload(
    "window_trailing_7day_revenue",
    oracle="""
WITH t AS (
  SELECT o_custkey, o_orderkey,
         date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
           AS day_num,
         o_totalprice
  FROM orders
)
SELECT o_custkey, o_orderkey, day_num,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
         PARTITION BY o_custkey ORDER BY day_num
         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS trailing_7day_revenue
FROM t
""",
)
def window_trailing_7day_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer trailing-7-day revenue: a RANGE window frame
    (rangeBetween over a day-number order key), i.e. value-based frame
    bounds where peers with the same order date share one frame —
    semantically different from any ROWS frame when dates repeat. The
    exact-DECIMAL sum keeps the double cast order-independent."""
    o = load_table(spark, sf_dir, "orders").withColumn(
        "day_num",
        F.datediff(F.to_date("o_orderdate"), F.lit("1992-01-01").cast("date")),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("day_num")
        .rangeBetween(-6, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "day_num",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("trailing_7day_revenue"),
    )


# --------------------------------------------------------------------------
# Equi-width histogram (bucketed distribution profile)
# --------------------------------------------------------------------------
@workload(
    "agg_price_histogram",
    oracle="""
SELECT CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT) AS bucket,
       CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT) * 50000.0 AS bucket_lo,
       COUNT(*) AS n_orders,
       MIN(o_totalprice) AS min_price,
       MAX(o_totalprice) AS max_price
FROM orders
GROUP BY CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT)
""",
)
def agg_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order prices: one hash aggregate over
    integer bucket keys (floor of one IEEE division — deterministic across
    engines), the distribution-profiling shape data-quality monitoring
    runs on every batch. Buckets carry min/max so empty-tail detection and
    bucket boundaries are checkable without a second pass."""
    o = load_table(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / 50000.0).cast("long")
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
        .select(
            "bucket",
            (F.col("bucket") * 50000.0).alias("bucket_lo"),
            "n_orders",
            "min_price",
            "max_price",
        )
    )


# --------------------------------------------------------------------------
# LISTAGG / string aggregation (ordered, deterministic)
# --------------------------------------------------------------------------
@workload(
    "agg_listagg_nations_per_region",
    oracle="""
SELECT r_name,
       string_agg(n_name, ',' ORDER BY n_name) AS nations,
       COUNT(*) AS n_nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
""",
)
def agg_listagg_nations_per_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG shape: per-region comma-joined nation names in explicit
    alphabetical order (collect_list -> array_sort -> array_join; unordered
    LISTAGG is nondeterministic by definition, so the sort IS the
    semantics here)."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias(
                "nations"
            ),
            F.count(F.lit(1)).alias("n_nations"),
        )
    )
