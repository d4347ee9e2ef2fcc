"""TPC-H query shapes (Q1-Q22 where the testdata's columns allow) over the
TPC-H-ish testdata.

Each keeps the ORIGINAL query's operator shape — that is what matters for
engine coverage — adapted to the reduced schema (no partsupp table, no
commit/receipt dates, no container/mfgr columns):

  Q1   pricing summary: grouped exact-decimal aggregates
  Q2   correlated MIN subquery over a supply relation (decorrelated to a
       per-key MIN + join-back)            -> groupBy + equi-join
  Q3   shipping priority: 3-way join + top-10 revenue
  Q4   order priority: EXISTS -> semi join
  Q5   local supplier volume: 6-way join with a same-nation predicate
  Q6   forecast revenue: pure filter + aggregate
  Q7   two-nation volume shipping, OR'd nation pairs, YEAR extraction
  Q8   market share: conditional CASE aggregate / total per group
  Q9   product-type profit: LIKE filter + 5-way join + signed amounts
  Q10  returned items: top-20 revenue per customer over a quarter
  Q11  important parts: uncorrelated scalar subquery in HAVING
  Q12  join + SUM(CASE ...) conditional aggregates
  Q13  LEFT OUTER join with a join-side filter + two-level agg (the
       count-of-counts histogram)
  Q14  CASE-ratio over an equi-join (promo revenue share)
  Q15  top supplier: CTE + scalar MAX subquery, exact-decimal equality
  Q16  supplier-part counts: NOT IN anti join + COUNT(DISTINCT)
  Q17  small-quantity revenue: correlated AVG -> per-key window, exact
       integer-arithmetic comparison (5*qty*cnt < sum)
  Q18  large-volume customers: IN over grouped HAVING -> semi join
  Q19  OR-of-ANDs predicate — Catalyst must still push the common join
       key and prune columns despite the disjunction
  Q20  promotion suppliers: nested semi-join chain over shipped volumes
  Q21  waiting suppliers: EXISTS + NOT EXISTS double correlation ->
       semi + anti joins ("late" adapted to shipdate > orderdate + 60d)
  Q22  uncorrelated scalar subquery (avg balance) + anti join, with the
       comparison rewritten multiplication-side for exactness

Substitutions vs. the genuine TPC-H text, forced by the schema:
  - partsupp is reconstructed as the DISTINCT (l_partkey, l_suppkey)
    pairs actually observed in lineitem (Q2/Q11/Q16/Q20);
  - ps_supplycost -> MIN(l_extendedprice) per pair (Q2) / p_retailprice
    cost proxy (Q9);
  - l_receiptdate > l_commitdate ("late") -> l_shipdate > o_orderdate +
    60 days (Q21).

All money/quantity aggregation follows the package's determinism
contract: exact DECIMAL partials (`_dsum`, `_revenue_dec` from
workloads/relational.py), one final cast to DOUBLE; predicate
comparisons that feed row selection are kept in integer/decimal
arithmetic so both engines select identical rows.

Scale notes: nation/region/supplier/part/customer are broadcast
everywhere; the only shuffles are the fact-table aggregations on their
own keys, and every LIMIT has a unique-key tiebreak.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sample_data_pipeline_project_spark.sources.catalog import load_table
from sample_data_pipeline_project_spark.workloads import workload
from sample_data_pipeline_project_spark.workloads.relational import (
    _REV_DEC_SQL,
    _REV_SQL,
    _dsum,
    _revenue_dec,
)


# --------------------------------------------------------------------------
# TPC-H Q1 shape: scan + filter + group-agg (A2/A3/A8/B7)
# --------------------------------------------------------------------------
@workload(
    "tpch_q1_pricing_summary",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM({_REV_DEC_SQL}) AS DOUBLE) AS sum_disc_price,
       CAST(SUM({_REV_DEC_SQL} * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
       CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary: the canonical scan->filter->groupBy->agg pipeline.
    Partial aggregation keeps the shuffle at |groups| x |partitions| rows."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz")
    )
    n = F.count(F.lit(1))
    return l.groupBy("l_returnflag", "l_linestatus").agg(
        _dsum(F.col("l_quantity"), "DECIMAL(18,2)").alias("sum_qty"),
        _dsum(F.col("l_extendedprice"), "DECIMAL(18,2)").alias("sum_base_price"),
        F.sum(_revenue_dec()).cast("double").alias("sum_disc_price"),
        F.sum(_revenue_dec() * (F.lit(1) + F.col("l_tax").cast("decimal(4,2)")))
        .cast("double")
        .alias("sum_charge"),
        (_dsum(F.col("l_quantity"), "DECIMAL(18,2)") / n).alias("avg_qty"),
        (_dsum(F.col("l_extendedprice"), "DECIMAL(18,2)") / n).alias("avg_price"),
        (_dsum(F.col("l_discount"), "DECIMAL(18,6)") / n).alias("avg_disc"),
        n.alias("count_order"),
    )


# --------------------------------------------------------------------------
# TPC-H Q3 shape: 3-way join + group-agg + top-k (B7)
# --------------------------------------------------------------------------
@workload(
    "tpch_q3_shipping_priority",
    oracle=f"""
SELECT l_orderkey,
       {_REV_SQL} AS revenue,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
""",
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unshipped-orders revenue: customer (filtered, broadcast) |><| orders
    |><| lineitem, grouped per order, global top-10 by revenue."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp_ntz")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15 00:00:00").cast("timestamp_ntz")
    )
    return (
        F.broadcast(c.select("c_custkey"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(_revenue_dec()).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


# --------------------------------------------------------------------------
# TPC-H Q5 shape: 6-way join + group-agg (B7)
# --------------------------------------------------------------------------
@workload(
    "tpch_q5_local_supplier_volume",
    oracle=f"""
SELECT n_name,
       {_REV_SQL} AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
""",
)
def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-supplier volume: the classic snowflake-schema join tree.
    region/nation/supplier/customer are broadcast; only orders |><| lineitem
    shuffles (on orderkey)."""
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nt = load_table(spark, sf_dir, "nation")
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nt), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(F.sum(_revenue_dec()).cast("double").alias("revenue"))
    )


@workload(
    "tpch_q6_forecast_revenue",
    oracle="""
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan + conjunctive sargable filters + ungrouped
    aggregate — every predicate must reach the parquet reader
    (PushedFilters), making this the canonical pushdown benchmark."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * F.col("l_discount").cast("decimal(4,2)")
            ).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@workload(
    "tpch_q4_order_priority",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
  )
GROUP BY o_orderpriority
""",
)
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS correlated subquery -> LEFT SEMI join (the
    decorrelation Catalyst performs on the SQL form, written directly as
    the DataFrame plan). Semi join carries no payload columns from the
    probe side — minimal shuffle width."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-10-01")
    )
    l = load_table(spark, sf_dir, "lineitem")
    cond = (F.col("l.l_orderkey") == F.col("o.o_orderkey")) & (
        F.col("l.l_shipdate") > F.col("o.o_orderdate")
    )
    return (
        o.alias("o")
        .join(l.alias("l"), cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# --------------------------------------------------------------------------
# TPC-H Q12 shape: join + conditional (CASE) aggregates
# --------------------------------------------------------------------------
@workload(
    "tpch_q12_conditional_agg",
    oracle="""
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_returnflag
""",
)
def tpch_q12_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape: fact-to-fact equi-join, then SUM(CASE...) pivot-style
    conditional counts — integer arithmetic only, exact on both engines."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~is_high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# --------------------------------------------------------------------------
# TPC-H Q13 shape: LEFT OUTER join with join-side filter + count histogram
# --------------------------------------------------------------------------
@workload(
    "tpch_q13_order_distribution",
    oracle="""
WITH c_orders AS (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
SELECT c_count, COUNT(*) AS custdist
FROM c_orders
GROUP BY c_count
""",
)
def tpch_q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 shape: LEFT OUTER join whose filter lives in the join condition
    (NOT the WHERE — it must preserve customers with zero orders), then a
    count-of-counts histogram. COUNT(o_orderkey) counts non-nulls, so
    no-order customers land in bucket 0. Two shuffles by construction:
    custkey, then c_count."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# --------------------------------------------------------------------------
# TPC-H Q14 shape: CASE-ratio aggregate over an equi-join
# --------------------------------------------------------------------------
@workload(
    "tpch_q14_promo_revenue",
    oracle=f"""
SELECT CAST(SUM(CASE WHEN p_type LIKE 'PROMO%' THEN {_REV_DEC_SQL} ELSE 0 END) AS DOUBLE)
         * 100.0
         / CAST(SUM({_REV_DEC_SQL}) AS DOUBLE) AS promo_revenue_pct,
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
""",
)
def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape: promo revenue share. Numerator and denominator are exact
    decimal sums; the ratio is computed in DOUBLE with the same operation
    order on both engines ((cast * 100.0) / cast), so it is bit-identical.
    part broadcasts; lineitem never shuffles (ungrouped agg = one partial
    per partition + driver-side merge)."""
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-03-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    promo = F.when(F.col("p_type").like("PROMO%"), _revenue_dec()).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    return (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (
                F.sum(promo).cast("double")
                * F.lit(100.0)
                / F.sum(_revenue_dec()).cast("double")
            ).alias("promo_revenue_pct"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# TPC-H Q19 shape: disjunction of conjunctions (OR-of-ANDs)
# --------------------------------------------------------------------------
@workload(
    "tpch_q19_disjunctive_filter",
    oracle=f"""
SELECT CAST(SUM({_REV_DEC_SQL}) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#22' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 35)
   OR (p_brand = 'Brand#25' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 50)
""",
)
def tpch_q19_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape: OR-of-ANDs across both join sides. Catalyst still joins on
    the common p_partkey equi-key and applies the disjunction as a join
    residual; per-side implied filters (p_brand IN (...), l_quantity <= 50)
    are inferred and pushed below the join by constraint propagation."""
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    l = load_table(spark, sf_dir, "lineitem")
    arm = lambda brand, s_lo, s_hi, q_lo, q_hi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(s_lo, s_hi)
        & F.col("l_quantity").between(q_lo, q_hi)
    )
    cond = (
        arm("Brand#11", 1, 15, 1, 20)
        | arm("Brand#22", 10, 30, 10, 35)
        | arm("Brand#25", 20, 50, 20, 50)
    )
    return (
        l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond)
        .agg(
            F.sum(_revenue_dec()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# TPC-H Q22 shape: uncorrelated scalar subquery + anti join
# --------------------------------------------------------------------------
@workload(
    "tpch_q22_idle_rich_customers",
    oracle="""
WITH stats AS (
  SELECT COUNT(*) AS n_pos,
         SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS total_pos
  FROM customer WHERE c_acctbal > 0.0
)
SELECT c_mktsegment,
       COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM customer, stats
WHERE CAST(c_acctbal AS DECIMAL(18,2)) * n_pos > total_pos
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
GROUP BY c_mktsegment
""",
)
def tpch_q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape: above-average-balance customers who never placed an
    URGENT order, grouped by segment. (Every testdata customer has orders,
    so the classic "no orders at all" anti-join is degenerate — the
    priority filter keeps the anti join selective AND non-empty.) The
    global average arrives as an uncorrelated scalar subquery — a 1-row
    broadcast cross join, NOT a collect() (the plan stays fully
    declarative). The `bal > avg` comparison is rewritten as
    `bal * n > total` so it is exact decimal arithmetic on both engines
    (no decimal division rounding to disagree about)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    bal_dec = F.col("c_acctbal").cast("decimal(18,2)")
    stats = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.count(F.lit(1)).alias("n_pos"),
        F.sum(bal_dec).alias("total_pos"),
    )
    return (
        c.crossJoin(F.broadcast(stats))
        .filter(bal_dec * F.col("n_pos") > F.col("total_pos"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(bal_dec).cast("double").alias("totacctbal"),
        )
    )


_QTY_DEC = "CAST(l_quantity AS DECIMAL(18,2))"


# --------------------------------------------------------------------------
# Q2: minimum-cost supplier (correlated MIN subquery, decorrelated)
# --------------------------------------------------------------------------
@workload(
    "tpch_q2_min_cost_supplier",
    oracle="""
WITH supply AS (
  SELECT l_partkey, l_suppkey, MIN(l_extendedprice) AS unit_price
  FROM lineitem GROUP BY l_partkey, l_suppkey
), europe AS (
  SELECT s_suppkey, s_acctbal, s_name, n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name, unit_price AS min_price
FROM part
JOIN supply ON p_partkey = supply.l_partkey
JOIN europe ON supply.l_suppkey = europe.s_suppkey
WHERE p_size = 15 AND p_type = 'STANDARD'
  AND unit_price = (
    SELECT MIN(s2.unit_price)
    FROM supply s2 JOIN europe e2 ON s2.l_suppkey = e2.s_suppkey
    WHERE s2.l_partkey = p_partkey)
ORDER BY s_acctbal DESC, s_name ASC, p_partkey ASC
LIMIT 100
""",
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each qualifying part, the EUROPE supplier(s)
    offering the minimum observed unit price. The correlated MIN subquery
    is decorrelated the way Catalyst would: aggregate the supply relation
    per part once, then equi-join back — no per-row re-scan. The supply
    relation (distinct pairs from lineitem) replaces the absent partsupp
    table; MIN(l_extendedprice) stands in for ps_supplycost."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "STANDARD")
    )
    s = load_table(spark, sf_dir, "supplier")
    nt = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")

    europe = (
        s.join(F.broadcast(nt), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_acctbal", "s_name", "n_name")
    )
    supply = (
        # Semi-join down to qualifying parts BEFORE the per-pair MIN: the
        # aggregation then touches only the filtered parts' lines (the
        # per-part minimum is unchanged by the restriction).
        l.join(
            F.broadcast(p.select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("l_extendedprice").alias("unit_price"))
        .join(F.broadcast(europe), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    # Per-part MIN as a window over the one materialized supply relation —
    # NOT a groupBy + join-back, which would recompute the whole supply
    # subplan a second time (Spark does not share subplans): one shuffle
    # on l_partkey instead of two extra scans + a self-join.
    best_w = Window.partitionBy("l_partkey")
    return (
        supply.withColumn("best_price", F.min("unit_price").over(best_w))
        .filter(F.col("unit_price") == F.col("best_price"))
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            F.col("unit_price").alias("min_price"),
        )
        .orderBy(F.col("s_acctbal").desc(), F.col("s_name").asc(), F.col("p_partkey").asc())
        .limit(100)
    )


# --------------------------------------------------------------------------
# Q7: volume shipping between two nations (OR'd nation pairs + YEAR)
# --------------------------------------------------------------------------
@workload(
    "tpch_q7_volume_shipping",
    oracle=f"""
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM(vol) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         YEAR(l_shipdate) AS l_year, {_REV_DEC_SQL} AS vol
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
) shipping
GROUP BY supp_nation, cust_nation, l_year
""",
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by year.
    Both nation lookups broadcast; the disjunctive nation-pair predicate is
    applied after the joins (it references both sides). Only the
    orders|><|lineitem equi-join shuffles."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    nt = load_table(spark, sf_dir, "nation")
    n1 = nt.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nt.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        l.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(F.sum(_revenue_dec()).cast("double").alias("revenue"))
    )


# --------------------------------------------------------------------------
# Q8: national market share (conditional aggregate / total)
# --------------------------------------------------------------------------
@workload(
    "tpch_q8_market_share",
    oracle=f"""
SELECT o_year,
       CAST(SUM(CASE WHEN nation = 'NATION_3' THEN vol
                     ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
       / CAST(SUM(vol) AS DOUBLE) AS mkt_share
FROM (
  SELECT YEAR(o_orderdate) AS o_year, {_REV_DEC_SQL} AS vol,
         n2.n_name AS nation
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'AMERICA' AND p_type = 'PROMO'
    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
) all_nations
GROUP BY o_year
""",
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of regional PROMO revenue per
    year — a conditional CASE aggregate divided by the group total. Both
    sums are exact decimals; the single final double division is identical
    across engines."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    c = load_table(spark, sf_dir, "customer")
    nt = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n1 = nt.select("n_nationkey", "n_regionkey")
    n2 = nt.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    vol = _revenue_dec()
    zero = F.lit(0).cast("decimal(18,4)")
    joined = (
        l.join(F.broadcast(p.select("p_partkey")), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s.select("s_suppkey", "s_nationkey")), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c.select("c_custkey", "c_nationkey"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r.select("r_regionkey")), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .select(F.year("o_orderdate").alias("o_year"), vol.alias("vol"), "nation")
    )
    return joined.groupBy("o_year").agg(
        (
            F.sum(F.when(F.col("nation") == "NATION_3", F.col("vol")).otherwise(zero))
            .cast("double")
            / F.sum("vol").cast("double")
        ).alias("mkt_share")
    )


# --------------------------------------------------------------------------
# Q9: product-type profit (LIKE + 5-way join, signed amounts)
# --------------------------------------------------------------------------
@workload(
    "tpch_q9_product_type_profit",
    oracle=f"""
SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
FROM (
  SELECT n_name AS nation, YEAR(o_orderdate) AS o_year,
         {_REV_DEC_SQL}
         - CAST(l_quantity AS DECIMAL(18,2)) * CAST(p_retailprice AS DECIMAL(18,2))
         AS amount
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%red%'
) profit
GROUP BY nation, o_year
""",
)
def tpch_q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: per-nation yearly profit on parts matching a LIKE
    pattern. Cost uses l_quantity * p_retailprice (the schema has no
    ps_supplycost); amounts are signed exact decimals so partial-agg order
    cannot change the sum."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    nt = load_table(spark, sf_dir, "nation")
    amount = _revenue_dec() - (
        F.col("l_quantity").cast("decimal(18,2)")
        * F.col("p_retailprice").cast("decimal(18,2)")
    )
    return (
        l.join(
            F.broadcast(p.select("p_partkey", "p_retailprice")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            F.broadcast(s.select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(o.select("o_orderkey", "o_orderdate"), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(nt), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(F.sum("amount").cast("double").alias("sum_profit"))
    )


# --------------------------------------------------------------------------
# Q10: returned-item reporting (top-20 customers by lost revenue)
# --------------------------------------------------------------------------
@workload(
    "tpch_q10_returned_items",
    oracle=f"""
SELECT c_custkey, c_name,
       {"CAST(SUM(" + _REV_DEC_SQL + ") AS DOUBLE)"} AS revenue,
       c_acctbal, n_name
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
""",
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: customers who returned the most revenue in a
    quarter. Returned-flag filter reaches the lineitem scan; nation
    broadcast; top-20 with custkey tiebreak."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nt = load_table(spark, sf_dir, "nation")
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nt), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(_revenue_dec()).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


# --------------------------------------------------------------------------
# Q11: important parts (uncorrelated scalar subquery threshold)
# --------------------------------------------------------------------------
@workload(
    "tpch_q11_important_parts",
    oracle=f"""
WITH partval AS (
  SELECT l_partkey AS partkey, SUM({_REV_DEC_SQL}) AS value_dec
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_4'
  GROUP BY l_partkey
)
SELECT partkey, CAST(value_dec AS DOUBLE) AS part_value
FROM partval
WHERE value_dec * 500 > (SELECT SUM(value_dec) FROM partval)
""",
)
def tpch_q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose supplied value from one nation exceeds
    a fraction of that nation's total — an uncorrelated scalar subquery in
    the HAVING position. The global total is a 1-row aggregate broadcast
    into the filter (no second scan of the grouped data); the threshold
    comparison is exact-decimal (value*500 > total, no double fraction)."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    nt = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_4")
    partval = (
        l.join(
            F.broadcast(
                s.join(F.broadcast(nt), F.col("s_nationkey") == F.col("n_nationkey"))
                .select("s_suppkey")
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum(_revenue_dec()).alias("value_dec"))
    )
    total = partval.agg(F.sum("value_dec").alias("total_dec"))
    return (
        partval.join(F.broadcast(total))
        .filter(F.col("value_dec") * 500 > F.col("total_dec"))
        .select("partkey", F.col("value_dec").cast("double").alias("part_value"))
    )


# --------------------------------------------------------------------------
# Q15: top supplier (scalar MAX subquery, exact-decimal equality)
# --------------------------------------------------------------------------
@workload(
    "tpch_q15_top_supplier",
    oracle=f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no, SUM({_REV_DEC_SQL}) AS total_rev_dec
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(total_rev_dec AS DOUBLE) AS total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_rev_dec = (SELECT MAX(total_rev_dec) FROM revenue)
""",
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with the maximum quarterly revenue —
    the view + scalar MAX subquery form. The equality join against the max
    is safe because revenues are exact decimals on both engines."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    s = load_table(spark, sf_dir, "supplier")
    revenue = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_revenue_dec()).alias("total_rev_dec")
    )
    best = revenue.agg(F.max("total_rev_dec").alias("max_rev"))
    return (
        revenue.join(F.broadcast(best))
        .filter(F.col("total_rev_dec") == F.col("max_rev"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("supplier_no"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_rev_dec").cast("double").alias("total_revenue"),
        )
    )


# --------------------------------------------------------------------------
# Q16: parts/supplier relationship (NOT IN + COUNT DISTINCT)
# --------------------------------------------------------------------------
@workload(
    "tpch_q16_parts_supplier_relationship",
    oracle="""
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) supply
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1'
  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
""",
)
def tpch_q16_parts_supplier_relationship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers can supply each
    qualifying (brand, type, size), excluding blacklisted suppliers — the
    NOT IN becomes a LEFT ANTI join (safe: s_suppkey is non-null), and the
    supply relation is the distinct pairs observed in lineitem."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    )
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    supply = l.select("l_partkey", "l_suppkey").distinct()
    return (
        supply.join(F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(
            F.broadcast(p.select("p_partkey", "p_brand", "p_type", "p_size")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


# --------------------------------------------------------------------------
# Q17: small-quantity-order revenue (correlated AVG -> per-key window)
# --------------------------------------------------------------------------
@workload(
    "tpch_q17_small_quantity_revenue",
    oracle=f"""
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
       AS avg_yearly
FROM lineitem l
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#5'
  AND {_QTY_DEC} * 5 * (SELECT COUNT(*) FROM lineitem l2
                        WHERE l2.l_partkey = l.l_partkey)
      < (SELECT SUM({_QTY_DEC.replace("l_quantity", "l2.l_quantity")})
         FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
""",
)
def tpch_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue lost to small-quantity orders. The
    correlated per-part AVG subquery (qty < 0.2*avg) is rewritten to exact
    integer arithmetic over a per-part window — 5*qty*count < sum — so no
    double division feeds row selection. Because p_partkey determines
    p_brand, the per-part window over brand-filtered rows equals the
    unrestricted per-part statistics."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#5")
    l = load_table(spark, sf_dir, "lineitem").join(
        F.broadcast(p.select("p_partkey")), F.col("l_partkey") == F.col("p_partkey")
    )
    w = Window.partitionBy("l_partkey")
    qty_dec = F.col("l_quantity").cast("decimal(18,2)")
    small = (
        l.withColumn("part_cnt", F.count(F.lit(1)).over(w))
        .withColumn("part_qty_sum", F.sum(qty_dec).over(w))
        .filter(qty_dec * 5 * F.col("part_cnt") < F.col("part_qty_sum"))
    )
    return small.agg(
        (
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            / F.lit(7.0)
        ).alias("avg_yearly")
    )


# --------------------------------------------------------------------------
# Q18: large-volume customers (IN over grouped HAVING -> semi join)
# --------------------------------------------------------------------------
@workload(
    "tpch_q18_large_volume_customers",
    oracle=f"""
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       CAST(SUM({_QTY_DEC}) AS DOUBLE) AS total_qty
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey
  HAVING SUM({_QTY_DEC}) > 300)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 100
""",
)
def tpch_q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers who placed very large-quantity orders.
    The IN-subquery over a grouped HAVING becomes an aggregate + LEFT SEMI
    join on the order key; quantities aggregate as exact decimals."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    qty_dec = F.col("l_quantity").cast("decimal(18,2)")
    big = (
        l.groupBy(F.col("l_orderkey").alias("big_okey"))
        .agg(F.sum(qty_dec).alias("okey_qty"))
        .filter(F.col("okey_qty") > 300)
        .select("big_okey")
    )
    return (
        l.join(big, F.col("l_orderkey") == F.col("big_okey"), "left_semi")
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(qty_dec).cast("double").alias("total_qty"))
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


# --------------------------------------------------------------------------
# Q20: promotion suppliers (nested semi-join chain)
# --------------------------------------------------------------------------
@workload(
    "tpch_q20_promotion_suppliers",
    oracle=f"""
WITH shipped AS (
  SELECT l_suppkey, l_partkey,
         SUM(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                   AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
                  THEN {_QTY_DEC} ELSE CAST(0 AS DECIMAL(18,2)) END) AS qty_1996,
         SUM({_QTY_DEC}) AS qty_total
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE 'red%'
  GROUP BY l_suppkey, l_partkey
)
SELECT s_suppkey, s_name, n_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_5'
  AND s_suppkey IN (SELECT l_suppkey FROM shipped
                    WHERE qty_1996 * 2 > qty_total)
""",
)
def tpch_q20_promotion_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers in one nation whose 1996 shipments of
    promoted ('red') parts dominate their all-time volume for that part —
    a nested subquery chain flattened to aggregate + semi join. (The
    original's ps_availqty > 0.5*shipped becomes 2*qty_1996 > qty_total;
    comparisons stay in exact decimals.)"""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    l = load_table(spark, sf_dir, "lineitem").join(
        F.broadcast(p.select("p_partkey")), F.col("l_partkey") == F.col("p_partkey")
    )
    s = load_table(spark, sf_dir, "supplier")
    nt = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_5")
    qty_dec = F.col("l_quantity").cast("decimal(18,2)")
    in_1996 = (F.col("l_shipdate") >= "1996-01-01") & (
        F.col("l_shipdate") < "1997-01-01"
    )
    zero = F.lit(0).cast("decimal(18,2)")
    shipped = (
        l.groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(F.when(in_1996, qty_dec).otherwise(zero)).alias("qty_1996"),
            F.sum(qty_dec).alias("qty_total"),
        )
        .filter(F.col("qty_1996") * 2 > F.col("qty_total"))
        .select("l_suppkey")
    )
    return (
        s.join(F.broadcast(nt), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(shipped, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name", "n_name")
    )


# --------------------------------------------------------------------------
# Q21: suppliers who kept orders waiting (EXISTS + NOT EXISTS)
# --------------------------------------------------------------------------
@workload(
    "tpch_q21_waiting_suppliers",
    oracle="""
SELECT s_name, COUNT(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE o_orderstatus = 'F' AND n_name = 'NATION_7'
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY s_name
ORDER BY numwait DESC, s_name ASC
LIMIT 20
""",
)
def tpch_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late supplier on a
    multi-supplier finished order — the classic EXISTS + NOT EXISTS double
    correlation, planned as one semi and one anti join against per-order
    supplier facts. "Late" is adapted to shipdate > orderdate + 60 days
    (the schema has no commit/receipt dates).

    The per-order facts are computed ONCE by aggregation (distinct
    supplier count, late-supplier count per order) instead of two
    correlated re-scans of lineitem — the decorrelation a warehouse
    optimizer applies, and 2 scans fewer at 100 TB."""
    s = load_table(spark, sf_dir, "supplier")
    nt = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    l = load_table(spark, sf_dir, "lineitem")

    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")
    # Per (order, supplier): how many LATE lines this supplier shipped on
    # this finished order (the oracle's COUNT(*) counts late l1 lines, so
    # the line count must survive the decorrelation).
    per_supp = (
        l.join(o.select("o_orderkey", "o_orderdate"), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("l_orderkey").alias("okey"), F.col("l_suppkey").alias("skey"))
        .agg(F.sum(F.when(late, 1).otherwise(0)).alias("late_lines"))
    )
    # Per order: distinct suppliers and how many of them were late at all.
    per_order = per_supp.groupBy("okey").agg(
        F.count(F.lit(1)).alias("n_supps"),
        F.sum((F.col("late_lines") > 0).cast("int")).alias("n_late_supps"),
    )
    waiting = (
        per_supp.filter(F.col("late_lines") > 0)
        .join(per_order, "okey")
        .filter((F.col("n_supps") > 1) & (F.col("n_late_supps") == 1))
    )
    return (
        waiting.join(
            F.broadcast(
                s.join(F.broadcast(nt), F.col("s_nationkey") == F.col("n_nationkey"))
                .select("s_suppkey", "s_name")
            ),
            F.col("skey") == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.sum("late_lines").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(20)
    )
