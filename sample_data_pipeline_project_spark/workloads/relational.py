"""Relational workloads (B7 + general SQL coverage) over the TPC-H-ish
testdata: multi-table equi-joins (broadcast-able dims), semi/anti, outer,
null-safe, lateral, range and bucketed joins, set ops, correlated and
uncorrelated subqueries, distinct, sorting, and the scalar function
surface (regex/string, calendar, binary/hash, conditional, try-arithmetic,
array/map higher-order functions).

The TPC-H query shapes live in workloads/tpch_queries.py and grouped
aggregates/windows in workloads/aggregation_queries.py; both import the
exact-decimal money helpers defined here (`_dsum`, `_revenue_dec`,
`_REV_DEC_SQL`, `_REV_SQL`, `_CENTS_O`), as do the statistics, time-series
and ML families.

Scale notes:
  - dimension tables (region/nation/supplier/part/customer) are explicitly
    `broadcast()`-hinted in the Spark builders — at 100 TB the fact tables
    shuffle only for their own aggregations, never to co-locate a dim join;
  - aggregates are partial (map-side combine) by construction;
  - double-typed metrics go through exact DECIMAL sums then one final cast
    to DOUBLE, making results independent of partial-agg ordering (and
    bit-identical to the DuckDB oracle).

Determinism notes:
  - regex patterns stay within the common semantics of Java regex
    (Spark) and RE2 (DuckDB): literal/char-class/anchor only;
  - the conditional and binary/hash scalar workloads are pure scalar
    logic over injected NULLs with exact integer outputs;
  - the correlated-subquery workload feeds Catalyst's decorrelation
    rewrites (RewriteCorrelatedScalarSubquery / RewritePredicateSubquery):
    both scalar subqueries and the EXISTS become aggregate+join plans,
    with the comparison kept in exact integer cross-products
    (cents*count vs sum) so no AVG-typing divergence between engines can
    move the boundary;
  - range_join_price_bands uses operators/rangejoin.band_range_join
    (hash join, not nested loop).

Runtime-mitigation certifications (join_skew_aqe_certified,
join_dynamic_partition_pruning) hard-assert their PLAN property inside
the workload — AQE's skew-join split actually fires, a dynamic-pruning
subquery sits on the partition column — so a silent planner/runtime
regression fails the gate rather than passing as green. The skewed key
is a pure function of l_orderkey (modular arithmetic), so both engines
derive the identical key set, and the AQE-tuning confs are set ONLY
inside a save/restore window so no other workload in the same session
sees them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sample_data_pipeline_project_spark.operators.rangejoin import band_range_join
from sample_data_pipeline_project_spark.sources.catalog import (
    load_table,
    register_views,
)
from sample_data_pipeline_project_spark.sources.scratch import scratch_dir
from sample_data_pipeline_project_spark.workloads import workload


def _dsum(expr: Column, dec: str = "DECIMAL(18,2)") -> Column:
    """Order-independent sum of a double expression: exact decimal sum,
    cast back to double at the end. The testdata money/quantity/rate
    columns are exact 2-decimal values, so the input cast is lossless; the
    decimal sum is then independent of partial-aggregation order and
    bit-identical across engines (double summation would be neither)."""
    return F.sum(expr.cast(dec)).cast("double")


def _revenue_dec() -> Column:
    """extendedprice * (1 - discount) in EXACT decimal arithmetic: inputs
    are 2-decimal values, so casting each operand to decimal first (not the
    double product afterwards) avoids engine-specific double->decimal
    rounding at the mantissa edge."""
    return (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))
    ).cast("decimal(18,4)")


_REV_DEC_SQL = (
    "CAST(CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (1 - CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(18,4))"
)
_REV_SQL = f"CAST(SUM({_REV_DEC_SQL}) AS DOUBLE)"
_CENTS_O = "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"


# --------------------------------------------------------------------------
# Semi / anti joins
# --------------------------------------------------------------------------
@workload(
    "join_semi_customers_with_orders",
    oracle="""
SELECT c_custkey, c_name
FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
""",
)
def join_semi_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (EXISTS): customers having at least one order."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_semi").select(
        "c_custkey", "c_name"
    )


@workload(
    "join_anti_customers_without_orders",
    oracle="""
SELECT c_custkey, c_name
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
""",
)
def join_anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS): customers with no orders."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti").select(
        "c_custkey", "c_name"
    )


# --------------------------------------------------------------------------
# Set operations, distinct, rollup, having
# --------------------------------------------------------------------------
@workload(
    "setop_nations_customers_minus_suppliers",
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
EXCEPT
SELECT s_nationkey AS nationkey FROM supplier
""",
)
def setop_nations_customers_minus_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (set difference) over nation keys."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.subtract(s)


@workload(
    "setop_union_all_keys",
    oracle="""
SELECT nationkey, COUNT(*) AS n
FROM (
  SELECT c_nationkey AS nationkey FROM customer
  UNION ALL
  SELECT s_nationkey AS nationkey FROM supplier
) u
GROUP BY nationkey
""",
)
def setop_union_all_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL + group count."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.unionAll(s).groupBy("nationkey").agg(F.count(F.lit(1)).alias("n"))


@workload(
    "distinct_mktsegments",
    oracle="SELECT DISTINCT c_mktsegment FROM customer",
)
def distinct_mktsegments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT (dedup on a projection)."""
    return load_table(spark, sf_dir, "customer").select("c_mktsegment").distinct()


# --------------------------------------------------------------------------
# Scalar function coverage: strings, dates, case (A18 + string funcs)
# --------------------------------------------------------------------------
@workload(
    "scalar_string_date_funcs",
    oracle="""
SELECT p_partkey,
       UPPER(p_brand) AS brand_upper,
       SUBSTRING(p_type, 1, 5) AS type_prefix,
       LENGTH(p_name) AS name_len,
       p_name || '/' || p_brand AS name_brand,
       CASE WHEN p_size >= 25 THEN 'large' WHEN p_size >= 10 THEN 'medium' ELSE 'small' END AS size_class
FROM part
WHERE p_partkey <= 500
""",
)
def scalar_string_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/conditional scalar functions, all JVM-side codegen."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") <= 500)
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.length("p_name").alias("name_len"),
        F.concat_ws("/", "p_name", "p_brand").alias("name_brand"),
        F.when(F.col("p_size") >= 25, "large")
        .when(F.col("p_size") >= 10, "medium")
        .otherwise("small")
        .alias("size_class"),
    )


@workload(
    "date_trunc_monthly_orders",
    oracle="""
SELECT DATE_TRUNC('month', o_orderdate) AS order_month,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS month_total
FROM orders
GROUP BY DATE_TRUNC('month', o_orderdate)
""",
)
def date_trunc_monthly_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date functions (A18): month truncation + grouped aggregate.
    `F.trunc` yields DateType, matching DuckDB's date_trunc('month')."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.trunc(F.col("o_orderdate"), "month").alias("order_month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dsum(F.col("o_totalprice"), "DECIMAL(18,2)").alias("month_total"),
        )
    )


@workload(
    "setop_intersect_nation_keys",
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey AS nationkey FROM supplier
""",
)
def setop_intersect_nation_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (set semantics): nations having both customers and
    suppliers. Spark plans a left-semi hash join over distincts."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.intersect(s)


@workload(
    "orders_above_customer_avg",
    oracle="""
SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
FROM orders o
WHERE o.o_totalprice > (
  SELECT 2 * AVG(o2.o_totalprice) FROM orders o2 WHERE o2.o_custkey = o.o_custkey
)
""",
)
def orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (each order vs 2x its customer's average),
    decorrelated the way an optimizer would: one windowed average over
    o_custkey instead of a per-row subquery re-scan — a single shuffle.

    The comparison uses exact decimal division (count/sum decimals), so
    both engines evaluate the same predicate bit-for-bit."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    avg_dec = (
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w)
        / F.count(F.lit(1)).over(w)
    )
    return (
        o.withColumn("__avg", avg_dec)
        .filter(F.col("o_totalprice").cast("decimal(18,2)") > 2 * F.col("__avg"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@workload(
    "join_bigbig_orders_lineitem",
    oracle=f"""
SELECT o.o_orderpriority,
       COUNT(*) AS n_items,
       {_REV_SQL} AS revenue
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
""",
)
def join_bigbig_orders_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-fact join (orders x lineitem): at warehouse scale neither
    side broadcasts, so this is the shuffle-join path — both sides hash on
    l_orderkey/o_orderkey and AQE coalesces/splits partitions at runtime.
    (At test SF AQE may still elect a broadcast; the logical shape is what
    scales.)"""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(_revenue_dec()).cast("double").alias("revenue"),
        )
    )


# --------------------------------------------------------------------------
# Bloom-filter pruned join (runtime-filter pattern, explicit)
# --------------------------------------------------------------------------
_BLOOM_REV_DEC_SQL = (
    "CAST(CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (1 - CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(18,4))"
)

_BLOOM_ORACLE = f"""
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM({_BLOOM_REV_DEC_SQL}) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000
GROUP BY o_orderstatus
"""


@workload("join_bloom_pruned_revenue", oracle=_BLOOM_ORACLE)
def join_bloom_pruned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-side Bloom pruning (operators/bloomjoin.py): the selective
    order filter (urgent + expensive) builds an m=2^17-bit Bloom bitset
    that drops non-matching lineitem rows BEFORE the join shuffle — the
    explicit form of the engine's runtime bloom filter. False positives
    are removed by the exact join, so the result (and its hash) is
    identical to the plain-join oracle; a plan test asserts the pruning
    predicate sits on the probe scan."""
    from sample_data_pipeline_project_spark.operators.bloomjoin import (
        bloom_pruned_join,
    )

    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > 150000)
    )
    joined = bloom_pruned_join(
        l, o, probe_key="l_orderkey", build_key="o_orderkey", m_bits=1 << 17
    )
    rev = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))
    ).cast("decimal(18,4)")
    return joined.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(rev).cast("double").alias("revenue"),
    )


# --------------------------------------------------------------------------
# Correlated subqueries (decorrelation surface): EXISTS + 2 scalar subqueries
# --------------------------------------------------------------------------
_CORR_SQL = f"""
SELECT o.o_custkey AS custkey, COUNT(*) AS n_above_own_avg
FROM orders o
WHERE CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      * (SELECT COUNT(*) FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
      > (SELECT CAST(SUM(CAST(CAST(o3.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
         FROM orders o3 WHERE o3.o_custkey = o.o_custkey)
  AND EXISTS (SELECT 1 FROM customer c
              WHERE c.c_custkey = o.o_custkey AND c.c_mktsegment = 'BUILDING')
GROUP BY o.o_custkey
"""


@workload("subquery_correlated_exists", oracle=_CORR_SQL)
def subquery_correlated_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORRELATED-SUBQUERY surface: per BUILDING-segment customer, how
    many of their orders exceed their OWN average order value — written
    with two correlated scalar subqueries plus a correlated EXISTS, the
    exact SQL text DuckDB runs as the oracle. Catalyst DECORRELATES both:
    the scalar subqueries become a per-custkey aggregate joined back, the
    EXISTS becomes a left-semi join — no per-row re-execution anywhere in
    the physical plan (the optimizer rewrite is what this row certifies).
    "Above own average" is compared in exact integer cross-products
    (cents * count > sum_cents), so no AVG-typing difference between the
    engines can move a boundary row."""
    register_views(spark, sf_dir)
    return spark.sql(_CORR_SQL)


# --------------------------------------------------------------------------
# C179 — binary / hash scalar function parity
# --------------------------------------------------------------------------

_BIN_ORACLE = """
SELECT n_nationkey,
       md5(n_name) AS md5_name,
       sha256(n_name) AS sha256_name,
       to_base64(CAST(n_name AS BLOB)) AS b64_name,
       hex(n_name) AS hex_name,
       CAST(xor(n_nationkey, n_regionkey) AS BIGINT) AS k_xor,
       CAST(n_nationkey & n_regionkey AS BIGINT) AS k_and,
       CAST(n_nationkey | n_regionkey AS BIGINT) AS k_or,
       CAST(n_nationkey << 3 AS BIGINT) AS k_shl,
       CAST(n_nationkey >> 1 AS BIGINT) AS k_shr,
       CAST(bit_count((CAST(n_nationkey AS BIGINT) << 20)
                      | CAST(n_regionkey AS BIGINT)) AS BIGINT) AS k_popcnt
FROM nation
"""


@workload("scalar_binary_funcs", oracle=_BIN_ORACLE)
def scalar_binary_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary / cryptographic-hash scalar surface parity: md5, sha-256,
    base64, hex, and the int64 bitwise algebra (xor/and/or/shifts/
    popcount) — the building blocks the engine's own operators lean on
    (md5-u32 deterministic sampling, simhash bit arithmetic, bitmap
    sketches) exposed as a user-facing scalar vocabulary and pinned
    against the oracle byte-for-byte. All JVM-side whole-stage-codegen
    expressions; no UDFs."""
    n = load_table(spark, sf_dir, "nation")
    return n.select(
        "n_nationkey",
        F.md5(F.col("n_name")).alias("md5_name"),
        F.sha2(F.col("n_name"), 256).alias("sha256_name"),
        F.base64(F.col("n_name").cast("binary")).alias("b64_name"),
        F.hex(F.col("n_name")).alias("hex_name"),
        F.expr("n_nationkey ^ n_regionkey").cast("long").alias("k_xor"),
        F.expr("n_nationkey & n_regionkey").cast("long").alias("k_and"),
        F.expr("n_nationkey | n_regionkey").cast("long").alias("k_or"),
        F.expr("shiftleft(n_nationkey, 3)").cast("long").alias("k_shl"),
        F.expr("shiftright(n_nationkey, 1)").cast("long").alias("k_shr"),
        F.expr(
            "bit_count(shiftleft(CAST(n_nationkey AS BIGINT), 20)"
            " | CAST(n_regionkey AS BIGINT))"
        )
        .cast("long")
        .alias("k_popcnt"),
    )


# --------------------------------------------------------------------------
# C202 — dynamic partition pruning certification
# --------------------------------------------------------------------------

_DPP_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
            AS BIGINT) AS rev_cents
FROM orders
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
GROUP BY o_orderpriority
"""


@workload("join_dynamic_partition_pruning", oracle=_DPP_ORACLE)
def join_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning certified end to end: the fact table is
    written hive-partitioned by priority, the dimension carries the
    selective predicate (flagged priorities only), and the join key is
    the partition column — so Catalyst must inject a dynamic-pruning
    subquery into the fact scan's PartitionFilters, reusing the
    broadcast dim to decide AT RUNTIME which partitions to read. The
    workload HARD-FAILS unless `dynamicpruning` appears in the physical
    plan: at 100 TB, DPP on a star join is the difference between
    scanning two partitions and scanning the table, and a silent planner
    regression must not pass as green. Output is the per-priority
    rollup, equal to a static filter on the original table (which is the
    oracle)."""
    o = load_table(spark, sf_dir, "orders")
    root = scratch_dir("dpp_fact")
    o.write.partitionBy("o_orderpriority").mode("overwrite").parquet(root)
    fact = spark.read.parquet(root)
    dim = spark.createDataFrame(
        [
            ("1-URGENT", 1),
            ("2-HIGH", 1),
            ("3-MEDIUM", 0),
            ("4-NOT SPECIFIED", 0),
            ("5-LOW", 0),
        ],
        "prio string, flag int",
    )
    joined = fact.join(
        dim.filter(F.col("flag") == 1),
        fact["o_orderpriority"] == F.col("prio"),
    )
    out = joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum((F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
        .cast("long")
        .alias("rev_cents"),
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    if "dynamicpruning" not in plan.lower():
        raise AssertionError(
            "expected a dynamic-pruning subquery on the partitioned fact "
            "scan; plan:\n" + plan
        )
    return out


# --------------------------------------------------------------------------
# C204 — conditional scalar surface (coalesce / nullif / greatest / least)
# --------------------------------------------------------------------------

_COND_ORACLE = """
WITH x AS (
  SELECT o_orderkey,
         NULLIF(o_orderstatus, 'P') AS status_np,
         CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_custkey END AS cust_n
  FROM orders
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN status_np IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nullified,
       CAST(SUM(COALESCE(cust_n, -1)) AS BIGINT) AS sum_coalesced,
       CAST(SUM(GREATEST(o_orderkey % 7, o_orderkey % 5)) AS BIGINT)
         AS sum_greatest,
       CAST(SUM(LEAST(o_orderkey % 7, o_orderkey % 5)) AS BIGINT) AS sum_least,
       CAST(SUM(CASE WHEN COALESCE(status_np, 'P') = 'P' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_roundtrip
FROM x
"""


@workload("scalar_conditional_funcs", oracle=_COND_ORACLE)
def scalar_conditional_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The conditional scalar vocabulary — NULLIF (inject NULLs),
    COALESCE (recover them), GREATEST/LEAST (n-ary comparisons) — pinned
    under exact integer aggregates, including the NULLIF->COALESCE
    round-trip identity (n_roundtrip counts rows where un-nullifying
    restores the original sentinel). Pure whole-stage-codegen
    expressions; the NULL-injection pattern is how every ingest pipeline
    normalizes magic sentinel values."""
    o = load_table(spark, sf_dir, "orders")
    x = o.select(
        "o_orderkey",
        F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("status_np"),
        F.when(F.col("o_orderkey") % 3 == 0, F.lit(None).cast("long"))
        .otherwise(F.col("o_custkey"))
        .alias("cust_n"),
    )
    return x.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(F.col("status_np").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_nullified"),
        F.sum(F.coalesce(F.col("cust_n"), F.lit(-1).cast("long")))
        .cast("long")
        .alias("sum_coalesced"),
        F.sum(F.greatest(F.col("o_orderkey") % 7, F.col("o_orderkey") % 5))
        .cast("long")
        .alias("sum_greatest"),
        F.sum(F.least(F.col("o_orderkey") % 7, F.col("o_orderkey") % 5))
        .cast("long")
        .alias("sum_least"),
        F.sum(
            F.when(F.coalesce(F.col("status_np"), F.lit("P")) == "P", 1).otherwise(0)
        )
        .cast("long")
        .alias("n_roundtrip"),
    )


# --------------------------------------------------------------------------
# C218 — correlated LATERAL subquery (per-row dependent top-n)
# --------------------------------------------------------------------------
_LATERAL_ORACLE = """
SELECT n.n_nationkey AS nationkey, t.c_custkey AS custkey,
       t.c_acctbal AS acctbal
FROM nation n,
LATERAL (SELECT c_custkey, c_acctbal FROM customer c
         WHERE c.c_nationkey = n.n_nationkey
         ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
"""


@workload("join_lateral_topn_per_nation", oracle=_LATERAL_ORACLE)
def join_lateral_topn_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORRELATED LATERAL SUBQUERY: per nation, its top-2 customers by
    balance, written as `FROM nation, LATERAL (... WHERE correlated
    ORDER BY ... LIMIT 2)` — the per-row dependent-subquery surface
    (distinct from the UDTF lateral of C-chunking and from the window
    row_number form of window_topn_per_nation: this one exercises
    Catalyst's DecorrelateInnerQuery path, which rewrites the lateral
    into a ranked join rather than executing per-row). Deterministic
    via the (acctbal DESC, custkey) tiebreak."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_LATERAL_ORACLE)


# ~half of lineitem lands on skew key 0; the rest spreads over 997 keys.
_SKEW_MOD = 997
_DIM_N = _SKEW_MOD + 1  # keys 0.._SKEW_MOD

_SKEW_ORACLE = f"""
WITH fact AS (
  SELECT CASE WHEN l_orderkey % 2 = 0 THEN 0
              ELSE l_orderkey % {_SKEW_MOD} + 1 END AS k,
         l_quantity,
         l_extendedprice
  FROM lineitem
),
dim AS (
  SELECT i AS k, i % 7 AS grp FROM generate_series(0, {_SKEW_MOD}) t(i)
)
SELECT dim.grp,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(fact.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(SUM(CAST(CAST(fact.l_extendedprice AS DECIMAL(18,2)) * 100
                AS BIGINT)) AS BIGINT) AS rev_cents
FROM fact JOIN dim ON fact.k = dim.k
GROUP BY dim.grp
"""

# Confs that make the mitigation observable at test scale (sf0.001-0.1
# shuffle partitions are a few KB-MB; production defaults look for
# 256 MB partitions). Factor/threshold scale DOWN the detector, they do
# not change its logic; forceOptimizeSkewedJoin lifts the
# "no-extra-shuffle" guard that is irrelevant here (the downstream agg
# regroups on a different key, so an exchange exists either way).
_SKEW_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2KB",
    "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
}

# AQE splits a skewed reduce partition by MAPPER ranges. The sf-test
# parquet is ONE row group, so however many file splits the scan plans,
# exactly one map task emits all the shuffle data — and a single-mapper
# partition is unsplittable (probed empirically: per-mapper block sizes
# for the hot reducer were [0, 0, ..., 135735]). A 100 TB scan has
# thousands of mappers; the explicit repartition below recreates that
# many-mapper precondition at test scale — it feeds the detector real
# input, it does not change what the detector checks.
_SKEW_FACT_MAPPERS = 8


@workload("join_skew_aqe_certified", oracle=_SKEW_ORACLE)
def join_skew_aqe_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE SKEW-JOIN mitigation certified end to end (C221): half of
    lineitem is funneled onto ONE join key (the canonical hot-key shape
    — a null-like sentinel, a mega-customer, an empty-string bucket),
    the dimension side is kept off the broadcast path, and the workload
    HARD-FAILS unless the executed adaptive plan carries the
    `skew=true` marker on the sort-merge join — proof that AQE split
    the hot partition into advisory-sized subpartitions and replicated
    the matching dim rows, instead of sending ~50% of the table to one
    reducer. At 100 TB a single hot key IS the wall-clock; `dq_skew_report`
    (C36) measures the skew, this certifies the runtime mitigation.
    The value result (per-group rollup over the joined rows) is
    oracle-hashed like any other workload, so the mitigation is also
    certified to not change answers."""
    old = {k: spark.conf.get(k, None) for k in _SKEW_CONFS}
    try:
        for k, v in _SKEW_CONFS.items():
            spark.conf.set(k, v)
        # Load INSIDE the conf window: file-split planning happens at
        # execution, but keeping the whole lifecycle inside makes the
        # mapper-count precondition explicit.
        li = load_table(spark, sf_dir, "lineitem")
        fact = li.select(
            F.when(F.col("l_orderkey") % 2 == 0, F.lit(0))
            .otherwise(F.col("l_orderkey") % _SKEW_MOD + 1)
            .cast("long")
            .alias("k"),
            "l_quantity",
            "l_extendedprice",
        ).repartition(_SKEW_FACT_MAPPERS)  # see _SKEW_FACT_MAPPERS note
        dim = spark.range(0, _DIM_N).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("grp")
        )
        out = (
            fact.join(dim, "k")
            .groupBy("grp")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(F.col("l_quantity").cast("long"))
                .cast("long")
                .alias("sum_qty"),
                F.sum(
                    (
                        F.col("l_extendedprice").cast("decimal(18,2)") * 100
                    ).cast("long")
                )
                .cast("long")
                .alias("rev_cents"),
            )
        )
        # AQE decisions are runtime decisions: the final adaptive plan
        # (and its skew markers) exists only after execution, so
        # materialize the (7-row) result, then inspect the SAME
        # QueryExecution's executed plan.
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        if "skew=true" not in plan:
            raise AssertionError(
                "expected AQE skew-join mitigation (skew=true on the "
                "sort-merge join) on the hot-key join; plan:\n" + plan
            )
        return out
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# --------------------------------------------------------------------------
# C223 — bucketed CO-LOCATED join certification (exchange-free fact-fact)
# --------------------------------------------------------------------------
_BKT_N = 8

_BKT_ORACLE = """
SELECT o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100
                AS BIGINT)) AS BIGINT) AS rev_cents
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderpriority
"""

_BKT_CONFS = {
    # the cert is about the SHUFFLE join path: a broadcast would skip
    # the exchange question entirely
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    "spark.sql.sources.bucketing.enabled": "true",
}


@workload("join_bucketed_colocated", oracle=_BKT_ORACLE)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUCKETED co-located fact-fact join certified end to end (C223):
    orders and lineitem are written as bucketed tables (bucketBy {n} on
    the join key, sortBy for merge-ready runs), and the workload
    HARD-FAILS if the join plan contains ANY shuffle exchange — the
    write-time layout must satisfy the join's distribution requirement
    so neither fact table reshuffles at read time. At 100 TB this is
    THE fact-fact join strategy: the brief's 'bucketing for co-located
    joins' as a certified plan fact rather than advice (the same
    hard-fail pattern as C187 PartitionFilters / C202 DPP / C221 skew).
    Both tables use the SAME bucket count, so bucket i joins bucket i
    with zero movement; the rollup result is oracle-hashed against the
    plain (layout-free) join, certifying the layout changes the PLAN,
    never the answer. Tables are pid-scoped under the gitignored
    warehouse (the scratch_dir convention)."""
    import os

    from sample_data_pipeline_project_spark.plans.introspect import (
        exchange_count,
    )
    from sample_data_pipeline_project_spark.sources.scratch import (
        reap_dead_scratch,
    )

    # The returned DataFrame lazily reads the bucketed tables, so this
    # workload cannot drop them in `finally`; instead, reap at ENTRY any
    # bkt_* (and other per-pid scratch) left by processes that no longer
    # exist — otherwise every distinct gate/bench pid leaks two full
    # bucketed copies of orders+lineitem into the warehouse forever.
    reap_dead_scratch()
    pid = os.getpid()
    to, tl = f"bkt_orders_{pid}", f"bkt_lineitem_{pid}"
    old = {k: spark.conf.get(k, None) for k in _BKT_CONFS}
    try:
        for k, v in _BKT_CONFS.items():
            spark.conf.set(k, v)
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority"
        )
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity", "l_extendedprice"
        )
        o.write.bucketBy(_BKT_N, "o_orderkey").sortBy("o_orderkey").mode(
            "overwrite"
        ).format("parquet").saveAsTable(to)
        li.write.bucketBy(_BKT_N, "l_orderkey").sortBy("l_orderkey").mode(
            "overwrite"
        ).format("parquet").saveAsTable(tl)
        bo, bl = spark.table(to), spark.table(tl)
        joined = bo.join(bl, bo["o_orderkey"] == bl["l_orderkey"])
        nx = exchange_count(joined)
        if nx != 0:
            raise AssertionError(
                f"bucketed co-located join planned {nx} shuffle "
                "exchange(s); the write-time bucket layout must satisfy "
                "the join distribution. Plan:\n"
                + joined._jdf.queryExecution().executedPlan().toString()
            )
        return joined.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum(F.col("l_quantity").cast("long"))
            .cast("long")
            .alias("sum_qty"),
            F.sum(
                (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("rev_cents"),
        )
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# --------------------------------------------------------------------------
# Bucketed range join (operators/rangejoin.py)
# --------------------------------------------------------------------------
@workload(
    "range_join_price_bands",
    oracle="""
WITH bands AS (
  SELECT i AS band_idx,
         895.0 + 8.0 * i AS lo,
         908.0 + 8.0 * i AS hi
  FROM generate_series(0, 11) t(i)
)
SELECT band_idx,
       COUNT(*) AS n_parts,
       CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM part JOIN bands ON p_retailprice >= lo AND p_retailprice < hi
GROUP BY band_idx
""",
)
def range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: parts priced within overlapping [lo, hi) bands (stride 8,
    width 13 — rows legitimately match 2 bands). The bands are deliberately
    NOT aligned to the bucket width (10), proving the bucketed equi-join +
    residual reproduces the pure theta-join semantics. At scale this is a
    hash join on the bucket key instead of a nested loop."""
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    bands = spark.range(12).select(
        F.col("id").alias("band_idx"),
        (F.lit(895.0) + 8.0 * F.col("id")).alias("lo"),
        (F.lit(908.0) + 8.0 * F.col("id")).alias("hi"),
    )
    joined = band_range_join(p, "p_retailprice", bands, "lo", "hi", bucket_width=10.0)
    return joined.groupBy("band_idx").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum(F.col("p_retailprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )


# --------------------------------------------------------------------------
# Bucketed co-located join — storage-layout shuffle elimination
# --------------------------------------------------------------------------
@workload(
    "join_bucketed_orders_lineitem",
    oracle=f"""
SELECT o_orderstatus,
       COUNT(*) AS n_items,
       CAST(SUM({_REV_DEC_SQL}) AS DOUBLE) AS revenue
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY o_orderstatus
""",
)
def join_bucketed_orders_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-fact join read from BUCKETED storage (both tables hash-
    bucketed on the order key at write time): the join itself needs no
    Exchange — only the final small groupBy shuffles. Results are
    identical to the plain parquet join (the oracle); the timing includes
    the one-time bucketed write, which is the trade a warehouse makes
    once to never shuffle this join again."""
    from sample_data_pipeline_project_spark.sources.bucketed import bucketed_join

    joined = bucketed_join(spark, sf_dir)
    return joined.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(_revenue_dec()).cast("double").alias("revenue"),
    )


# --------------------------------------------------------------------------
# Parameterized SQL-text surface (the reference's native API shape)
# --------------------------------------------------------------------------
@workload(
    "sql_text_param_revenue",
    oracle="""
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderstatus = 'F'
GROUP BY o_orderpriority
""",
)
def sql_text_param_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-TEXT entry path end-to-end (reference's native surface:
    templated SQL + bound parameters, snowflake_tasks.py:173-178 et al.):
    tables registered as views, query given as text with :name binds via
    `spark.sql(text, args=...)` — same Catalyst plan as the DataFrame
    form, so pushdown/pruning are identical. Parameters are BOUND, not
    interpolated — no SQL-injection-shaped string formatting (the
    reference f-strings dates into SQL at snowflake_tasks.py:525-526; we
    deliberately do not)."""
    from sample_data_pipeline_project_spark.sources.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders
        WHERE o_orderdate >= :start_ts
          AND o_orderdate <  :end_ts
          AND o_orderstatus = :status
        GROUP BY o_orderpriority
        """,
        args={
            "start_ts": "1996-01-01 00:00:00",
            "end_ts": "1997-01-01 00:00:00",
            "status": "F",
        },
    )


# --------------------------------------------------------------------------
# Regex + string scalar functions
# --------------------------------------------------------------------------
@workload(
    "scalar_regex_funcs",
    oracle="""
SELECT p_partkey,
       regexp_extract(p_name, '([a-z]+)$', 1) AS noun,
       regexp_replace(p_name, ' ', '_') AS snake_name,
       split_part(p_name, ' ', 1) AS adjective,
       lpad(CAST(p_size AS VARCHAR), 3, '0') AS size_padded,
       reverse(p_brand) AS brand_rev,
       levenshtein(p_brand, 'Brand#1') AS brand_dist
FROM part
WHERE p_partkey <= 300
""",
)
def scalar_regex_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex extraction/replacement + split_part/lpad/reverse/levenshtein —
    all JVM-side codegen expressions (no UDF), patterns restricted to the
    Java-regex/RE2 common subset."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") <= 300)
    return p.select(
        "p_partkey",
        F.regexp_extract("p_name", r"([a-z]+)$", 1).alias("noun"),
        F.regexp_replace("p_name", " ", "_").alias("snake_name"),
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("adjective"),
        F.lpad(F.col("p_size").cast("string"), 3, "0").alias("size_padded"),
        F.reverse("p_brand").alias("brand_rev"),
        F.levenshtein(F.col("p_brand"), F.lit("Brand#1")).alias("brand_dist"),
    )


# --------------------------------------------------------------------------
# Array / higher-order functions over the embedding column
# --------------------------------------------------------------------------
@workload(
    "array_embedding_stats",
    oracle="""
SELECT vec_id,
       len(embedding) AS dim,
       list_min(embedding) AS mn,
       list_max(embedding) AS mx,
       len(list_filter(embedding, x -> x > 0)) AS n_pos,
       embedding[1] AS head1,
       embedding[2] AS head2,
       embedding[3] AS head3
FROM embeddings
WHERE vec_id < 500
""",
)
def array_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array + lambda higher-order functions over `embedding:
    array<float>`: size, element min/max, a filtered count (HOF lambda),
    and the first three elements — all JVM-side expressions on the nested
    type, no UDF. Only comparisons and reshaping (no float arithmetic),
    so results are bit-exact across engines. The head slice is emitted as
    THREE SCALAR float columns (not array<float>): the driver's pandas
    canonicalizer cannot sort/factorize list cells (r04 red row on
    features_hashing_trick), so final output schemas stay scalar."""
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.array_min("embedding").alias("mn"),
        F.array_max("embedding").alias("mx"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_pos"),
        F.col("embedding")[0].alias("head1"),
        F.col("embedding")[1].alias("head2"),
        F.col("embedding")[2].alias("head3"),
    )


# --------------------------------------------------------------------------
# FULL OUTER join (null-producing on both sides)
# --------------------------------------------------------------------------
@workload(
    "join_full_outer_user_activity",
    oracle="""
WITH clicks AS (
  SELECT user_id, COUNT(*) AS n_clicks FROM events
  WHERE event_type = 'click' AND ts < TIMESTAMP '2024-01-02 00:00:00'
  GROUP BY user_id
),
purchases AS (
  SELECT user_id, COUNT(*) AS n_purchases FROM events
  WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-02 00:00:00'
  GROUP BY user_id
)
SELECT COALESCE(c.user_id, p.user_id) AS user_id,
       COALESCE(c.n_clicks, 0) AS n_clicks,
       COALESCE(p.n_purchases, 0) AS n_purchases
FROM clicks c FULL OUTER JOIN purchases p ON c.user_id = p.user_id
""",
)
def join_full_outer_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join over asymmetric key sets: day-one clickers vs
    day-one purchasers — users appearing on only one side survive with the
    other side's count null-coalesced to zero. The join type the
    semi/anti/inner/left coverage elsewhere doesn't exercise."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("ts") < "2024-01-02 00:00:00"
    )
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_clicks"))
        .select(F.col("user_id").alias("c_uid"), "n_clicks")
    )
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
        .select(F.col("user_id").alias("p_uid"), "n_purchases")
    )
    return clicks.join(
        purchases, clicks["c_uid"] == purchases["p_uid"], "full_outer"
    ).select(
        F.coalesce("c_uid", "p_uid").alias("user_id"),
        F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"),
        F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
    )


# --------------------------------------------------------------------------
# Array higher-order functions over embeddings
# --------------------------------------------------------------------------
_HOF_ORACLE = """
WITH folded AS (
  SELECT vec_id,
         CAST(len(embedding) AS BIGINT) AS dim,
         CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
         list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
           (acc, v) -> acc + v) AS l1_norm,
         list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
           (acc, v) -> CASE WHEN v > acc THEN v ELSE acc END) AS max_abs,
         list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(embedding,
               x -> LEAST(GREATEST(CAST(x AS DOUBLE), -0.25), 0.25))),
           (acc, v) -> acc + v) AS clipped_sum
  FROM embeddings
)
SELECT vec_id, dim, n_pos, l1_norm, max_abs, clipped_sum
FROM folded
"""


@workload("scalar_array_hof_funcs", oracle=_HOF_ORACLE)
def scalar_array_hof_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order-function surface over `array<float>` embeddings:
    transform / filter / aggregate with BOTH fold shapes — a running sum
    and a running max (custom combiner) — plus an element-wise clamp
    chain. Everything runs JVM-side inside codegen (no UDF); float
    determinism comes from the repo's left-fold contract (functions/
    vectors.py): float->double casts are exact, per-element ops are IEEE,
    and the fold order is fixed, so DuckDB's list_reduce mirror is
    bit-identical. Pure projection — zero shuffles at any scale."""
    e = load_table(spark, sf_dir, "embeddings")
    absd = "transform(embedding, x -> abs(CAST(x AS DOUBLE)))"
    return e.selectExpr(
        "vec_id",
        "CAST(size(embedding) AS BIGINT) AS dim",
        "CAST(size(filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos",
        f"aggregate({absd}, CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        " AS l1_norm",
        f"aggregate({absd}, CAST(0.0 AS DOUBLE),"
        " (acc, v) -> CASE WHEN v > acc THEN v ELSE acc END) AS max_abs",
        "aggregate(transform(embedding,"
        " x -> LEAST(GREATEST(CAST(x AS DOUBLE), -0.25), 0.25)),"
        " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) AS clipped_sum",
    )


# --------------------------------------------------------------------------
# Multiset (bag) set operations: EXCEPT ALL / INTERSECT ALL
# --------------------------------------------------------------------------
_SETOP_ALL_ORACLE = """
WITH ca AS (
  SELECT c_nationkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
),
cb AS (
  SELECT c_nationkey AS k FROM customer WHERE c_mktsegment = 'MACHINERY'
),
ex AS (SELECT k FROM ca EXCEPT ALL SELECT k FROM cb),
ix AS (SELECT k FROM ca INTERSECT ALL SELECT k FROM cb)
SELECT 'except_all' AS op, CAST(k AS BIGINT) AS k,
       CAST(COUNT(*) AS BIGINT) AS multiplicity
FROM ex GROUP BY k
UNION ALL
SELECT 'intersect_all' AS op, CAST(k AS BIGINT) AS k,
       CAST(COUNT(*) AS BIGINT) AS multiplicity
FROM ix GROUP BY k
"""


@workload("setop_bag_except_intersect_all", oracle=_SETOP_ALL_ORACLE)
def setop_bag_except_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTISET set operations — EXCEPT ALL / INTERSECT ALL (bag
    semantics: per-row multiplicities, max(m1-m2,0) and min(m1,m2)) —
    the variants the DISTINCT-based setop workloads can't express.
    Output is the per-key multiplicity table of each result so the bag
    cardinalities themselves are value-hashed. Spark plans these as one
    hash aggregate over tagged counts — a single keyed shuffle."""
    c = load_table(spark, sf_dir, "customer")
    ca = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_nationkey").cast("long").alias("k")
    )
    cb = c.filter(F.col("c_mktsegment") == "MACHINERY").select(
        F.col("c_nationkey").cast("long").alias("k")
    )
    ex = (
        ca.exceptAll(cb)
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("multiplicity"))
        .select(F.lit("except_all").alias("op"), "k", "multiplicity")
    )
    ix = (
        ca.intersectAll(cb)
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("multiplicity"))
        .select(F.lit("intersect_all").alias("op"), "k", "multiplicity")
    )
    return ex.unionAll(ix)


# --------------------------------------------------------------------------
# Explicit null-ordering semantics (NULLS FIRST / NULLS LAST)
# --------------------------------------------------------------------------
_NULLS_ORACLE = """
WITH v AS (
  SELECT event_id,
         CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS val
  FROM events
),
nf AS (
  SELECT event_id, val FROM v
  ORDER BY val DESC NULLS FIRST, event_id ASC LIMIT 5
),
nl AS (
  SELECT event_id, val FROM v
  ORDER BY val ASC NULLS LAST, event_id ASC LIMIT 5
)
SELECT 'desc_nulls_first' AS op, event_id, val FROM nf
UNION ALL
SELECT 'asc_nulls_last' AS op, event_id, val FROM nl
"""


@workload("sort_null_ordering", oracle=_NULLS_ORACLE)
def sort_null_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit NULL-ORDERING semantics: the engines DISAGREE by default
    (Spark sorts nulls first ascending, DuckDB last), so portable sorts
    must state NULLS FIRST/LAST — this workload pins both spellings
    (DESC NULLS FIRST and ASC NULLS LAST) through TakeOrdered top-5s
    with a unique tiebreak, value-hashed across engines. The kind of
    semantic edge a query engine has to get right, stated as a test."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_id") % 7 == 0, None)
        .otherwise(F.col("value"))
        .alias("val"),
    )
    nf = (
        e.orderBy(F.col("val").desc_nulls_first(), F.col("event_id").asc())
        .limit(5)
        .select(F.lit("desc_nulls_first").alias("op"), "event_id", "val")
    )
    nl = (
        e.orderBy(F.col("val").asc_nulls_last(), F.col("event_id").asc())
        .limit(5)
        .select(F.lit("asc_nulls_last").alias("op"), "event_id", "val")
    )
    return nf.unionAll(nl)


# --------------------------------------------------------------------------
# Null-safe equality join (<=> / IS NOT DISTINCT FROM)
# --------------------------------------------------------------------------
_NSJ_ORACLE = """
WITH a AS (
  SELECT NULLIF(o.o_orderpriority, '1-URGENT') AS prio, COUNT(*) AS n_a
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_mktsegment = 'BUILDING'
  GROUP BY 1
),
b AS (
  SELECT NULLIF(o.o_orderpriority, '1-URGENT') AS prio, COUNT(*) AS n_b
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_mktsegment = 'MACHINERY'
  GROUP BY 1
)
SELECT a.prio, CAST(a.n_a AS BIGINT) AS n_a, CAST(b.n_b AS BIGINT) AS n_b
FROM a JOIN b ON a.prio IS NOT DISTINCT FROM b.prio
"""


@workload("join_null_safe_eq", oracle=_NSJ_ORACLE)
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-SAFE equality join (Spark `<=>` == ANSI IS NOT DISTINCT FROM):
    the join key is deliberately made nullable via NULLIF, and the
    NULL-keyed groups on the two sides must MATCH EACH OTHER — the
    semantics a plain equi-join silently drops (NULL = NULL is NULL).
    Both sides aggregate before joining, so the null-safe comparison runs
    over key-domain-bounded tables; Spark plans `<=>` as a hash join on
    the key's null-safe representation, not a nested loop."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    joined = o.join(F.broadcast(c), "o_custkey").withColumn(
        "prio", F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT"))
    )

    def side(seg: str, out: str) -> DataFrame:
        return (
            joined.filter(F.col("c_mktsegment") == seg)
            .groupBy("prio")
            .agg(F.count(F.lit(1)).alias(out))
        )

    a = side("BUILDING", "n_a").alias("a")
    b = side("MACHINERY", "n_b").alias("b")
    return a.join(b, F.col("a.prio").eqNullSafe(F.col("b.prio"))).select(
        F.col("a.prio").alias("prio"),
        F.col("n_a").cast("long"),
        F.col("n_b").cast("long"),
    )


# --------------------------------------------------------------------------
# Outer-explode semantics (posexplode_outer keeps empty-array parents)
# --------------------------------------------------------------------------
_XPL_N = 60

_XPL_ORACLE = f"""
WITH g AS (
  SELECT doc_id,
         GREATEST(len(string_split_regex(lower(trim(text)), '\\s+'))
                  - {_XPL_N - 1}, 0) AS n_grams
  FROM documents
)
SELECT CAST(n_grams > 0 AS BOOLEAN) AS has_ngrams,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n_grams > 0 THEN n_grams ELSE 1 END) AS BIGINT)
         AS n_rows_after_explode
FROM g GROUP BY 1
"""


@workload("explode_outer_semantics", oracle=_XPL_ORACLE)
def explode_outer_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OUTER-EXPLODE semantics pinned: posexplode_outer over {n}-token
    n-gram arrays keeps documents whose array is EMPTY (shorter than {n}
    tokens) as a single NULL row — the lossless flatten a plain explode
    would silently drop (the classic row-loss bug in tokenize-then-join
    pipelines). Spark genuinely runs the Generate operator and aggregates
    its output; the oracle reproduces the row arithmetic from array
    lengths alone (empty array -> exactly one row), so a hash match pins
    the operator's multiplicity contract."""
    from sample_data_pipeline_project_spark.functions.text import (
        tokens,
        word_ngrams,
    )

    d = load_table(spark, sf_dir, "documents")
    exploded = (
        d.select("doc_id", tokens("text").alias("__t"))
        .select("doc_id", word_ngrams("__t", _XPL_N).alias("__g"))
        .select("doc_id", F.posexplode_outer("__g").alias("pos", "gram"))
    )
    return (
        exploded.groupBy(F.col("pos").isNotNull().alias("has_ngrams"))
        .agg(
            F.count_distinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_rows_after_explode"),
        )
    )


# --------------------------------------------------------------------------
# MAP higher-order functions (map_from_entries / transform_values /
# map_filter / map_entries roundtrip)
# --------------------------------------------------------------------------
_MAP_HOF_MIN_SHARE = 0.25

_MAP_HOF_ORACLE = f"""
WITH cnt AS (
  SELECT user_id, event_type, COUNT(*) AS n_type
  FROM events GROUP BY user_id, event_type
),
tot AS (SELECT user_id, SUM(n_type) AS n_total FROM cnt GROUP BY user_id)
SELECT c.user_id, c.event_type,
       CAST(c.n_type AS BIGINT) AS n_type,
       CAST(c.n_type AS DOUBLE) / CAST(t.n_total AS DOUBLE) AS share
FROM cnt c JOIN tot t ON c.user_id = t.user_id
WHERE CAST(c.n_type AS DOUBLE) / CAST(t.n_total AS DOUBLE)
      >= {_MAP_HOF_MIN_SHARE}
"""


@workload("scalar_map_hof_funcs", oracle=_MAP_HOF_ORACLE)
def scalar_map_hof_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP higher-order-function surface (the map twin of C59's array
    HOFs): per-user event-type counts become a map<type, n> via
    map_from_entries, shares are computed with transform_values, dominant
    types selected with map_filter, and map_entries + explode flattens
    back to rows — all JVM-side codegen, no Python crossing. The oracle
    restates the pipeline relationally (maps are an encoding, not a
    semantic), so a hash match certifies the map ops are lossless. Map
    keys are unique by construction (built FROM a grouped aggregate);
    output rows are order-insensitive so map iteration order is moot."""
    ev = load_table(spark, sf_dir, "events")
    cnt = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_type")
    )
    m = cnt.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "n_type"))
        ).alias("type_counts")
    )
    with_share = m.select(
        "user_id",
        F.expr(
            "map_filter("
            "  transform_values(type_counts,"
            "    (k, v) -> struct(v AS n_type,"
            "      CAST(v AS DOUBLE) / CAST(aggregate(map_values(type_counts),"
            "        0L, (acc, x) -> acc + x) AS DOUBLE) AS share)),"
            f"  (k, v) -> v.share >= {_MAP_HOF_MIN_SHARE})"
        ).alias("dominant"),
    )
    return (
        with_share.select(
            "user_id", F.explode(F.map_entries("dominant")).alias("e")
        )
        .select(
            "user_id",
            F.col("e.key").alias("event_type"),
            F.col("e.value.n_type").cast("long").alias("n_type"),
            F.col("e.value.share").alias("share"),
        )
    )


# --------------------------------------------------------------------------
# Calendar scalar functions (add_months clamping, last_day, quarter)
# --------------------------------------------------------------------------
_CAL_ORACLE = """
SELECT o_orderkey,
       CAST(o_orderdate AS DATE) AS d,
       CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS plus_3mo,
       last_day(CAST(o_orderdate AS DATE)) AS month_end,
       CAST(quarter(CAST(o_orderdate AS DATE)) AS INTEGER) AS qtr,
       CAST(year(CAST(o_orderdate AS DATE)) * 100
            + month(CAST(o_orderdate AS DATE)) AS INTEGER) AS yyyymm,
       CAST(date_diff('day', CAST(o_orderdate AS DATE),
            last_day(CAST(o_orderdate AS DATE))) AS INTEGER)
         AS days_to_month_end
FROM orders
WHERE o_orderkey <= 2000
"""


@workload("scalar_calendar_funcs", oracle=_CAL_ORACLE)
def scalar_calendar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALENDAR scalar-function surface (the date half A18 implies):
    add_months with its end-of-month CLAMPING semantics (Jan 31 + 1mo =
    Feb 28 — both engines clamp, pinned here), last_day, quarter, and
    yyyymm bucketing — the expressions every fiscal rollup is built
    from, all JVM-side codegen, zero shuffles (pure projection)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        d.alias("d"),
        F.add_months(d, 3).alias("plus_3mo"),
        F.last_day(d).alias("month_end"),
        F.quarter(d).cast("int").alias("qtr"),
        (F.year(d) * 100 + F.month(d)).cast("int").alias("yyyymm"),
        F.datediff(F.last_day(d), d).cast("int").alias("days_to_month_end"),
    )


# --------------------------------------------------------------------------
# Try_* error-safe arithmetic semantics
# --------------------------------------------------------------------------
_TRY_ORACLE = """
WITH t AS (
  SELECT l_returnflag AS flag,
         CAST(l_quantity AS BIGINT) AS a,
         CAST(l_linenumber AS BIGINT) - 1 AS b,
         CASE WHEN l_linenumber = 1 THEN '42'
              WHEN l_linenumber = 2 THEN '7x'
              ELSE l_linestatus END AS s
  FROM lineitem
),
x AS (
  SELECT flag,
         CASE WHEN b = 0 THEN NULL
              ELSE CAST(a AS DOUBLE) / CAST(b AS DOUBLE) END AS d,
         CASE WHEN regexp_matches(s, '^\\s*[+-]?[0-9]+\\s*$')
              THEN TRY_CAST(s AS INTEGER) END AS c
  FROM t
)
SELECT flag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) - COUNT(d) AS BIGINT) AS n_div_null,
       CAST(SUM(CAST(ROUND(d * 1000000.0, 0) AS BIGINT)) AS BIGINT)
         AS sum_div_scaled,
       CAST(COUNT(c) AS BIGINT) AS n_cast_ok,
       CAST(SUM(CASE WHEN c IS NOT NULL THEN c ELSE 0 END) AS BIGINT)
         AS sum_cast
FROM x GROUP BY flag
"""


@workload("scalar_try_arithmetic", oracle=_TRY_ORACLE)
def scalar_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ERROR-SAFE arithmetic surface: `try_divide` (NULL on zero
    denominator instead of an error/Inf) and `try_cast` (NULL on
    malformed input) — the ANSI-mode escape hatches an ingest pipeline
    leans on when raw data is dirty. The oracle states the identical
    semantics declaratively (guarded CASE, TRY_CAST); per-row division
    results are pre-scaled to exact BIGINTs before summing so the float
    aggregation is order-independent. One projection + one keyed
    aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    t = li.select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").cast("long").alias("a"),
        (F.col("l_linenumber").cast("long") - 1).alias("b"),
        F.when(F.col("l_linenumber") == 1, "42")
        .when(F.col("l_linenumber") == 2, "7x")
        .otherwise(F.col("l_linestatus"))
        .alias("s"),
    )
    # try_cast's failure path is exception-driven inside the JVM (~us per
    # failing row): on a column where MOST rows are malformed that cost
    # dominates the whole query (observed 3.6s of a 4s sf0.1 run). The
    # regex pre-guard short-circuits rows that cannot possibly parse —
    # try_cast still performs the real parse (overflow -> NULL preserved)
    # on the plausible ones, so NULL-on-malformed semantics are intact.
    # KNOWN DIVERGENCE from bare DuckDB TRY_CAST: on decimal strings
    # DuckDB's TRY_CAST('4.5' AS INTEGER) ROUNDS to 5, while this integer-
    # literal guard yields NULL. Safe for the current inputs ('42', '7x',
    # l_linestatus letters — no decimal strings reach the cast), and the
    # oracle below states the SAME integer-literal guard so both engines
    # pin identical semantics; revisit if the malformed-column recipe
    # ever includes decimal-looking strings.
    plausible_int = F.col("s").rlike(r"^\s*[+-]?[0-9]+\s*$")
    x = t.select(
        "flag",
        F.try_divide(F.col("a").cast("double"), F.col("b").cast("double")).alias("d"),
        F.when(plausible_int, F.expr("try_cast(trim(s) AS INT)")).alias("c"),
    )
    return x.groupBy("flag").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        (F.count(F.lit(1)) - F.count("d")).cast("long").alias("n_div_null"),
        F.sum(F.round(F.col("d") * 1000000.0, 0).cast("long"))
        .cast("long")
        .alias("sum_div_scaled"),
        F.count("c").cast("long").alias("n_cast_ok"),
        F.sum(F.coalesce(F.col("c"), F.lit(0))).cast("long").alias("sum_cast"),
    )


# --------------------------------------------------------------------------
# The NOT IN + NULL trap vs NOT EXISTS
# --------------------------------------------------------------------------
_NOTIN_SQL = """
SELECT 'not_in' AS variant, CAST(COUNT(*) AS BIGINT) AS n_customers
FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                        UNION ALL SELECT CAST(NULL AS BIGINT))
UNION ALL
SELECT 'not_exists' AS variant, CAST(COUNT(*) AS BIGINT) AS n_customers
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


@workload("subquery_not_in_null_trap", oracle=_NOTIN_SQL)
def subquery_not_in_null_trap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NOT IN + NULL TRAP, pinned per ANSI on both engines with the
    SAME SQL text: a NULL in the NOT IN subquery list makes every
    membership test UNKNOWN, so the 'not_in' branch returns ZERO rows —
    while the NOT EXISTS form (the null-safe anti-join every optimizer
    compiles to) returns the real customers-without-orders count. An
    engine that 'fixes' the NOT IN branch silently is wrong; the value
    hash certifies both engines implement the standard's three-valued
    logic. Physically: Catalyst plans NOT IN as a null-aware anti join
    and NOT EXISTS as a plain left-anti join."""
    register_views(spark, sf_dir)
    return spark.sql(_NOTIN_SQL)
