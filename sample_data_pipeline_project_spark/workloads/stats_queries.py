"""Statistics workloads: hypothesis tests, correlation and rank
statistics, information-theoretic measures, robust estimators, bootstrap
standard errors, ranking and classification metrics, regression trends,
Pareto frontiers, ABC classification and largest-remainder allocation.

Determinism notes (additions to the repo-wide contract):
  - Order-dependent float SUMS of ln() terms are avoided entirely by the
    SCALED-INTEGER TERM SUM tactic: each per-cell term is computed as a
    double in identical textual order on both engines, multiplied by 1e9,
    ROUND(_, 0)ed (absorbing libm ulps) and cast to BIGINT while exactly
    integral — the cross-cell SUM is then exact int64 arithmetic,
    summation-order-independent AND map-side combinable.
  - Spearman uses TIE-CORRECTED average ranks computed analytically from
    per-value counts (rank2 = 2*|{x' < x}| + m + 1, an exact integer
    equal to twice the average rank) — no per-row window, no tiebreak
    column needed. Pearson is affine-invariant, so integer rank2 values
    give the exact Spearman rho.
  - Cramér's V extends the chi-square machinery with one more fixed
    expression; sqrt is IEEE-correctly-rounded, so
    V = sqrt(chi2 / (n * min(r-1, c-1))) is hash-stable.
  - Theil-Sen runs its quadratic pair machinery over a CALENDAR-BOUNDED
    daily aggregate (at most 31 rows at any scale factor), never over raw
    rows; the only unbounded-input stage is the daily SUM.
  - ROC-AUC is computed EXACTLY as the Mann-Whitney U statistic over
    per-value class counts, summed as int64, with ONE final division;
    cumulative counts use the partitioned-cumsum machinery (fixed value
    buckets + exclusive offsets — no single-partition window), and the
    DuckDB oracle may use a plain global window (single-node by design).
  - NDCG/MRR log2 discount weights are precomputed in Python as scaled
    int64 literals embedded in BOTH the Spark expression and the oracle.
  - Deciles come from the bucketed-global-rank machinery
    (operators/ranks.py); cumulative decile statistics use a bounded
    10x10 self-join on the Spark side.
  - Bootstrap replicate weights are Poisson(1) draws taken by inverting
    the CDF against the portable md5-u32 hash — the cumulative thresholds
    are precomputed integer literals; each replicate mean is rounded to
    integer cents before the across-replicate variance.
  - ABC classes are integer-threshold comparisons (cum*100 <= total*80)
    over exact scaled-int revenue, with a bucketed cumsum.
  - Weighted median merges equal values BEFORE the cumulative scan and
    uses the 2*cum >= total integer criterion — no halving, no doubles.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sample_data_pipeline_project_spark.operators.materialize import materialize
from sample_data_pipeline_project_spark.operators.ranks import bucketed_global_rank
from sample_data_pipeline_project_spark.sources.catalog import load_table
from sample_data_pipeline_project_spark.workloads import workload
from sample_data_pipeline_project_spark.workloads.relational import _CENTS_O
from sample_data_pipeline_project_spark.workloads.timeseries_queries import _DOLLARS


# --------------------------------------------------------------------------
# Per-group closed-form OLS regression (feature-engineering trend fit)
# --------------------------------------------------------------------------
_OLS_ORACLE = """
WITH pts AS (
  SELECT c.c_mktsegment AS segment,
         date_diff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE)) AS x,
         CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
s AS (
  SELECT segment, COUNT(*) AS n,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(x * y) AS sxy
  FROM pts GROUP BY segment
)
SELECT segment, CAST(n AS BIGINT) AS n,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       / NULLIF(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0)
       AS slope_cents_per_day,
       (CAST(sy AS DOUBLE) - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       / NULLIF(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0))
       * CAST(sx AS DOUBLE))
       / CAST(n AS DOUBLE) AS intercept_cents
FROM s
"""


@workload("regression_price_trend_by_segment", oracle=_OLS_ORACLE)
def regression_price_trend_by_segment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-group CLOSED-FORM OLS: order price (integer cents) regressed on
    order date (integer epoch-days) per market segment — the
    feature-engineering trend fit, as one keyed aggregate of five exact
    integer sufficient statistics (n, Sx, Sy, Sxx, Sxy) followed by
    driver-free arithmetic. No per-group iteration, no collect: the model
    fit IS a groupBy (the map-side-combinable shape that holds at any
    group count). Sums are exact int64 (Sxy peaks ~3e16 at sf0.1 — 300x
    headroom); slope/intercept combine the exact sums in identical
    textual order as doubles, so results are bit-identical cross-engine."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_mktsegment").alias("segment"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("x"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("y"),
    )
    s = (
        o.join(F.broadcast(c), "o_custkey")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        )
    )
    # NULLIF guards the zero-x-variance degenerate group (all orders on
    # one date): ANSI Spark would otherwise raise DIVIDE_BY_ZERO and
    # non-ANSI engines would diverge (NaN vs inf); NULL slope is the
    # portable "no trend defined" answer both engines agree on.
    slope = (
        F.col("n").cast("double") * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / F.nullif(
        F.col("n").cast("double") * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double"),
        F.lit(0.0),
    )
    intercept = (
        F.col("sy").cast("double") - slope * F.col("sx").cast("double")
    ) / F.col("n").cast("double")
    return s.select(
        "segment",
        F.col("n").cast("long"),
        slope.alias("slope_cents_per_day"),
        intercept.alias("intercept_cents"),
    )


# --------------------------------------------------------------------------
# Pareto frontier (skyline): cheapest-yet-latest orders per priority
# --------------------------------------------------------------------------
_SKYLINE_ORACLE = """
WITH o AS (
  SELECT o_orderpriority AS grp, o_orderkey,
         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
           AS order_day,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS price_cents
  FROM orders
)
SELECT grp, o_orderkey, order_day, price_cents
FROM o a
WHERE NOT EXISTS (
  SELECT 1 FROM o b
  WHERE b.grp = a.grp
    AND b.order_day >= a.order_day AND b.price_cents <= a.price_cents
    AND (b.order_day > a.order_day OR b.price_cents < a.price_cents)
)
"""


@workload("pareto_frontier_orders", oracle=_SKYLINE_ORACLE)
def pareto_frontier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline query (operators/pareto.py): per order priority, the
    Pareto frontier maximizing order date while minimizing price — the
    multi-objective 'latest AND cheapest' set no single ORDER BY can
    express. Two-phase distributed skyline: local frontiers per
    (group, 32-way hash shard) kill dominated rows map-side inside
    Arrow batches, then a frontier-of-candidates pass per group over
    the shard survivors — phase-2 input is |shards| x frontier-sized,
    never data-sized. Exact integer axes (epoch days, DECIMAL cents);
    the oracle is the quadratic NOT EXISTS dominator test."""
    from sample_data_pipeline_project_spark.operators.pareto import (
        pareto_frontier_2d,
    )

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        "o_orderkey",
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01"))
        .cast("long")
        .alias("order_day"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("price_cents"),
    )
    return pareto_frontier_2d(
        o,
        group_cols=["grp"],
        maximize_col="order_day",
        minimize_col="price_cents",
        id_cols=["o_orderkey"],
        n_shards=32,
    )


# --------------------------------------------------------------------------
# Welch two-sample t-test: order value, BUILDING vs MACHINERY customers
# --------------------------------------------------------------------------
_TT_SEG_A = "BUILDING"
_TT_SEG_B = "MACHINERY"

# Sample variance from exact sums: var = (n*sxx - sx*sx) / (n*(n-1)),
# written once here and reused verbatim on both engines.
_TT_ORACLE = f"""
WITH pts AS (
  SELECT c.c_mktsegment AS segment, {_DOLLARS} AS y
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_mktsegment IN ('{_TT_SEG_A}', '{_TT_SEG_B}')
),
s AS (
  SELECT segment, COUNT(*) AS n, SUM(y) AS sx, SUM(y * y) AS sxx
  FROM pts GROUP BY segment
),
m AS (
  SELECT segment, n, sx, sxx,
         CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
         (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS var
  FROM s
),
w AS (
  SELECT a.n AS n_a, b.n AS n_b, a.mean AS mean_a, b.mean AS mean_b,
         a.var / CAST(a.n AS DOUBLE) AS se2_a,
         b.var / CAST(b.n AS DOUBLE) AS se2_b
  FROM m a JOIN m b ON a.segment = '{_TT_SEG_A}' AND b.segment = '{_TT_SEG_B}'
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       mean_a, mean_b,
       (mean_a - mean_b) / SQRT(se2_a + se2_b) AS t_stat,
       ((se2_a + se2_b) * (se2_a + se2_b))
       / (se2_a * se2_a / CAST(n_a - 1 AS DOUBLE)
          + se2_b * se2_b / CAST(n_b - 1 AS DOUBLE)) AS welch_df
FROM w
"""


@workload("stats_welch_ttest_segments", oracle=_TT_ORACLE)
def stats_welch_ttest_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WELCH two-sample t-test (unequal variances) on order value between
    two customer segments — the A/B-significance primitive. One keyed
    aggregate builds both samples' exact integer sufficient statistics
    (n, Sx, Sxx in floor-dollars); the t statistic and Welch-Satterthwaite
    degrees of freedom are driver-free float expressions over the 2-row
    aggregate, written in identical textual order on both engines. Scale
    shape: a broadcast dim join + one map-side-combinable groupBy; output
    is one row at any data size."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_mktsegment").alias("segment"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        ((F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long") / 100)
        .cast("long")
        .alias("y"),
    )
    s = (
        o.join(F.broadcast(c), "o_custkey")
        .filter(F.col("segment").isin(_TT_SEG_A, _TT_SEG_B))
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").alias("sx"),
            F.sum(F.col("y") * F.col("y")).alias("sxx"),
        )
    )
    mean = F.col("sx").cast("double") / F.col("n").cast("double")
    var = (
        F.col("n").cast("double") * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    ) / (F.col("n").cast("double") * (F.col("n") - 1).cast("double"))
    m = s.select(
        "segment", "n", mean.alias("mean"), (var / F.col("n").cast("double")).alias("se2")
    )
    a = m.filter(F.col("segment") == _TT_SEG_A).alias("a")
    b = m.filter(F.col("segment") == _TT_SEG_B).alias("b")
    w = a.crossJoin(F.broadcast(b)).select(
        F.col("a.n").alias("n_a"),
        F.col("b.n").alias("n_b"),
        F.col("a.mean").alias("mean_a"),
        F.col("b.mean").alias("mean_b"),
        F.col("a.se2").alias("se2_a"),
        F.col("b.se2").alias("se2_b"),
    )
    t_stat = (F.col("mean_a") - F.col("mean_b")) / F.sqrt(
        F.col("se2_a") + F.col("se2_b")
    )
    welch_df = (
        (F.col("se2_a") + F.col("se2_b")) * (F.col("se2_a") + F.col("se2_b"))
    ) / (
        F.col("se2_a") * F.col("se2_a") / (F.col("n_a") - 1).cast("double")
        + F.col("se2_b") * F.col("se2_b") / (F.col("n_b") - 1).cast("double")
    )
    return w.select(
        F.col("n_a").cast("long"),
        F.col("n_b").cast("long"),
        "mean_a",
        "mean_b",
        t_stat.alias("t_stat"),
        welch_df.alias("welch_df"),
    )


_DUCK_TOKENS = "string_split_regex(lower(trim(text)), '\\s+')"
_CENTS_EP = "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"


# --------------------------------------------------------------------------
# Tie-corrected Spearman rank correlation per supplier
# --------------------------------------------------------------------------
_SPEARMAN_ORACLE = f"""
WITH li AS (
  SELECT l_suppkey AS supp, CAST(l_quantity AS BIGINT) AS x,
         {_CENTS_EP} AS y
  FROM lineitem
),
xc AS (
  SELECT supp, x, COUNT(*) AS m FROM li GROUP BY supp, x
),
xr AS (
  SELECT supp, x,
         2 * COALESCE(SUM(m) OVER (PARTITION BY supp ORDER BY x
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         + m + 1 AS rx
  FROM xc
),
yc AS (
  SELECT supp, y, COUNT(*) AS m FROM li GROUP BY supp, y
),
yr AS (
  SELECT supp, y,
         2 * COALESCE(SUM(m) OVER (PARTITION BY supp ORDER BY y
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         + m + 1 AS ry
  FROM yc
),
cells AS (
  SELECT li.supp, li.x, li.y, COUNT(*) AS w FROM li GROUP BY li.supp, li.x, li.y
),
s AS (
  SELECT c.supp, SUM(c.w) AS n,
         SUM(c.w * xr.rx) AS sa, SUM(c.w * yr.ry) AS sb,
         SUM(c.w * xr.rx * xr.rx) AS saa,
         SUM(c.w * yr.ry * yr.ry) AS sbb,
         SUM(c.w * xr.rx * yr.ry) AS sab
  FROM cells c
  JOIN xr ON c.supp = xr.supp AND c.x = xr.x
  JOIN yr ON c.supp = yr.supp AND c.y = yr.y
  GROUP BY c.supp
)
SELECT CAST(supp AS BIGINT) AS supp, CAST(n AS BIGINT) AS n,
       (CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
        - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
       / NULLIF(SQRT(CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                     - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                * SQRT(CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                       - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)), 0.0)
       AS spearman_rho
FROM s
"""


@workload("stats_spearman_qty_price", oracle=_SPEARMAN_ORACLE)
def stats_spearman_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIE-CORRECTED SPEARMAN rank correlation between quantity and price
    per supplier. Average ranks are computed ANALYTICALLY from per-value
    counts (rank2 = 2*#{smaller} + m + 1 — twice the average rank, an
    exact integer), so duplicate rows need no tiebreak column and no
    per-row window exists: the windows ride the per-supplier DISTINCT
    value tables (value-domain-bounded), and Pearson's affine invariance
    makes rho over integer rank2 exactly Spearman's rho. Sufficient
    statistics are exact int64 (peak ~9e17 at sf10); one final float
    expression per supplier."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("supp"),
        F.col("l_quantity").cast("long").alias("x"),
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("y"),
    )

    def rank2(col: str, out: str) -> DataFrame:
        cnt = li.groupBy("supp", col).agg(F.count(F.lit(1)).alias("m"))
        w = (
            Window.partitionBy("supp")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return cnt.select(
            "supp",
            col,
            (
                2 * F.coalesce(F.sum("m").over(w), F.lit(0))
                + F.col("m")
                + 1
            ).alias(out),
        )

    cells = li.groupBy("supp", "x", "y").agg(F.count(F.lit(1)).alias("w"))
    joined = cells.join(rank2("x", "rx"), ["supp", "x"]).join(
        rank2("y", "ry"), ["supp", "y"]
    )
    s = joined.groupBy("supp").agg(
        F.sum("w").alias("n"),
        F.sum(F.col("w") * F.col("rx")).alias("sa"),
        F.sum(F.col("w") * F.col("ry")).alias("sb"),
        F.sum(F.col("w") * F.col("rx") * F.col("rx")).alias("saa"),
        F.sum(F.col("w") * F.col("ry") * F.col("ry")).alias("sbb"),
        F.sum(F.col("w") * F.col("rx") * F.col("ry")).alias("sab"),
    )
    rho = (
        F.col("n").cast("double") * F.col("sab").cast("double")
        - F.col("sa").cast("double") * F.col("sb").cast("double")
    ) / F.nullif(
        F.sqrt(
            F.col("n").cast("double") * F.col("saa").cast("double")
            - F.col("sa").cast("double") * F.col("sa").cast("double")
        )
        * F.sqrt(
            F.col("n").cast("double") * F.col("sbb").cast("double")
            - F.col("sb").cast("double") * F.col("sb").cast("double")
        ),
        F.lit(0.0),
    )
    return s.select(
        F.col("supp").cast("long"),
        F.col("n").cast("long"),
        rho.alias("spearman_rho"),
    )


# --------------------------------------------------------------------------
# Mutual information: event_type vs weekday
# --------------------------------------------------------------------------
_MI_TERM = (
    "(CAST(c_xy AS DOUBLE) / CAST(n AS DOUBLE))"
    " * ln((CAST(c_xy AS DOUBLE) * CAST(n AS DOUBLE))"
    " / (CAST(c_x AS DOUBLE) * CAST(c_y AS DOUBLE)))"
)

_MI_ORACLE = f"""
WITH e AS (
  SELECT event_type AS x,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 7 AS y
  FROM events
),
xy AS (SELECT x, y, COUNT(*) AS c_xy FROM e GROUP BY x, y),
mx AS (SELECT x, SUM(c_xy) AS c_x FROM xy GROUP BY x),
my AS (SELECT y, SUM(c_xy) AS c_y FROM xy GROUP BY y),
n AS (SELECT SUM(c_xy) AS n FROM xy),
terms AS (
  SELECT CAST(ROUND({_MI_TERM} * 1000000000.0, 0) AS BIGINT) AS term_scaled
  FROM xy JOIN mx ON xy.x = mx.x JOIN my ON xy.y = my.y CROSS JOIN n
)
SELECT CAST(n.n AS BIGINT) AS n_events,
       CAST(SUM(t.term_scaled) AS DOUBLE) / 1000000000.0 AS mi_nats
FROM terms t CROSS JOIN n
GROUP BY n.n
"""


@workload("stats_mutual_information_type_dow", oracle=_MI_ORACLE)
def stats_mutual_information_type_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MUTUAL INFORMATION between event type and weekday — the
    feature-relevance / dependence screen (is behavior day-of-week
    dependent at all). Weekday is the epoch-anchored mod-7 key (the C50
    dialect-portable convention); the contingency table is one
    map-side-combinable aggregate bounded by |types| x 7 cells; each
    cell's MI term uses the scaled-integer term sum, so the final
    reduction is exact int64. Output is a single row at any scale."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        F.col("event_type").alias("x"),
        F.pmod(
            F.datediff(
                F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
            ),
            F.lit(7),
        ).cast("long").alias("y"),
    )
    xy = e.groupBy("x", "y").agg(F.count(F.lit(1)).alias("c_xy"))
    mx = xy.groupBy("x").agg(F.sum("c_xy").alias("c_x"))
    my = xy.groupBy("y").agg(F.sum("c_xy").alias("c_y"))
    n = xy.agg(F.sum("c_xy").alias("n"))
    term = (
        F.col("c_xy").cast("double") / F.col("n").cast("double")
    ) * F.log(
        (F.col("c_xy").cast("double") * F.col("n").cast("double"))
        / (F.col("c_x").cast("double") * F.col("c_y").cast("double"))
    )
    terms = (
        xy.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .crossJoin(F.broadcast(n))
        .select(
            "n",
            F.round(term * 1000000000.0, 0).cast("long").alias("term_scaled"),
        )
    )
    return (
        terms.groupBy("n")
        .agg(F.sum("term_scaled").alias("s"))
        .select(
            F.col("n").cast("long").alias("n_events"),
            (F.col("s").cast("double") / 1000000000.0).alias("mi_nats"),
        )
    )


# --------------------------------------------------------------------------
# Chi-square statistic of independence: event_type vs weekday
# --------------------------------------------------------------------------
# (O - E)^2 / E with E = c_x*c_y/n, written once and reused verbatim:
# numerator and denominator stay in exact integer cross-products as long
# as possible ((n*O - cx*cy)^2 / (n * cx * cy), all int64-exact at the
# contingency-cell level), one double division per cell, then the
# scaled-integer term sum.
_CHI2_TERM = (
    "(CAST(n AS DOUBLE) * CAST(c_xy AS DOUBLE)"
    " - CAST(c_x AS DOUBLE) * CAST(c_y AS DOUBLE))"
    " * (CAST(n AS DOUBLE) * CAST(c_xy AS DOUBLE)"
    " - CAST(c_x AS DOUBLE) * CAST(c_y AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(c_x AS DOUBLE) * CAST(c_y AS DOUBLE))"
)

_CHI2_ORACLE = f"""
WITH e AS (
  SELECT event_type AS x,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 7 AS y
  FROM events
),
xy AS (SELECT x, y, COUNT(*) AS c_xy FROM e GROUP BY x, y),
mx AS (SELECT x, SUM(c_xy) AS c_x FROM xy GROUP BY x),
my AS (SELECT y, SUM(c_xy) AS c_y FROM xy GROUP BY y),
n AS (SELECT SUM(c_xy) AS n FROM xy),
terms AS (
  SELECT CAST(ROUND({_CHI2_TERM} * 1000000000.0, 0) AS BIGINT) AS term_scaled,
         n.n
  FROM xy JOIN mx ON xy.x = mx.x JOIN my ON xy.y = my.y CROSS JOIN n
),
cells AS (SELECT COUNT(*) AS n_cells FROM xy)
SELECT CAST(t.n AS BIGINT) AS n_events,
       CAST(c.n_cells AS BIGINT) AS n_cells,
       CAST(SUM(t.term_scaled) AS DOUBLE) / 1000000000.0 AS chi2
FROM terms t CROSS JOIN cells c
GROUP BY t.n, c.n_cells
"""


@workload("stats_chi_square_type_dow", oracle=_CHI2_ORACLE)
def stats_chi_square_type_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHI-SQUARE statistic of independence over the same event-type x
    weekday contingency table as the MI screen (C92) — the classical
    test-statistic form of the dependence question ((O-E)^2/E summed
    over cells). The per-cell term is algebraically rearranged to
    (n*O - cx*cy)^2 / (n*cx*cy) so every operand is an exact integer
    cross-product before the single division; cross-cell reduction uses
    the scaled-integer term sum. One row out at any scale (the cell
    count rides along as the degrees-of-freedom ingredient)."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        F.col("event_type").alias("x"),
        F.pmod(
            F.datediff(
                F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
            ),
            F.lit(7),
        ).cast("long").alias("y"),
    )
    xy = e.groupBy("x", "y").agg(F.count(F.lit(1)).alias("c_xy"))
    mx = xy.groupBy("x").agg(F.sum("c_xy").alias("c_x"))
    my = xy.groupBy("y").agg(F.sum("c_xy").alias("c_y"))
    n = xy.agg(F.sum("c_xy").alias("n"))
    cells = xy.agg(F.count(F.lit(1)).alias("n_cells"))
    dev = (
        F.col("n").cast("double") * F.col("c_xy").cast("double")
        - F.col("c_x").cast("double") * F.col("c_y").cast("double")
    )
    term = dev * dev / (
        F.col("n").cast("double")
        * F.col("c_x").cast("double")
        * F.col("c_y").cast("double")
    )
    terms = (
        xy.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .crossJoin(F.broadcast(n))
        .select(
            "n",
            F.round(term * 1000000000.0, 0).cast("long").alias("term_scaled"),
        )
    )
    return (
        terms.crossJoin(F.broadcast(cells))
        .groupBy("n", "n_cells")
        .agg(F.sum("term_scaled").alias("s"))
        .select(
            F.col("n").cast("long").alias("n_events"),
            F.col("n_cells").cast("long").alias("n_cells"),
            (F.col("s").cast("double") / 1000000000.0).alias("chi2"),
        )
    )


# --------------------------------------------------------------------------
# Gini concentration of order value within each customer segment
# --------------------------------------------------------------------------
_GINI_DOLLARS = (
    "CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
    " // 100 AS BIGINT)"
)

_GINI_ORACLE = f"""
WITH pts AS (
  SELECT c.c_mktsegment AS segment, {_GINI_DOLLARS} AS v
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
vc AS (SELECT segment, v, COUNT(*) AS m FROM pts GROUP BY segment, v),
vr AS (
  SELECT segment, v, m,
         2 * COALESCE(SUM(m) OVER (PARTITION BY segment ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         + m + 1 AS r2
  FROM vc
),
s AS (
  SELECT segment, SUM(m) AS n, SUM(m * v) AS total,
         SUM(m * r2 * v) AS nsum
  FROM vr GROUP BY segment
)
SELECT segment, CAST(n AS BIGINT) AS n_orders,
       CAST(total AS BIGINT) AS total_dollars,
       CAST(nsum AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(total AS DOUBLE))
       - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE) AS gini
FROM s
"""


@workload("stats_gini_revenue_by_segment", oracle=_GINI_ORACLE)
def stats_gini_revenue_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GINI concentration of order value per customer segment — the
    inequality screen ("is revenue dominated by a few whale orders")
    behind sampling and skew decisions. Uses the C90 analytic-rank
    machinery: average ranks from per-value counts (r2 = twice the
    average rank, exact int), so G = sum(m*r2*v)/(n*total) - (n+1)/n is
    exact integer sufficient statistics under two final divisions —
    no per-row window (the rank window rides per-segment DISTINCT
    dollar values; sum(m*r2*v) peaks ~3e18 at sf1 in floor-dollars;
    switch the partial to DECIMAL beyond that)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_mktsegment").alias("segment"),
    )
    pts = o.join(F.broadcast(c), "o_custkey").select(
        "segment",
        ((F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long") / 100)
        .cast("long")
        .alias("v"),
    )
    vc = pts.groupBy("segment", "v").agg(F.count(F.lit(1)).alias("m"))
    w = (
        Window.partitionBy("segment")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    vr = vc.select(
        "segment",
        "v",
        "m",
        (2 * F.coalesce(F.sum("m").over(w), F.lit(0)) + F.col("m") + 1).alias(
            "r2"
        ),
    )
    s = vr.groupBy("segment").agg(
        F.sum("m").alias("n"),
        F.sum(F.col("m") * F.col("v")).alias("total"),
        F.sum(F.col("m") * F.col("r2") * F.col("v")).alias("nsum"),
    )
    gini = F.col("nsum").cast("double") / (
        F.col("n").cast("double") * F.col("total").cast("double")
    ) - (F.col("n") + 1).cast("double") / F.col("n").cast("double")
    return s.select(
        "segment",
        F.col("n").cast("long").alias("n_orders"),
        F.col("total").cast("long").alias("total_dollars"),
        gini.alias("gini"),
    )


# --------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov distance between ingestion cohorts
# --------------------------------------------------------------------------
_KS_BUCKET = 64  # n_chars DIV 64: fixed arithmetic buckets for the cumsum

_KS_ORACLE = """
WITH pts AS (
  SELECT CAST(substr(source, 4) AS BIGINT) % 2 AS grp, n_chars AS v
  FROM documents
),
cells AS (
  SELECT v,
         SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS m0,
         SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS m1
  FROM pts GROUP BY v
),
n AS (SELECT SUM(m0) AS n0, SUM(m1) AS n1 FROM cells),
cum AS (
  SELECT v,
         SUM(m0) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS c0,
         SUM(m1) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS c1
  FROM cells
),
dev AS (
  SELECT v, ABS(c0 * n.n1 - c1 * n.n0) AS d_scaled FROM cum CROSS JOIN n
),
best AS (SELECT MAX(d_scaled) AS mx FROM dev)
SELECT CAST(n.n0 AS BIGINT) AS n0, CAST(n.n1 AS BIGINT) AS n1,
       CAST(best.mx AS BIGINT) AS d_scaled,
       CAST(best.mx AS DOUBLE)
       / (CAST(n.n0 AS DOUBLE) * CAST(n.n1 AS DOUBLE)) AS ks_d,
       CAST((SELECT MIN(v) FROM dev WHERE d_scaled = best.mx) AS BIGINT)
         AS first_v_at_max
FROM n CROSS JOIN best
"""


@workload("stats_ks_doclen_cohorts", oracle=_KS_ORACLE)
def stats_ks_doclen_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KOLMOGOROV-SMIRNOV distance between the document-length
    distributions of two ingestion cohorts (even- vs odd-numbered
    sources) — the nonparametric "did pipeline B's shards drift from
    pipeline A's" detector, EXACT: D = max_v |F0(v) - F1(v)| maximized as
    the all-integer |c0*n1 - c1*n0| cross-product with one final
    division. The cumulative counts use the PARTITIONED CUMSUM pattern
    (the C4 rank machinery applied to sums): fixed-arithmetic value
    buckets, per-bucket totals collected once (domain/64-bounded), then
    within-bucket running sums over BUCKET-PARTITIONED windows offset by
    the lower buckets — no single-partition window anywhere on the Spark
    side (the oracle may use the plain global window; DuckDB is
    single-node). Argmax v is the earliest, a MIN under the max join."""
    d = load_table(spark, sf_dir, "documents")
    pts = d.select(
        (F.substring("source", 4, 10).cast("long") % 2).alias("grp"),
        F.col("n_chars").alias("v"),
    )
    cells = pts.groupBy("v").agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).alias("m0"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("m1"),
    )
    cells = cells.withColumn("bkt", (F.col("v") / _KS_BUCKET).cast("long"))
    # per-bucket totals -> exclusive prefix offsets (bounded collect:
    # one row per occupied bucket, domain/_KS_BUCKET rows total)
    btotals = sorted(
        cells.groupBy("bkt")
        .agg(F.sum("m0").alias("t0"), F.sum("m1").alias("t1"))
        .collect(),
        key=lambda r: r["bkt"],
    )
    offs, acc0, acc1 = [], 0, 0
    for r in btotals:
        offs.append((r["bkt"], acc0, acc1))
        acc0 += r["t0"]
        acc1 += r["t1"]
    n0, n1 = acc0, acc1
    off_df = F.broadcast(
        cells.sparkSession.createDataFrame(
            offs or [(0, 0, 0)], "bkt long, off0 long, off1 long"
        )
    )
    from pyspark.sql.window import Window as W

    w = (
        W.partitionBy("bkt")
        .orderBy("v")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = (
        cells.join(off_df, "bkt")
        .select(
            "v",
            (F.sum("m0").over(w) + F.col("off0")).alias("c0"),
            (F.sum("m1").over(w) + F.col("off1")).alias("c1"),
        )
    )
    dev = cum.select(
        "v",
        F.abs(F.col("c0") * F.lit(n1) - F.col("c1") * F.lit(n0)).alias(
            "d_scaled"
        ),
    )
    best = dev.agg(F.max("d_scaled").alias("mx"))
    first_v = (
        dev.join(F.broadcast(best), dev["d_scaled"] == best["mx"])
        .agg(F.min("v").alias("first_v_at_max"))
    )
    return (
        best.crossJoin(F.broadcast(first_v))
        .select(
            F.lit(n0).cast("long").alias("n0"),
            F.lit(n1).cast("long").alias("n1"),
            F.col("mx").cast("long").alias("d_scaled"),
            (
                F.col("mx").cast("double")
                / (F.lit(n0).cast("double") * F.lit(n1).cast("double"))
            ).alias("ks_d"),
            F.col("first_v_at_max").cast("long"),
        )
    )


# --------------------------------------------------------------------------
# Winsorized mean per segment (robust mean with exact per-group quantiles)
# --------------------------------------------------------------------------
_WINS_LO_PCT = 5  # clamp below the 5th percentile
_WINS_HI_PCT = 95

_WINS_ORACLE = f"""
WITH pts AS (
  SELECT c.c_mktsegment AS segment, {_GINI_DOLLARS} AS v
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
cells AS (SELECT segment, v, COUNT(*) AS m FROM pts GROUP BY segment, v),
cum AS (
  SELECT segment, v, m,
         SUM(m) OVER (PARTITION BY segment ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS c
  FROM cells
),
n AS (SELECT segment, SUM(m) AS n FROM cells GROUP BY segment),
bounds AS (
  SELECT cum.segment,
         MIN(CASE WHEN cum.c * 100 >= n.n * {_WINS_LO_PCT}
                  THEN cum.v END) AS lo,
         MIN(CASE WHEN cum.c * 100 >= n.n * {_WINS_HI_PCT}
                  THEN cum.v END) AS hi
  FROM cum JOIN n ON cum.segment = n.segment
  GROUP BY cum.segment
)
SELECT b.segment, CAST(n.n AS BIGINT) AS n_orders,
       CAST(b.lo AS BIGINT) AS lo_dollars, CAST(b.hi AS BIGINT) AS hi_dollars,
       CAST(SUM(cl.m * LEAST(GREATEST(cl.v, b.lo), b.hi)) AS DOUBLE)
       / CAST(n.n AS DOUBLE) AS winsorized_mean
FROM cells cl
JOIN bounds b ON cl.segment = b.segment
JOIN n ON cl.segment = n.segment
GROUP BY b.segment, n.n, b.lo, b.hi
"""


@workload("stats_winsorized_mean_by_segment", oracle=_WINS_ORACLE)
def stats_winsorized_mean_by_segment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WINSORIZED MEAN per segment — the robust average (clamp order
    values into [P5, P95] before averaging) that whale orders can't
    drag. Per-group EXACT percentile bounds come from cumulative counts
    over per-segment DISTINCT dollar values (group-partitioned windows,
    value-domain-bounded rows — never raw orders); the bound predicate
    cum*100 >= n*pct is all-integer, the clamp is LEAST/GREATEST over
    exact ints, and the single division lands last. One shuffle keyed
    (segment, v), then segment-keyed joins on 5-row tables."""
    from pyspark.sql.window import Window as W

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_mktsegment").alias("segment"),
    )
    pts = o.join(F.broadcast(c), "o_custkey").select(
        "segment",
        ((F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long") / 100)
        .cast("long")
        .alias("v"),
    )
    cells = pts.groupBy("segment", "v").agg(F.count(F.lit(1)).alias("m"))
    w = (
        W.partitionBy("segment")
        .orderBy("v")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = cells.select("segment", "v", "m", F.sum("m").over(w).alias("c"))
    n = cells.groupBy("segment").agg(F.sum("m").alias("n"))
    bounds = (
        cum.join(F.broadcast(n), "segment")
        .groupBy("segment")
        .agg(
            F.min(
                F.when(
                    F.col("c") * 100 >= F.col("n") * _WINS_LO_PCT, F.col("v")
                )
            ).alias("lo"),
            F.min(
                F.when(
                    F.col("c") * 100 >= F.col("n") * _WINS_HI_PCT, F.col("v")
                )
            ).alias("hi"),
        )
    )
    clamped = (
        cells.join(F.broadcast(bounds), "segment")
        .join(F.broadcast(n), "segment")
        .groupBy("segment", "n", "lo", "hi")
        .agg(
            F.sum(
                F.col("m")
                * F.least(F.greatest(F.col("v"), F.col("lo")), F.col("hi"))
            ).alias("wsum")
        )
    )
    return clamped.select(
        "segment",
        F.col("n").cast("long").alias("n_orders"),
        F.col("lo").cast("long").alias("lo_dollars"),
        F.col("hi").cast("long").alias("hi_dollars"),
        (F.col("wsum").cast("double") / F.col("n").cast("double")).alias(
            "winsorized_mean"
        ),
    )


# --------------------------------------------------------------------------
# Largest-remainder (Hamilton) proportional allocation
# --------------------------------------------------------------------------
_ALLOC_TOTAL = 1_000_000  # units to allocate per nation


_ALLOC_ORACLE = f"""
WITH rev AS (
  SELECT c.c_nationkey AS nk, c.c_mktsegment AS segment,
         SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
           AS seg_cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
),
tot AS (SELECT nk, SUM(seg_cents) AS nation_cents FROM rev GROUP BY nk),
q AS (
  SELECT r.nk, r.segment, r.seg_cents, t.nation_cents,
         (r.seg_cents * {_ALLOC_TOTAL}) // t.nation_cents AS floor_units,
         (r.seg_cents * {_ALLOC_TOTAL}) % t.nation_cents AS remainder
  FROM rev r JOIN tot t ON r.nk = t.nk
),
short AS (
  SELECT nk, {_ALLOC_TOTAL} - SUM(floor_units) AS missing FROM q GROUP BY nk
),
ranked AS (
  SELECT q.*, s.missing,
         ROW_NUMBER() OVER (PARTITION BY q.nk
                            ORDER BY q.remainder DESC, q.segment ASC) AS rr
  FROM q JOIN short s ON q.nk = s.nk
)
SELECT CAST(nk AS BIGINT) AS nk, segment,
       CAST(seg_cents AS BIGINT) AS seg_cents,
       CAST(floor_units + CASE WHEN rr <= missing THEN 1 ELSE 0 END
            AS BIGINT) AS allocated_units
FROM ranked
"""


@workload("alloc_largest_remainder", oracle=_ALLOC_ORACLE)
def alloc_largest_remainder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LARGEST-REMAINDER (Hamilton) ALLOCATION: distribute a fixed unit
    budget across each nation's segments proportionally to revenue such
    that the integer allocations sum EXACTLY to the budget — the
    apportionment algorithm every financial allocation / quota system
    needs (naive rounding over- or under-shoots). All arithmetic is
    exact integers: floor quota = (seg*T) DIV total, remainder =
    (seg*T) MOD total, and the missing units go to the largest
    remainders (segment-name tiebreak) via a nation-partitioned rank
    over <= |segments| rows per nation. seg_cents*T peaks ~1e13 * 1e6 =
    overflow? No: seg_cents <= ~5e10 at sf0.1 per (nation, segment), x
    1e6 = 5e16 — int64-safe through sf10."""
    from pyspark.sql.window import Window as W

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_nationkey").alias("nk"),
        F.col("c_mktsegment").alias("segment"),
    )
    rev = (
        o.join(F.broadcast(c), "o_custkey")
        .groupBy("nk", "segment")
        .agg(
            F.sum(
                (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
            ).alias("seg_cents")
        )
    )
    tot = rev.groupBy("nk").agg(F.sum("seg_cents").alias("nation_cents"))
    q = rev.join(F.broadcast(tot), "nk").select(
        "nk",
        "segment",
        "seg_cents",
        # integer DIV, not float-divide-then-cast: seg_cents*T exceeds
        # 2^53 at scale, where double division could misplace the floor
        F.expr(f"seg_cents * {_ALLOC_TOTAL} DIV nation_cents")
        .cast("long")
        .alias("floor_units"),
        ((F.col("seg_cents") * _ALLOC_TOTAL) % F.col("nation_cents")).alias(
            "remainder"
        ),
    )
    short = q.groupBy("nk").agg(
        (F.lit(_ALLOC_TOTAL) - F.sum("floor_units")).alias("missing")
    )
    w = W.partitionBy("nk").orderBy(
        F.col("remainder").desc(), F.col("segment").asc()
    )
    ranked = q.join(F.broadcast(short), "nk").withColumn(
        "rr", F.row_number().over(w)
    )
    return ranked.select(
        F.col("nk").cast("long"),
        "segment",
        F.col("seg_cents").cast("long"),
        (
            F.col("floor_units")
            + F.when(F.col("rr") <= F.col("missing"), 1).otherwise(0)
        )
        .cast("long")
        .alias("allocated_units"),
    )


# --------------------------------------------------------------------------
# Two-proportion z-test (conversion-rate A/B)
# --------------------------------------------------------------------------
_ZT_WINDOW_DAYS = 2

_ZT_ORACLE = f"""
WITH u AS (
  SELECT user_id, user_id % 2 AS grp,
         MIN(CAST(ts AS DATE)) AS first_ev,
         MIN(CASE WHEN event_type = 'purchase' THEN CAST(ts AS DATE) END)
           AS first_buy
  FROM events GROUP BY user_id
),
conv AS (
  SELECT grp, COUNT(*) AS n,
         SUM(CASE WHEN date_diff('day', first_ev, first_buy)
                       <= {_ZT_WINDOW_DAYS} THEN 1 ELSE 0 END) AS x
  FROM u GROUP BY grp
),
w AS (
  SELECT a.n AS n_a, a.x AS x_a, b.n AS n_b, b.x AS x_b
  FROM conv a JOIN conv b ON a.grp = 0 AND b.grp = 1
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(x_a AS BIGINT) AS x_a,
       CAST(n_b AS BIGINT) AS n_b, CAST(x_b AS BIGINT) AS x_b,
       (CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        - CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE))
       / SQRT((CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
              * (1.0 - CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
              * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
         AS z_stat
FROM w
"""


@workload("stats_two_proportion_ztest", oracle=_ZT_ORACLE)
def stats_two_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-PROPORTION Z-TEST — the conversion-rate A/B significance twin
    of the Welch t-test (C85): did cohort A (even user ids) convert
    (first purchase within {w} days of first activity) at a different
    rate than cohort B. Counts are exact integers from ONE user-level
    aggregate; the pooled-proportion z statistic is a single
    identical-textual-order float expression over the 2-row result."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_ev"),
        F.min(
            F.when(
                F.col("event_type") == "purchase", F.col("ts").cast("date")
            )
        ).alias("first_buy"),
    )
    conv = (
        u.select(
            (F.col("user_id") % 2).alias("grp"),
            F.when(
                F.datediff("first_buy", "first_ev") <= _ZT_WINDOW_DAYS, 1
            )
            .otherwise(0)
            .alias("converted"),
        )
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("converted").alias("x"))
    )
    a = conv.filter(F.col("grp") == 0).alias("a")
    b = conv.filter(F.col("grp") == 1).alias("b")
    w = a.crossJoin(F.broadcast(b)).select(
        F.col("a.n").alias("n_a"),
        F.col("a.x").alias("x_a"),
        F.col("b.n").alias("n_b"),
        F.col("b.x").alias("x_b"),
    )
    p_pool = (F.col("x_a") + F.col("x_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    z = (
        F.col("x_a").cast("double") / F.col("n_a").cast("double")
        - F.col("x_b").cast("double") / F.col("n_b").cast("double")
    ) / F.sqrt(
        p_pool
        * (F.lit(1.0) - p_pool)
        * (
            F.lit(1.0) / F.col("n_a").cast("double")
            + F.lit(1.0) / F.col("n_b").cast("double")
        )
    )
    return w.select(
        F.col("n_a").cast("long"),
        F.col("x_a").cast("long"),
        F.col("n_b").cast("long"),
        F.col("x_b").cast("long"),
        z.alias("z_stat"),
    )


# --------------------------------------------------------------------------
# Kaplan-Meier survival curve: time to first purchase, right-censored
# --------------------------------------------------------------------------
_KM_WINDOW = 7  # censor horizon (days): the time domain is CONSTANT 0..7

_KM_ORACLE = f"""
WITH u AS (
  SELECT user_id,
         MIN(CAST(ts AS DATE)) AS first_ev,
         MIN(CASE WHEN event_type = 'purchase' THEN CAST(ts AS DATE) END)
           AS first_buy
  FROM events GROUP BY user_id
),
obs AS (
  SELECT user_id,
         CASE WHEN first_buy IS NOT NULL
                   AND date_diff('day', first_ev, first_buy) <= {_KM_WINDOW}
              THEN date_diff('day', first_ev, first_buy)
              ELSE {_KM_WINDOW} END AS t,
         CASE WHEN first_buy IS NOT NULL
                   AND date_diff('day', first_ev, first_buy) <= {_KM_WINDOW}
              THEN 1 ELSE 0 END AS e
  FROM u
),
times AS (
  SELECT t, SUM(e) AS d, SUM(1 - e) AS c FROM obs GROUP BY t
),
total AS (SELECT COUNT(*) AS n FROM obs),
risk AS (
  SELECT t1.t, t1.d, t1.c,
         total.n - COALESCE((SELECT SUM(t2.d + t2.c) FROM times t2
                             WHERE t2.t < t1.t), 0) AS n_risk
  FROM times t1 CROSS JOIN total
),
terms AS (
  SELECT t, d, c, n_risk,
         CASE WHEN d >= n_risk THEN CAST(-1000000000000 AS BIGINT)
              WHEN d > 0 THEN CAST(ROUND(ln(CAST(n_risk - d AS DOUBLE)
                   / CAST(n_risk AS DOUBLE)) * 1000000000.0, 0) AS BIGINT)
              ELSE 0 END AS lnterm
  FROM risk
),
surv AS (
  SELECT t1.t, t1.d, t1.c, t1.n_risk,
         (SELECT SUM(t2.lnterm) FROM terms t2 WHERE t2.t <= t1.t) AS cumln
  FROM terms t1
)
SELECT CAST(t AS BIGINT) AS t, CAST(n_risk AS BIGINT) AS n_risk,
       CAST(d AS BIGINT) AS d, CAST(c AS BIGINT) AS c,
       ROUND(EXP(CAST(cumln AS DOUBLE) / 1000000000.0), 9) AS survival
FROM surv
"""


@workload("stats_kaplan_meier_purchase", oracle=_KM_ORACLE)
def stats_kaplan_meier_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KAPLAN-MEIER survival curve for time-to-first-purchase with RIGHT
    CENSORING at a {w}-day horizon — the product-limit estimator
    S(t) = prod_(t_i<=t) (1 - d_i/n_i) that handles users who never
    convert inside the window (censoring is what the naive conversion
    curve gets wrong). The raw stream collapses to ONE user-level
    aggregate, then everything rides the CONSTANT 0..{w} time domain:
    risk sets and the cumulative ln-sum use bounded TRIANGULAR
    self-joins (at most (w+1)^2 cells at any data scale — no window
    function at all), ln terms are scaled ints, and the final
    exp() goes through the ROUND(_, 9) libm guard."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_ev"),
        F.min(
            F.when(
                F.col("event_type") == "purchase", F.col("ts").cast("date")
            )
        ).alias("first_buy"),
    )
    days = F.datediff("first_buy", "first_ev")
    in_win = F.col("first_buy").isNotNull() & (days <= _KM_WINDOW)
    obs = u.select(
        F.when(in_win, days).otherwise(F.lit(_KM_WINDOW)).alias("t"),
        F.when(in_win, 1).otherwise(0).alias("e"),
    )
    times = obs.groupBy("t").agg(
        F.sum("e").alias("d"), F.sum(1 - F.col("e")).alias("c")
    )
    total = obs.agg(F.count(F.lit(1)).alias("n"))
    t1 = times.alias("t1")
    t2 = times.select(
        F.col("t").alias("t2t"), (F.col("d") + F.col("c")).alias("dc")
    )
    risk = (
        t1.join(F.broadcast(t2), F.col("t2t") < F.col("t1.t"), "left")
        .groupBy("t1.t", "t1.d", "t1.c")
        .agg(F.coalesce(F.sum("dc"), F.lit(0)).alias("before"))
        .crossJoin(F.broadcast(total))
        .select(
            "t", "d", "c", (F.col("n") - F.col("before")).alias("n_risk")
        )
    )
    # d == n_risk empties the risk set: S(t)=0 from here on. ln(0) would
    # error in DuckDB and NULL in Spark; instead both sides emit a scaled
    # -1000 sentinel whose exp() underflows to exactly +0.0 in IEEE
    # double on both engines (found at sf0.001 by the canon checker).
    lnterm = (
        F.when(
            F.col("d") >= F.col("n_risk"), F.lit(-1000000000000).cast("long")
        )
        .when(
            F.col("d") > 0,
            F.round(
                F.log(
                    (F.col("n_risk") - F.col("d")).cast("double")
                    / F.col("n_risk").cast("double")
                )
                * 1000000000.0,
                0,
            ).cast("long"),
        )
        .otherwise(F.lit(0).cast("long"))
    )
    terms = risk.select("t", "d", "c", "n_risk", lnterm.alias("lnterm"))
    ta = terms.alias("ta")
    tb = terms.select(F.col("t").alias("tbt"), F.col("lnterm").alias("lnb"))
    surv = (
        ta.join(F.broadcast(tb), F.col("tbt") <= F.col("ta.t"))
        .groupBy("ta.t", "ta.d", "ta.c", "ta.n_risk")
        .agg(F.sum("lnb").alias("cumln"))
    )
    return surv.select(
        F.col("t").cast("long"),
        F.col("n_risk").cast("long"),
        F.col("d").cast("long"),
        F.col("c").cast("long"),
        F.round(
            F.exp(F.col("cumln").cast("double") / 1000000000.0), 9
        ).alias("survival"),
    )


# --------------------------------------------------------------------------
# Theil-Sen robust slope (median of pairwise slopes, exact rational rank)
# --------------------------------------------------------------------------
_TS_START = "1995-01-01"
_TS_END = "1995-02-01"

_TS_ORACLE = f"""
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS d,
         CAST(SUM({_CENTS_O}) AS BIGINT) AS v
  FROM orders
  WHERE CAST(o_orderdate AS DATE) >= DATE '{_TS_START}'
    AND CAST(o_orderdate AS DATE) <  DATE '{_TS_END}'
  GROUP BY 1
),
p AS (
  SELECT a.d AS d1, b.d AS d2, b.v - a.v AS num, b.d - a.d AS den
  FROM daily a JOIN daily b ON a.d < b.d
),
m AS (SELECT COUNT(*) AS n_pairs FROM p),
nd AS (SELECT COUNT(*) AS n_days FROM daily),
r AS (
  SELECT p.d1, p.d2, p.num, p.den,
         (SELECT COUNT(*) FROM p q
           WHERE q.num * p.den < p.num * q.den
              OR (q.num * p.den = p.num * q.den
                  AND (q.d1 < p.d1 OR (q.d1 = p.d1 AND q.d2 < p.d2)))
         ) AS cnt_less
  FROM p
)
SELECT CAST(nd.n_days AS BIGINT) AS n_days,
       CAST(m.n_pairs AS BIGINT) AS n_pairs,
       CAST(r.d1 AS BIGINT) AS med_d1,
       CAST(r.d2 AS BIGINT) AS med_d2,
       CAST(r.num AS BIGINT) AS med_num,
       CAST(r.den AS BIGINT) AS med_den,
       CAST(r.num AS DOUBLE) / CAST(r.den AS DOUBLE) AS slope_cents_per_day
FROM r CROSS JOIN m CROSS JOIN nd
WHERE r.cnt_less = (m.n_pairs + 1) // 2 - 1
"""


@workload("stats_theil_sen_slope", oracle=_TS_ORACLE)
def stats_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL-SEN robust slope of daily revenue over January 1995: the
    median of all pairwise slopes (v2-v1)/(d2-d1) — the estimator with a
    29% breakdown point that one outlier day cannot move (unlike the OLS
    slope of C38). The median is selected EXACTLY, with no floats: slopes
    compare as rationals by integer cross-multiplication (dens are
    positive day gaps), ties broken by (d1, d2), and the lower median is
    the pair whose strictly-less count equals (m+1)//2 - 1. The pair set
    is calendar-bounded (<= 31 daily rows -> <= 465 pairs at ANY scale
    factor), so the quadratic rank comparison is O(1) at 100 TB; only the
    daily SUM touches raw rows."""
    o = load_table(spark, sf_dir, "orders")
    day = F.to_date("o_orderdate")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    daily = (
        o.filter((day >= F.lit(_TS_START)) & (day < F.lit(_TS_END)))
        .groupBy(F.datediff(day, F.lit("1970-01-01")).alias("d"))
        .agg(F.sum(cents).cast("long").alias("v"))
    )
    a, b = daily.alias("a"), daily.alias("b")
    p = a.join(b, F.col("a.d") < F.col("b.d")).select(
        F.col("a.d").alias("d1"),
        F.col("b.d").alias("d2"),
        (F.col("b.v") - F.col("a.v")).alias("num"),
        (F.col("b.d") - F.col("a.d")).alias("den"),
    )
    m = p.agg(F.count(F.lit(1)).alias("n_pairs"))
    nd = daily.agg(F.count(F.lit(1)).alias("n_days"))
    lhs, rhs = p.alias("l"), p.alias("q")
    less = (F.col("q.num") * F.col("l.den") < F.col("l.num") * F.col("q.den")) | (
        (F.col("q.num") * F.col("l.den") == F.col("l.num") * F.col("q.den"))
        & (
            (F.col("q.d1") < F.col("l.d1"))
            | ((F.col("q.d1") == F.col("l.d1")) & (F.col("q.d2") < F.col("l.d2")))
        )
    )
    ranked = (
        lhs.join(rhs, less, "left")
        .groupBy(
            F.col("l.d1").alias("d1"),
            F.col("l.d2").alias("d2"),
            F.col("l.num").alias("num"),
            F.col("l.den").alias("den"),
        )
        .agg(F.count(F.col("q.d1")).alias("cnt_less"))
    )
    return (
        ranked.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(nd))
        .filter(F.col("cnt_less") == F.expr("(n_pairs + 1) div 2") - 1)
        .select(
            F.col("n_days").cast("long"),
            F.col("n_pairs").cast("long"),
            F.col("d1").cast("long").alias("med_d1"),
            F.col("d2").cast("long").alias("med_d2"),
            F.col("num").cast("long").alias("med_num"),
            F.col("den").cast("long").alias("med_den"),
            (F.col("num").cast("double") / F.col("den").cast("double")).alias(
                "slope_cents_per_day"
            ),
        )
    )


# --------------------------------------------------------------------------
# Exact ROC-AUC (Mann-Whitney U) of price as an urgency classifier
# --------------------------------------------------------------------------
_AUC_BUCKET = 1 << 20  # cents DIV 2^20: fixed arithmetic cumsum buckets

_AUC_ORACLE = f"""
WITH pts AS (
  SELECT {_CENTS_O} AS v,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
  FROM orders
),
cells AS (
  SELECT v,
         CAST(SUM(y) AS BIGINT) AS m_pos,
         CAST(SUM(1 - y) AS BIGINT) AS m_neg
  FROM pts GROUP BY v
),
n AS (SELECT SUM(m_pos) AS n_pos, SUM(m_neg) AS n_neg FROM cells),
cum AS (
  SELECT v, m_pos, m_neg,
         COALESCE(SUM(m_neg) OVER (ORDER BY v
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING), 0) AS neg_below
  FROM cells
),
u AS (
  SELECT CAST(SUM(2 * m_pos * neg_below + m_pos * m_neg) AS BIGINT) AS u2
  FROM cum
)
SELECT CAST(n.n_pos AS BIGINT) AS n_pos,
       CAST(n.n_neg AS BIGINT) AS n_neg,
       u.u2,
       CAST(u.u2 AS DOUBLE)
       / (2.0 * CAST(n.n_pos AS DOUBLE) * CAST(n.n_neg AS DOUBLE)) AS auc
FROM n CROSS JOIN u
"""


@workload("stats_roc_auc_exact", oracle=_AUC_ORACLE)
def stats_roc_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC-AUC of order price as an is-urgent classifier, computed
    as the Mann-Whitney U statistic — no threshold sweep, no trapezoid
    approximation: AUC = (concordant pos>neg pairs + half the ties) /
    (n_pos*n_neg), where every pair count collapses to integer
    cross-products over per-value class counts (2*m_pos*neg_below +
    m_pos*m_neg, summed exactly as int64; ONE final division). The
    cumulative negatives-below counts use the C113 partitioned-cumsum
    machinery: fixed cents-bucket totals (bounded collect, one row per
    occupied 2^20-cent bucket), exclusive offsets broadcast back, and
    within-bucket running sums over BUCKET-PARTITIONED windows — no
    single-partition window on the Spark side. The model-eval primitive
    every ranking/classifier pipeline reports."""
    from pyspark.sql.window import Window as W

    o = load_table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    pts = o.select(
        cents.alias("v"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("y"),
    )
    cells = pts.groupBy("v").agg(
        F.sum("y").cast("long").alias("m_pos"),
        F.sum(1 - F.col("y")).cast("long").alias("m_neg"),
    )
    cells = cells.withColumn("bkt", F.expr(f"v div {_AUC_BUCKET}"))
    btotals = sorted(
        cells.groupBy("bkt").agg(F.sum("m_neg").alias("tn"), F.sum("m_pos").alias("tp")).collect(),
        key=lambda r: r["bkt"],
    )
    offs, acc = [], 0
    n_pos = 0
    for r in btotals:
        offs.append((r["bkt"], acc))
        acc += r["tn"]
        n_pos += r["tp"]
    n_neg = acc
    off_df = F.broadcast(
        spark.createDataFrame(offs or [(0, 0)], "bkt long, off_neg long")
    )
    w = W.partitionBy("bkt").orderBy("v").rowsBetween(W.unboundedPreceding, -1)
    cum = cells.join(off_df, "bkt").select(
        "m_pos",
        "m_neg",
        (F.coalesce(F.sum("m_neg").over(w), F.lit(0)) + F.col("off_neg")).alias(
            "neg_below"
        ),
    )
    u = cum.agg(
        F.sum(
            2 * F.col("m_pos") * F.col("neg_below") + F.col("m_pos") * F.col("m_neg")
        )
        .cast("long")
        .alias("u2")
    )
    return u.select(
        F.lit(n_pos).cast("long").alias("n_pos"),
        F.lit(n_neg).cast("long").alias("n_neg"),
        "u2",
        (
            F.col("u2").cast("double")
            / (2.0 * float(n_pos) * float(n_neg))
        ).alias("auc"),
    )


# --------------------------------------------------------------------------
# Per-class precision / recall / F1 over the naive-Bayes confusion matrix
# --------------------------------------------------------------------------
def _prf_oracle() -> str:
    from sample_data_pipeline_project_spark.workloads.ml_queries import (
        _NB_ORACLE,
    )

    return f"""
WITH cm AS (
{_NB_ORACLE}
),
classes AS (
  SELECT lang_true AS cls FROM cm
  UNION
  SELECT lang_pred FROM cm
),
stats AS (
  SELECT c.cls,
         CAST(COALESCE(SUM(CASE WHEN cm.lang_true = c.cls
                                 AND cm.lang_pred = c.cls
                            THEN cm.n_docs END), 0) AS BIGINT) AS tp,
         CAST(COALESCE(SUM(CASE WHEN cm.lang_pred = c.cls
                                 AND cm.lang_true != c.cls
                            THEN cm.n_docs END), 0) AS BIGINT) AS fp,
         CAST(COALESCE(SUM(CASE WHEN cm.lang_true = c.cls
                                 AND cm.lang_pred != c.cls
                            THEN cm.n_docs END), 0) AS BIGINT) AS fn
  FROM classes c LEFT JOIN cm ON cm.lang_true = c.cls OR cm.lang_pred = c.cls
  GROUP BY c.cls
)
SELECT cls, tp, fp, fn,
       CASE WHEN tp + fp > 0
            THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS precision_,
       CASE WHEN tp + fn > 0
            THEN CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS recall_,
       CASE WHEN 2 * tp + fp + fn > 0
            THEN CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE)
       END AS f1
FROM stats
"""


@workload("stats_precision_recall_f1", oracle=_prf_oracle())
def stats_precision_recall_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-CLASS precision / recall / F1 for the naive-Bayes language
    classifier (C137) — the metric sheet on top of its confusion matrix,
    completing the eval family (confusion C45, kappa C106, AUC C161).
    Everything reduces to exact tp/fp/fn integers per class; each metric
    is ONE guarded division (F1 as 2tp/(2tp+fp+fn) rather than the
    p-r harmonic mean, so no divisions stack). The Spark side reuses the
    C137 pipeline and aggregates its cells; the oracle nests the
    identical NB oracle as a CTE — drift between them is impossible by
    construction."""
    from sample_data_pipeline_project_spark.workloads.ml_queries import (
        ml_naive_bayes_langid,
    )

    cm = materialize(ml_naive_bayes_langid(spark, sf_dir), "checkpoint")
    classes = (
        cm.select(F.col("lang_true").alias("cls"))
        .unionByName(cm.select(F.col("lang_pred").alias("cls")))
        .distinct()
    )
    joined = classes.join(
        cm,
        (cm["lang_true"] == classes["cls"]) | (cm["lang_pred"] == classes["cls"]),
        "left",
    )
    stats = joined.groupBy("cls").agg(
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("lang_true") == F.col("cls"))
                    & (F.col("lang_pred") == F.col("cls")),
                    F.col("n_docs"),
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("tp"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("lang_pred") == F.col("cls"))
                    & (F.col("lang_true") != F.col("cls")),
                    F.col("n_docs"),
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("fp"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("lang_true") == F.col("cls"))
                    & (F.col("lang_pred") != F.col("cls")),
                    F.col("n_docs"),
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("fn"),
    )
    return stats.select(
        "cls",
        "tp",
        "fp",
        "fn",
        F.when(
            F.col("tp") + F.col("fp") > 0,
            F.col("tp").cast("double") / (F.col("tp") + F.col("fp")).cast("double"),
        ).alias("precision_"),
        F.when(
            F.col("tp") + F.col("fn") > 0,
            F.col("tp").cast("double") / (F.col("tp") + F.col("fn")).cast("double"),
        ).alias("recall_"),
        F.when(
            2 * F.col("tp") + F.col("fp") + F.col("fn") > 0,
            (2 * F.col("tp")).cast("double")
            / (2 * F.col("tp") + F.col("fp") + F.col("fn")).cast("double"),
        ).alias("f1"),
    )


# --------------------------------------------------------------------------
# C171 — quantile normalization of document length across sources
# --------------------------------------------------------------------------

_QN_TILES = 20
_QN_BUCKET = 16  # n_chars div 16: bounded value-bucket set for the cumsum

_QN_ORACLE = f"""
WITH ranked AS (
  SELECT source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars, doc_id) AS r,
         COUNT(*) OVER (PARTITION BY source) AS n_s
  FROM documents
),
tiled AS (
  SELECT source,
         CAST(((r - 1) * {_QN_TILES}) // n_s AS BIGINT) + 1 AS tile,
         n_chars
  FROM ranked
),
per_st AS (
  SELECT source, tile,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars
  FROM tiled GROUP BY source, tile
),
per_t AS (
  SELECT tile,
         CAST(SUM(n_docs) AS BIGINT) AS t_docs,
         CAST(SUM(sum_chars) AS BIGINT) AS t_chars
  FROM per_st GROUP BY tile
)
SELECT s.source, s.tile, s.n_docs,
       CAST(s.sum_chars AS DOUBLE) / s.n_docs AS mean_chars,
       CAST(t.t_chars AS DOUBLE) / t.t_docs AS target_mean_chars
FROM per_st s JOIN per_t t ON s.tile = t.tile
"""


@workload("stats_quantile_normalize_sources", oracle=_QN_ORACLE)
def stats_quantile_normalize_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of the per-source document-length
    distributions: every doc gets its within-source rank tile (20
    equi-depth tiles), and each (source, tile) cell reports its own mean
    length next to the POOLED cross-source mean for that tile — the
    normalization target that aligns every source's length distribution
    (the microarray quantile-normalization estimator, tile-pooled form).
    The within-source rank deliberately does NOT use a per-source global
    window (a handful of sources = a handful of giant partitions at
    corpus scale): it is the C113 partitioned cumsum — bounded per-
    (source, value-bucket) counts collected to the driver, exclusive
    offsets broadcast back, row_number over (source, bucket)-partitioned
    windows. Integer division floors identically on both engines for
    non-negative operands."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    d = d.withColumn("bkt", F.expr(f"n_chars div {_QN_BUCKET}"))
    btot = sorted(
        d.groupBy("source", "bkt").count().collect(),
        key=lambda r: (r["source"], r["bkt"]),
    )
    offs: list[tuple[str, int, int, int]] = []
    totals: dict[str, int] = {}
    for row in btot:
        totals[row["source"]] = totals.get(row["source"], 0) + row["count"]
    acc: dict[str, int] = {}
    for row in btot:
        src = row["source"]
        offs.append((src, row["bkt"], acc.get(src, 0), totals[src]))
        acc[src] = acc.get(src, 0) + row["count"]
    off_df = F.broadcast(
        spark.createDataFrame(offs, "source string, bkt long, off long, n_s long")
    )
    w = Window.partitionBy("source", "bkt").orderBy("n_chars", "doc_id")
    ranked = (
        d.withColumn("lr", F.row_number().over(w))
        .join(off_df, ["source", "bkt"])
        .withColumn("r", F.col("off") + F.col("lr"))
    )
    tiled = ranked.select(
        "source",
        (F.expr(f"(r - 1) * {_QN_TILES} div n_s") + 1).cast("long").alias("tile"),
        "n_chars",
    )
    per_st = tiled.groupBy("source", "tile").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )
    per_t = per_st.groupBy("tile").agg(
        F.sum("n_docs").cast("long").alias("t_docs"),
        F.sum("sum_chars").cast("long").alias("t_chars"),
    )
    return per_st.join(F.broadcast(per_t), "tile").select(
        "source",
        "tile",
        "n_docs",
        (F.col("sum_chars").cast("double") / F.col("n_docs")).alias("mean_chars"),
        (F.col("t_chars").cast("double") / F.col("t_docs")).alias(
            "target_mean_chars"
        ),
    )


# --------------------------------------------------------------------------
# C172 — NDCG@10 + MRR ranking evaluation with exact scaled-integer weights
# --------------------------------------------------------------------------

_W_SCALE = 10**12
_NDCG_K = 10
# 1/log2(r+1) discount, scaled to int64 in PYTHON (round half-even, but the
# values are nowhere near .5 ulp boundaries) — both engines consume the same
# integer literals, so no transcendental function is ever evaluated engine-side.
_DISC = [round(_W_SCALE / math.log2(r + 1)) for r in range(1, _NDCG_K + 1)]
_CUM_DISC = [sum(_DISC[: i + 1]) for i in range(_NDCG_K)]

_DISC_CASE = (
    "CASE rnk "
    + " ".join(f"WHEN {r} THEN {w}" for r, w in enumerate(_DISC, start=1))
    + " ELSE 0 END"
)
_IDCG_CASE = (
    "CASE LEAST(n_rel, 10) "
    + " ".join(f"WHEN {i} THEN {c}" for i, c in enumerate(_CUM_DISC, start=1))
    + " END"
)

_NDCG_ORACLE = f"""
WITH ranked AS (
  SELECT o_custkey,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS rel,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rnk
  FROM orders
),
per_c AS (
  SELECT o_custkey,
         CAST(SUM(rel * ({_DISC_CASE})) AS BIGINT) AS dcg,
         CAST(SUM(rel) AS BIGINT) AS n_rel,
         MIN(CASE WHEN rel = 1 THEN rnk END) AS first_rel
  FROM ranked GROUP BY o_custkey
),
evald AS (
  SELECT dcg,
         {_IDCG_CASE} AS idcg,
         CAST(ROUND(CAST({_W_SCALE} AS DOUBLE) / first_rel) AS BIGINT) AS rr
  FROM per_c WHERE n_rel >= 1
),
milli AS (
  SELECT dcg, idcg, rr,
         CAST(ROUND(CAST(dcg * 1000 AS DOUBLE) / idcg) AS BIGINT) AS ndcg_milli
  FROM evald
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_eval_customers,
       CAST(SUM(dcg) AS BIGINT) AS sum_dcg,
       CAST(SUM(idcg) AS BIGINT) AS sum_idcg,
       CAST(SUM(dcg) AS DOUBLE) / CAST(SUM(idcg) AS DOUBLE) AS micro_ndcg10,
       CAST(SUM(ndcg_milli) AS DOUBLE) / CAST(1000 * COUNT(*) AS DOUBLE)
         AS macro_ndcg10,
       CAST(SUM(rr) AS DOUBLE) / CAST({_W_SCALE} * COUNT(*) AS DOUBLE) AS mrr
FROM milli
"""


@workload("stats_ndcg_mrr_ranking", oracle=_NDCG_ORACLE)
def stats_ndcg_mrr_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality evaluation: treat each customer's orders ranked by
    price (desc, orderkey tiebreak) as a retrieval run with URGENT orders
    as the relevant set, and report NDCG@10 (micro: pooled DCG/IDCG;
    macro: mean of per-customer NDCG) plus MRR over customers with >=1
    relevant item. The log2 discount weights are precomputed in Python as
    1e12-scaled int64 literals shared verbatim by the Spark expression and
    the oracle, so every per-customer DCG/IDCG is EXACT integer
    arithmetic; each final metric is one division of identical int64
    sums — no engine-side log, no order-dependent float summation. The
    ranking window partitions by customer (millions of small groups at
    scale), and the eval reduces in one aggregation pass."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    ranked = o.select(
        "o_custkey",
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("rel"),
        F.row_number().over(w).alias("rnk"),
    )
    per_c = ranked.groupBy("o_custkey").agg(
        F.sum(F.col("rel") * F.expr(_DISC_CASE)).cast("long").alias("dcg"),
        F.sum("rel").cast("long").alias("n_rel"),
        F.min(F.when(F.col("rel") == 1, F.col("rnk"))).alias("first_rel"),
    )
    evald = per_c.filter(F.col("n_rel") >= 1).select(
        "dcg",
        F.expr(_IDCG_CASE).alias("idcg"),
        F.round(F.lit(float(_W_SCALE)) / F.col("first_rel"))
        .cast("long")
        .alias("rr"),
    )
    milli = evald.withColumn(
        "ndcg_milli",
        F.round((F.col("dcg") * 1000).cast("double") / F.col("idcg")).cast("long"),
    )
    return milli.agg(
        F.count(F.lit(1)).cast("long").alias("n_eval_customers"),
        F.sum("dcg").cast("long").alias("sum_dcg"),
        F.sum("idcg").cast("long").alias("sum_idcg"),
        (
            F.sum("dcg").cast("long").cast("double")
            / F.sum("idcg").cast("long").cast("double")
        ).alias("micro_ndcg10"),
        (
            F.sum("ndcg_milli").cast("long").cast("double")
            / (F.lit(1000) * F.count(F.lit(1))).cast("long").cast("double")
        ).alias("macro_ndcg10"),
        (
            F.sum("rr").cast("long").cast("double")
            / (F.lit(_W_SCALE) * F.count(F.lit(1))).cast("long").cast("double")
        ).alias("mrr"),
    )


# --------------------------------------------------------------------------
# C186 — Poisson bootstrap standard error with deterministic hash draws
# --------------------------------------------------------------------------

_BOOT_B = 32
# Cumulative Poisson(1) CDF * 2^16 as integer thresholds (k = 0..5; the
# residual mass maps to weight 6). Computed once in Python — both
# engines compare the same 16-bit hash draw against the same literals.
_POIS_T = []
_acc = 0.0
for _k in range(6):
    _acc += math.exp(-1) / math.factorial(_k)
    _POIS_T.append(round(_acc * (1 << 16)))


# 32 u16 draws per row from 4 md5 digests (8 draws each). The digests
# are MATERIALIZED as columns h0..h3 in a prior projection (forced CSE:
# each engine hashes 4x per row, not 32x), then each draw is a cheap
# 4-hex-char slice decoded to 0..65535 — Spark via conv(,16,10), DuckDB
# via the 0x-prefix cast; both are the correctly-rounded integer of the
# same hex text.
_BOOT_GS = [(g, s) for g in range(_BOOT_B // 8) for s in range(8)]
_BOOT_DRAWS_SPARK = [
    f"CAST(conv(substr(h{g}, {s * 4 + 1}, 4), 16, 10) AS INT)" for g, s in _BOOT_GS
]
_BOOT_DRAWS_DUCK = [
    f"CAST('0x' || substr(h{g}, {s * 4 + 1}, 4) AS INTEGER)" for g, s in _BOOT_GS
]
_BOOT_HASH_SQL = [
    f"md5('boot' || {g} || '|' || CAST(o_orderkey AS STRING)) AS h{g}"
    for g in range(_BOOT_B // 8)
]
_W_CASE = (
    "CASE "
    + " ".join(f"WHEN u16 < {t} THEN {k}" for k, t in enumerate(_POIS_T))
    + " ELSE 6 END"
)
_SE_EXPR = (
    "sqrt(GREATEST(CAST(0 AS DOUBLE), (CAST(ss AS DOUBLE)"
    f" - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / {_BOOT_B}.0) / {_BOOT_B - 1}.0))"
)

_BOOT_ORACLE = f"""
WITH hashed AS (
  SELECT {_CENTS_O} AS y, {", ".join(_BOOT_HASH_SQL)}
  FROM orders
),
weighted AS (
  SELECT unnest([{", ".join(str(b) for b in range(_BOOT_B))}]) AS b,
         unnest([{", ".join(_BOOT_DRAWS_DUCK)}]) AS u16,
         y
  FROM hashed
),
reps AS (
  SELECT b,
         CAST(SUM({_W_CASE}) AS BIGINT) AS sum_w,
         CAST(SUM(({_W_CASE}) * y) AS BIGINT) AS sum_wy
  FROM weighted GROUP BY b
),
means AS (
  SELECT b, CAST(ROUND(CAST(sum_wy AS DOUBLE) / CAST(sum_w AS DOUBLE))
                AS BIGINT) AS mean_cents_b
  FROM reps
),
agg AS (
  SELECT CAST(SUM(mean_cents_b) AS BIGINT) AS s,
         CAST(SUM(mean_cents_b * mean_cents_b) AS BIGINT) AS ss
  FROM means
),
base AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM({_CENTS_O}) AS BIGINT) AS sum_y
  FROM orders
)
SELECT n_rows,
       CAST(sum_y AS DOUBLE) / CAST(n_rows AS DOUBLE) AS mean_cents,
       CAST({_BOOT_B} AS BIGINT) AS n_reps,
       CAST(s AS DOUBLE) / {_BOOT_B}.0 AS boot_mean_cents,
       {_SE_EXPR} AS se_cents
FROM base JOIN agg ON 1 = 1
"""


@workload("stats_poisson_bootstrap_se", oracle=_BOOT_ORACLE)
def stats_poisson_bootstrap_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standard error of the mean order price by DETERMINISTIC Poisson
    bootstrap: each of B=32 replicates weights every row by a Poisson(1)
    draw obtained by inverting the CDF against a 16-bit slice of the
    row's md5 digests (precomputed integer thresholds — no RNG,
    identical draws on both engines and on every rerun). Each row hashes
    only B/8 times: one 128-bit digest yields EIGHT independent u16
    draws, extracted before a posexplode fans the replicate dimension
    out map-side (no join, no data duplication on disk). Replicate sums
    are one grouped aggregation of exact int64s, and each replicate
    mean is rounded to integer cents before the across-replicate
    variance — the trick that keeps the final sd free of
    order-dependent float summation."""
    o = load_table(spark, sf_dir, "orders")
    y = F.expr(_CENTS_O)
    hashed = o.select(
        y.alias("y"),
        *[
            F.expr(
                f"md5('boot' || {g} || '|' || CAST(o_orderkey AS STRING))"
            ).alias(f"h{g}")
            for g in range(_BOOT_B // 8)
        ],
    )
    weighted = hashed.select(
        "y",
        F.posexplode(F.array(*[F.expr(d) for d in _BOOT_DRAWS_SPARK])).alias(
            "b", "u16"
        ),
    ).select("y", "b", F.expr(_W_CASE).alias("w"))
    reps = weighted.groupBy("b").agg(
        F.sum("w").cast("long").alias("sum_w"),
        F.sum(F.col("w") * F.col("y")).cast("long").alias("sum_wy"),
    )
    means = reps.select(
        F.round(F.col("sum_wy").cast("double") / F.col("sum_w").cast("double"))
        .cast("long")
        .alias("mean_cents_b")
    )
    agg = means.agg(
        F.sum("mean_cents_b").cast("long").alias("s"),
        F.sum(F.col("mean_cents_b") * F.col("mean_cents_b")).cast("long").alias("ss"),
    ).withColumn("j", F.lit(1))
    base = o.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(y).cast("long").alias("sum_y"),
    ).withColumn("j", F.lit(1))
    return base.join(F.broadcast(agg), "j").select(
        "n_rows",
        (F.col("sum_y").cast("double") / F.col("n_rows").cast("double")).alias(
            "mean_cents"
        ),
        F.lit(_BOOT_B).cast("long").alias("n_reps"),
        (F.col("s").cast("double") / F.lit(float(_BOOT_B))).alias("boot_mean_cents"),
        F.expr(_SE_EXPR).alias("se_cents"),
    )


# --------------------------------------------------------------------------
# C188 — decile lift / gains table for the price -> urgency ranking
# --------------------------------------------------------------------------

_LIFT_EXPRS = {
    "resp_rate": "CAST(pos_d AS DOUBLE) / CAST(n_d AS DOUBLE)",
    "gain": "CAST(cum_pos AS DOUBLE) / CAST(tot_pos AS DOUBLE)",
    "lift": (
        "(CAST(cum_pos AS DOUBLE) / CAST(cum_n AS DOUBLE))"
        " / (CAST(tot_pos AS DOUBLE) / CAST(tot_n AS DOUBLE))"
    ),
}

_LIFT_ORACLE = f"""
WITH ranked AS (
  SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS rel,
         ROW_NUMBER() OVER (ORDER BY {_CENTS_O}, o_orderkey) AS rn,
         COUNT(*) OVER () AS n
  FROM orders
),
tiled AS (
  SELECT rel, CAST((n - rn) * 10 // n AS BIGINT) + 1 AS decile FROM ranked
),
dec AS (
  SELECT decile,
         CAST(COUNT(*) AS BIGINT) AS n_d,
         CAST(SUM(rel) AS BIGINT) AS pos_d
  FROM tiled GROUP BY decile
),
cum AS (
  SELECT decile, n_d, pos_d,
         CAST(SUM(n_d) OVER (ORDER BY decile) AS BIGINT) AS cum_n,
         CAST(SUM(pos_d) OVER (ORDER BY decile) AS BIGINT) AS cum_pos,
         CAST(SUM(n_d) OVER () AS BIGINT) AS tot_n,
         CAST(SUM(pos_d) OVER () AS BIGINT) AS tot_pos
  FROM dec
)
SELECT decile, n_d, pos_d, cum_n, cum_pos,
       {_LIFT_EXPRS["resp_rate"]} AS resp_rate,
       {_LIFT_EXPRS["gain"]} AS gain,
       {_LIFT_EXPRS["lift"]} AS lift
FROM cum
"""


@workload("stats_lift_gains_deciles", oracle=_LIFT_ORACLE)
def stats_lift_gains_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift and cumulative-gains table for order price as an
    is-urgent ranker — the campaign-targeting / model-triage report:
    rank all orders by score (descending deciles via the C4 bucketed
    global rank — no single-partition window anywhere), then per decile
    the response rate, cumulative gain (share of all positives captured
    so far) and cumulative lift vs the base rate. Cumulative sums over
    the 10-row decile summary use a bounded 10x10 self-join; corpus
    totals re-enter as driver-scalar literals. Every metric is one fixed
    division of exact int64 counts."""
    o = load_table(spark, sf_dir, "orders")
    pts = o.select(
        F.expr(_CENTS_O).alias("v"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("rel"),
        "o_orderkey",
    )
    ranked, n = bucketed_global_rank(pts, "v", ["o_orderkey"])
    tiled = ranked.select(
        "rel",
        (F.expr(f"({n} - rn) * 10 div {n}") + 1).cast("long").alias("decile"),
    )
    dec = tiled.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_d"),
        F.sum("rel").cast("long").alias("pos_d"),
    )
    tot = dec.agg(F.sum("n_d"), F.sum("pos_d")).first()
    tot_n, tot_pos = int(tot[0]), int(tot[1])
    l, r = dec.alias("l"), dec.alias("r")
    cum = (
        # broadcast the 10-row side explicitly: without the hint Spark
        # plans this non-equi join as CartesianProduct, the unbounded
        # operator class the registry invariant bans outright; the
        # broadcast form is the documented bounded-BNLJ shape
        l.join(F.broadcast(r), F.col("r.decile") <= F.col("l.decile"))
        .groupBy(F.col("l.decile"), F.col("l.n_d"), F.col("l.pos_d"))
        .agg(
            F.sum(F.col("r.n_d")).cast("long").alias("cum_n"),
            F.sum(F.col("r.pos_d")).cast("long").alias("cum_pos"),
        )
        .select(
            F.col("l.decile").alias("decile"),
            F.col("l.n_d").alias("n_d"),
            F.col("l.pos_d").alias("pos_d"),
            "cum_n",
            "cum_pos",
            F.lit(tot_n).cast("long").alias("tot_n"),
            F.lit(tot_pos).cast("long").alias("tot_pos"),
        )
    )
    return cum.select(
        "decile",
        "n_d",
        "pos_d",
        "cum_n",
        "cum_pos",
        F.expr(_LIFT_EXPRS["resp_rate"]).alias("resp_rate"),
        F.expr(_LIFT_EXPRS["gain"]).alias("gain"),
        F.expr(_LIFT_EXPRS["lift"]).alias("lift"),
    )


# --------------------------------------------------------------------------
# C194 — Cramér's V effect size over the type x weekday contingency table
# --------------------------------------------------------------------------

_V_EXPR = (
    "sqrt((CAST(chi2_scaled AS DOUBLE) / 1000000000.0)"
    " / (CAST(n_events AS DOUBLE)"
    " * CAST(LEAST(n_rows - 1, n_cols - 1) AS DOUBLE)))"
)

_CV_ORACLE = f"""
WITH e AS (
  SELECT event_type AS x,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 7 AS y
  FROM events
),
xy AS (SELECT x, y, COUNT(*) AS c_xy FROM e GROUP BY x, y),
mx AS (SELECT x, SUM(c_xy) AS c_x FROM xy GROUP BY x),
my AS (SELECT y, SUM(c_xy) AS c_y FROM xy GROUP BY y),
n AS (SELECT SUM(c_xy) AS n FROM xy),
dims AS (
  SELECT (SELECT COUNT(*) FROM mx) AS n_rows,
         (SELECT COUNT(*) FROM my) AS n_cols
),
terms AS (
  SELECT CAST(ROUND({_CHI2_TERM} * 1000000000.0, 0) AS BIGINT) AS term_scaled,
         n.n
  FROM xy JOIN mx ON xy.x = mx.x JOIN my ON xy.y = my.y CROSS JOIN n
),
agg AS (
  SELECT CAST(t.n AS BIGINT) AS n_events,
         CAST(SUM(t.term_scaled) AS BIGINT) AS chi2_scaled
  FROM terms t GROUP BY t.n
)
SELECT a.n_events,
       CAST(d.n_rows AS BIGINT) AS n_rows,
       CAST(d.n_cols AS BIGINT) AS n_cols,
       CAST(a.chi2_scaled AS DOUBLE) / 1000000000.0 AS chi2,
       {_V_EXPR} AS cramers_v
FROM agg a CROSS JOIN dims d
"""


@workload("stats_cramers_v_type_dow", oracle=_CV_ORACLE)
def stats_cramers_v_type_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V — the [0,1]-normalized effect size of the C93
    chi-square statistic: V = sqrt(chi2 / (n * min(r-1, c-1))). The
    chi-square test says WHETHER type and weekday are dependent; V says
    HOW MUCH, comparably across tables of different shape. Identical
    exact-integer cell machinery (scaled-int term sum), one extra fixed
    expression; r and c are the contingency dimensions. sqrt is
    IEEE-exact on both engines."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        F.col("event_type").alias("x"),
        F.pmod(
            F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")),
            F.lit(7),
        )
        .cast("long")
        .alias("y"),
    )
    xy = e.groupBy("x", "y").agg(F.count(F.lit(1)).alias("c_xy"))
    mx = xy.groupBy("x").agg(F.sum("c_xy").alias("c_x"))
    my = xy.groupBy("y").agg(F.sum("c_xy").alias("c_y"))
    n = xy.agg(F.sum("c_xy").alias("n"))
    r_c = mx.agg(F.count(F.lit(1)).alias("n_rows")).crossJoin(
        F.broadcast(my.agg(F.count(F.lit(1)).alias("n_cols")))
    )
    dev = (
        F.col("n").cast("double") * F.col("c_xy").cast("double")
        - F.col("c_x").cast("double") * F.col("c_y").cast("double")
    )
    term = dev * dev / (
        F.col("n").cast("double")
        * F.col("c_x").cast("double")
        * F.col("c_y").cast("double")
    )
    terms = (
        xy.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .crossJoin(F.broadcast(n))
        .select(
            "n",
            F.round(term * 1000000000.0, 0).cast("long").alias("term_scaled"),
        )
    )
    agg = (
        terms.groupBy("n")
        .agg(F.sum("term_scaled").cast("long").alias("chi2_scaled"))
        .select(F.col("n").cast("long").alias("n_events"), "chi2_scaled")
    )
    return agg.crossJoin(F.broadcast(r_c)).select(
        "n_events",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_cols").cast("long").alias("n_cols"),
        (F.col("chi2_scaled").cast("double") / 1000000000.0).alias("chi2"),
        F.expr(_V_EXPR).alias("cramers_v"),
    )


# --------------------------------------------------------------------------
# C197 — ABC (Pareto) revenue classification of parts
# --------------------------------------------------------------------------

_ABC_BUCKET = 1 << 24
_REV_DEC_SQL = (
    "CAST(CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (1 - CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(18,4))"
)
_ABC_SHARE = "CAST(class_rev_m4 AS DOUBLE) / CAST(total_m4 AS DOUBLE)"

_ABC_ORACLE = f"""
WITH pr AS (
  SELECT l_partkey, CAST(SUM({_REV_DEC_SQL}) * 10000 AS BIGINT) AS m4
  FROM lineitem GROUP BY l_partkey
),
ranked AS (
  SELECT l_partkey, m4,
         CAST(SUM(m4) OVER (ORDER BY m4 DESC, l_partkey
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum,
         CAST(SUM(m4) OVER () AS BIGINT) AS total
  FROM pr
),
cls AS (
  SELECT CASE WHEN cum * 100 <= total * 80 THEN 'A'
              WHEN cum * 100 <= total * 95 THEN 'B'
              ELSE 'C' END AS abc_class,
         m4, total
  FROM ranked
),
agg AS (
  SELECT abc_class,
         CAST(COUNT(*) AS BIGINT) AS n_parts,
         CAST(SUM(m4) AS BIGINT) AS class_rev_m4,
         CAST(MAX(total) AS BIGINT) AS total_m4
  FROM cls GROUP BY abc_class
)
SELECT abc_class, n_parts, class_rev_m4,
       {_ABC_SHARE} AS share_of_revenue
FROM agg
"""


@workload("stats_abc_classification", oracle=_ABC_ORACLE)
def stats_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto inventory classification: rank parts by exact
    discounted revenue and split at 80% / 95% of CUMULATIVE revenue —
    class A is the short head funding most of the business, C the long
    tail. Class boundaries are INTEGER comparisons (cum*100 <= total*80)
    on DECIMAL-derived scaled-int revenue, so no float rounding can
    reassign a part. The descending cumulative sum uses the C113
    machinery: per-value-bucket totals collected (bounded), revenue
    above each bucket as an exclusive offset, within-bucket running
    sums over bucket-partitioned windows — no global sort at any part
    count."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))
    ).cast("decimal(18,4)")
    pr = li.groupBy("l_partkey").agg(
        (F.sum(rev) * 10000).cast("long").alias("m4")
    )
    pr = pr.withColumn("bkt", F.expr(f"m4 div {_ABC_BUCKET}"))
    btot = sorted(
        pr.groupBy("bkt").agg(F.sum("m4").alias("s")).collect(),
        key=lambda r: -r["bkt"],
    )
    offs, acc = [], 0
    for r in btot:
        offs.append((r["bkt"], acc))
        acc += r["s"]
    total = acc
    off_df = F.broadcast(
        spark.createDataFrame(offs or [(0, 0)], "bkt long, above long")
    )
    w = (
        Window.partitionBy("bkt")
        .orderBy(F.col("m4").desc(), F.col("l_partkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = pr.join(off_df, "bkt").select(
        "m4",
        (F.col("above") + F.sum("m4").over(w)).cast("long").alias("cum"),
    )
    cls = cum.select(
        "m4",
        F.when(F.col("cum") * 100 <= total * 80, "A")
        .when(F.col("cum") * 100 <= total * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    agg = cls.groupBy("abc_class").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum("m4").cast("long").alias("class_rev_m4"),
    ).withColumn("total_m4", F.lit(int(total)).cast("long"))
    return agg.select(
        "abc_class",
        "n_parts",
        "class_rev_m4",
        F.expr(_ABC_SHARE).alias("share_of_revenue"),
    )


_CENTS_L = "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"


# --------------------------------------------------------------------------
# C212 — exact weighted median (lower weighted median, integer criterion)
# --------------------------------------------------------------------------
_WMED_ORACLE = f"""
WITH vw AS (
  SELECT l_returnflag AS returnflag,
         {_CENTS_L} AS cents,
         CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) AS BIGINT))
              AS BIGINT) AS wt
  FROM lineitem
  GROUP BY l_returnflag, {_CENTS_L}
),
cum AS (
  SELECT returnflag, cents, wt,
         CAST(SUM(wt) OVER (PARTITION BY returnflag ORDER BY cents
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cw,
         CAST(SUM(wt) OVER (PARTITION BY returnflag) AS BIGINT) AS total
  FROM vw
)
SELECT returnflag,
       CAST(MIN(CASE WHEN 2 * cw >= total THEN cents END) AS BIGINT)
         AS median_cents,
       CAST(MIN(total) AS BIGINT) AS total_weight
FROM cum
GROUP BY returnflag
"""


@workload("stats_weighted_median_price", oracle=_WMED_ORACLE)
def stats_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT WEIGHTED MEDIAN of line price (cents) weighted by quantity,
    per return flag — the robust location estimate unweighted median
    (C13/C112) can't give when rows carry multiplicity. Equal values
    merge BEFORE the cumulative scan (group by (flag, cents)), then the
    lower weighted median is the least value with 2*cumweight >= total
    — an all-integer criterion, so engine float behavior can't touch
    the answer. Cost: one keyed aggregate + one keyed window; the
    cumulative scan runs over DISTINCT price points, not raw rows."""
    l = load_table(spark, sf_dir, "lineitem")
    vw = (
        l.select(
            F.col("l_returnflag").alias("returnflag"),
            F.expr(_CENTS_L).alias("cents"),
            F.col("l_quantity").cast("decimal(18,2)").cast("long").alias("w"),
        )
        .groupBy("returnflag", "cents")
        .agg(F.sum("w").cast("long").alias("wt"))
    )
    w_cum = (
        Window.partitionBy("returnflag")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("returnflag")
    cum = vw.select(
        "returnflag",
        "cents",
        F.sum("wt").over(w_cum).cast("long").alias("cw"),
        F.sum("wt").over(w_all).cast("long").alias("total"),
    )
    return cum.groupBy("returnflag").agg(
        F.min(F.when(2 * F.col("cw") >= F.col("total"), F.col("cents")))
        .cast("long")
        .alias("median_cents"),
        F.min("total").cast("long").alias("total_weight"),
    )
