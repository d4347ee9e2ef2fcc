"""Time-series workloads over the order and event testdata: smoothing
(EWMA, Holt linear), gap fill (interpolation, LOCF, recursive date
spines), autocorrelation and cross-correlation, spectra, drawdown,
volatility bands, seasonal strength and decomposition, period-over-period
growth and burstiness.

Determinism notes (the repo-wide cross-engine hash contract):
  - EWMA weights are embedded as `repr(float)` literals — the shortest
    round-tripping decimal, which both Spark's and DuckDB's parsers bind
    to the identical IEEE double — and the weighted sum is written in the
    same left-associative textual order on both sides, so every
    intermediate double is bit-identical. The Holt fold uses the same
    rule; the EWMA and Holt oracles are shared with their streaming twins
    in workloads/streaming_queries.py.
  - All sufficient statistics are EXACT integers. Money is floor-dollars
    (cents DIV 100, `_DOLLARS`) where squared sums would overflow int64 in
    cents; per-value floor division is exact integer arithmetic on both
    engines. Correlations combine the exact integer sums as doubles in the
    identical textual order on both sides; SQRT is correctly rounded per
    IEEE-754 on both engines, so no ROUND() guard is needed.
  - Bollinger statistics are rolling exact sums (BIGINT cents, and
    DECIMAL(38,0) for the squared term, which overflows int64 at scale)
    with the mean/sd/band arithmetic in ONE fixed shared double
    expression.
  - The decomposition keeps every per-row quantity EXACT-INT by scaling
    by 7 (trend_x7 = the 7-day rolling sum itself, resid_x7 = 7*rev -
    trend_x7); the only doubles are ONE division per (nation, dow)
    seasonal mean and one fixed per-row subtraction.
  - LOCF rides last_value(... IGNORE NULLS) over the per-key calendar
    spine; revenue is exact BIGINT cents so carried values hash
    identically on both engines.
  - Month-over-month / year-over-year growth is computed by SELF-JOINS on
    calendar-shifted month keys — no window at all, so the monthly series
    can live on any partitioning at any scale.
"""

from __future__ import annotations

import math as _math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sample_data_pipeline_project_spark.functions.timeops import EWMA_LAGS as _EWMA_LAGS
from sample_data_pipeline_project_spark.functions.timeops import (
    ewma_sql_exprs as _ewma_exprs,
)
from sample_data_pipeline_project_spark.sources.catalog import load_table
from sample_data_pipeline_project_spark.workloads import workload
from sample_data_pipeline_project_spark.workloads.relational import _CENTS_O


# --------------------------------------------------------------------------
# Time-series gap-fill + linear interpolation
# --------------------------------------------------------------------------
# The interpolation formula is written with the SAME operation order on
# both engines: prev + (next - prev) * (gap_pos / gap_len). All four
# operands are exact (decimal sums cast to double; integer day offsets
# cast to double), so the IEEE double results are bit-identical.
_INTERP_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         COUNT(*) AS n, SUM(CAST(value AS DECIMAL(18,6))) AS s
  FROM events GROUP BY 1, 2
),
bounds AS (SELECT event_type, MIN(day) AS mn, MAX(day) AS mx FROM daily GROUP BY 1),
spine AS (
  SELECT b.event_type,
         CAST(unnest(generate_series(CAST(b.mn AS TIMESTAMP),
                                     CAST(b.mx AS TIMESTAMP),
                                     INTERVAL 1 DAY)) AS DATE) AS day
  FROM bounds b
),
j AS (
  SELECT s.event_type, s.day, d.n, d.s,
         (SELECT MAX(p.day) FROM daily p
          WHERE p.event_type = s.event_type AND p.day < s.day AND p.s IS NOT NULL) AS pd,
         (SELECT MIN(q.day) FROM daily q
          WHERE q.event_type = s.event_type AND q.day > s.day AND q.s IS NOT NULL) AS nd
  FROM spine s LEFT JOIN daily d USING (event_type, day)
)
SELECT j.event_type, j.day,
       CAST(COALESCE(j.n, 0) AS BIGINT) AS n_events,
       CASE
         WHEN j.s IS NOT NULL THEN CAST(j.s AS DOUBLE)
         WHEN j.pd IS NOT NULL AND j.nd IS NOT NULL THEN
           CAST(pv.s AS DOUBLE)
           + (CAST(nv.s AS DOUBLE) - CAST(pv.s AS DOUBLE))
             * (CAST(j.day - j.pd AS DOUBLE) / CAST(j.nd - j.pd AS DOUBLE))
         ELSE NULL
       END AS value_filled,
       (j.s IS NULL AND j.pd IS NOT NULL AND j.nd IS NOT NULL) AS is_interpolated
FROM j
LEFT JOIN daily pv ON pv.event_type = j.event_type AND pv.day = j.pd
LEFT JOIN daily nv ON nv.event_type = j.event_type AND nv.day = j.nd
"""


@workload("timeseries_gapfill_interpolate", oracle=_INTERP_ORACLE)
def timeseries_gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled daily series per event type with LINEAR INTERPOLATION of
    the daily value sum across missing interior days (edges stay NULL).
    Spine via sequence()+explode per group — no driver loop; neighbor
    lookup via last/first IGNORE NULLS windows — two sorts within the
    already-shuffled group partition, not the correlated-subquery rescans
    the oracle spells out. At 100 TB the spine join is partitioned by the
    same group key as the aggregate, so gap-fill adds no extra exchange."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("s"),
    )
    bounds = daily.groupBy("event_type").agg(
        F.min("day").alias("mn"), F.max("day").alias("mx")
    )
    spine = bounds.select(
        "event_type", F.explode(F.sequence("mn", "mx")).alias("day")
    )
    j = spine.join(daily, ["event_type", "day"], "left")
    w_prev = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_next = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    present_day = F.when(F.col("s").isNotNull(), F.col("day"))
    withnb = (
        j.withColumn("pd", F.last(present_day, ignorenulls=True).over(w_prev))
        .withColumn("pv", F.last(F.col("s"), ignorenulls=True).over(w_prev))
        .withColumn("nd", F.first(present_day, ignorenulls=True).over(w_next))
        .withColumn("nv", F.first(F.col("s"), ignorenulls=True).over(w_next))
    )
    interp = (
        F.col("pv").cast("double")
        + (F.col("nv").cast("double") - F.col("pv").cast("double"))
        * (
            F.datediff(F.col("day"), F.col("pd")).cast("double")
            / F.datediff(F.col("nd"), F.col("pd")).cast("double")
        )
    )
    has_both = F.col("pd").isNotNull() & F.col("nd").isNotNull()
    return withnb.select(
        "event_type",
        "day",
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_events"),
        F.when(F.col("s").isNotNull(), F.col("s").cast("double"))
        .when(has_both, interp)
        .alias("value_filled"),
        (F.col("s").isNull() & has_both).alias("is_interpolated"),
    )


# --------------------------------------------------------------------------
# Per-user EWMA over event values — truncated-kernel exponential smoothing
# (kernel constants + SQL builder shared with the stream twin:
# functions/timeops.py)
# --------------------------------------------------------------------------
_EWMA_NUM, _EWMA_DEN = _ewma_exprs("l{j}")

_EWMA_LAG_SELECT_LIST = [
    (
        "value AS l0"
        if j == 0
        else f"LAG(value, {j}) OVER "
        "(PARTITION BY user_id ORDER BY ts, event_id) AS l" + str(j)
    )
    for j in range(_EWMA_LAGS)
]
_EWMA_LAG_SELECTS = ",\n         ".join(_EWMA_LAG_SELECT_LIST)

_EWMA_ORACLE = f"""
WITH lagged AS (
  SELECT event_id, user_id, ts, value,
         {_EWMA_LAG_SELECTS}
  FROM events
)
SELECT event_id, user_id, ts, value,
       ({_EWMA_NUM}) / ({_EWMA_DEN}) AS ewma
FROM lagged
"""


@workload("timeseries_ewma", oracle=_EWMA_ORACLE)
def timeseries_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA of event values: a TRUNCATED exponential kernel over
    the last {K} observations via fixed-width LAG windows — partitioned by
    user (no global sort), constant state per row, the renormalized form
    sum(w_j x_(t-j)) / sum(w_j available). The fixed-width-kernel framing
    is what makes exponential smoothing a scale-safe window op instead of
    an unbounded recursive scan."""
    ev = load_table(spark, sf_dir, "events")
    lagged = ev.selectExpr(
        "event_id", "user_id", "ts", "value", *_EWMA_LAG_SELECT_LIST
    )
    return lagged.selectExpr(
        "event_id",
        "user_id",
        "ts",
        "value",
        f"({_EWMA_NUM}) / ({_EWMA_DEN}) AS ewma",
    )


_DOLLARS = "CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 100 AS BIGINT)"

# --------------------------------------------------------------------------
# Autocorrelation function (ACF) of the daily-revenue series, lags 1..7
# --------------------------------------------------------------------------
_ACF_MAX_LAG = 7

_ACF_ORACLE = f"""
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS d,
         SUM({_DOLLARS}) AS y
  FROM orders GROUP BY 1
),
lags AS (SELECT unnest(range(1, {_ACF_MAX_LAG + 1})) AS lag),
pairs AS (
  SELECT l.lag, a.y AS x, b.y AS y
  FROM daily a
  JOIN lags l ON TRUE
  JOIN daily b ON b.d = a.d + l.lag
),
s AS (
  SELECT lag, COUNT(*) AS n,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
  FROM pairs GROUP BY lag
)
SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       / SQRT(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       / SQRT(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) AS acf
FROM s
"""


@workload("timeseries_acf_daily_revenue", oracle=_ACF_ORACLE)
def timeseries_acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUTOCORRELATION of the daily-revenue series at lags 1..7 — the
    seasonality detector behind the weekday forecast (C50): a weekly cycle
    shows up as an acf peak at lag 7. NO window functions: the lagged
    pairing is an equi-join of the daily aggregate against itself on
    d = d + lag (7-way lag fan-out is map-side over the calendar-bounded
    daily table), and the per-lag Pearson correlation is one keyed
    aggregate of six exact integer sufficient statistics in floor-dollars
    (dollars^2 sums stay ~5 orders under int64 through sf10). Daily table
    is broadcast on the probe side — zero shuffle beyond the first
    day-keyed aggregate."""
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
            )
            .cast("long")
            .alias("d"),
            ((F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long") / 100)
            .cast("long")
            .alias("dollars"),
        )
        .groupBy("d")
        .agg(F.sum("dollars").alias("y"))
    )
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(F.col("id").alias("lag"))
    a = daily.alias("a").crossJoin(F.broadcast(lags))
    b = F.broadcast(daily.alias("b"))
    pairs = a.join(
        b, F.col("b.d") == F.col("a.d") + F.col("lag")
    ).select("lag", F.col("a.y").alias("x"), F.col("b.y").alias("y"))
    s = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    acf = (
        (
            F.col("n").cast("double") * F.col("sxy").cast("double")
            - F.col("sx").cast("double") * F.col("sy").cast("double")
        )
        / F.sqrt(
            F.col("n").cast("double") * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double")
        )
        / F.sqrt(
            F.col("n").cast("double") * F.col("syy").cast("double")
            - F.col("sy").cast("double") * F.col("sy").cast("double")
        )
    )
    return s.select(
        F.col("lag").cast("long"),
        F.col("n").cast("long"),
        acf.alias("acf"),
    )


# --------------------------------------------------------------------------
# Weekly spectrum: DFT power of the daily-revenue series at fixed periods
# --------------------------------------------------------------------------
_SPECTRUM_PERIODS = (7, 5)
_SPECTRUM_SCALE = 1_000_000  # micro-dollar projection grid

# (period, residue) -> cos/sin of 2*pi*k/p as shortest-round-trip literals.
# The literals ride as CAST('...' AS DOUBLE): string->double parses are
# correctly rounded (identical) on both engines, whereas a BARE decimal
# literal like -0.9009688679024191 is parsed by DuckDB as DECIMAL(17,16)
# and its decimal->double conversion can land 1 ulp off the string parse —
# which moved a ROUND(x, 0) across an exact .5 boundary in testing.
_SPECTRUM_CONSTS = [
    (p, k, repr(_math.cos(2 * _math.pi * k / p)), repr(_math.sin(2 * _math.pi * k / p)))
    for p in _SPECTRUM_PERIODS
    for k in range(p)
]

_SPECTRUM_VALUES = ",\n         ".join(
    f"({p}, {k}, CAST('{c}' AS DOUBLE), CAST('{s}' AS DOUBLE))"
    for p, k, c, s in _SPECTRUM_CONSTS
)

_SPECTRUM_ORACLE = f"""
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS d,
         SUM({_DOLLARS}) AS y
  FROM orders GROUP BY 1
),
consts(period, k, c, s) AS (
  VALUES {_SPECTRUM_VALUES}
),
res AS (
  SELECT cn.period, cn.k, cn.c, cn.s, SUM(dy.y) AS sk
  FROM daily dy
  JOIN consts cn ON dy.d % cn.period = cn.k
  GROUP BY cn.period, cn.k, cn.c, cn.s
),
proj AS (
  SELECT period,
         SUM(CAST(ROUND(CAST(sk AS DOUBLE) * c * {_SPECTRUM_SCALE}.0, 0)
             AS BIGINT)) AS sc,
         SUM(CAST(ROUND(CAST(sk AS DOUBLE) * s * {_SPECTRUM_SCALE}.0, 0)
             AS BIGINT)) AS ss,
         COUNT(*) AS n_residues
  FROM res GROUP BY period
)
SELECT CAST(period AS BIGINT) AS period,
       CAST(n_residues AS BIGINT) AS n_residues,
       (CAST(sc AS DOUBLE) / {_SPECTRUM_SCALE}.0)
       * (CAST(sc AS DOUBLE) / {_SPECTRUM_SCALE}.0)
       + (CAST(ss AS DOUBLE) / {_SPECTRUM_SCALE}.0)
       * (CAST(ss AS DOUBLE) / {_SPECTRUM_SCALE}.0) AS power
FROM proj
"""


@workload("timeseries_weekly_spectrum", oracle=_SPECTRUM_ORACLE)
def timeseries_weekly_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERIODICITY detection by direct DFT projection: the daily-revenue
    series' spectral power at the weekly frequency (period 7) vs a
    non-calendar control period (5) — the frequency-domain twin of the
    lag-7 ACF peak (C84). Exact shape: residue sums S_k = SUM(y | d%p = k)
    collapse the series to p integers per period BEFORE any float math
    (map-side-combinable, calendar-length-independent state), then the
    cos/sin projections use repr(float) literal constants and the
    scaled-integer term sum (micro-dollar grid), so the p-term reductions
    are exact int64 sums. All joins broadcast (constants are 12 rows)."""
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
            )
            .cast("long")
            .alias("d"),
            ((F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long") / 100)
            .cast("long")
            .alias("dollars"),
        )
        .groupBy("d")
        .agg(F.sum("dollars").alias("y"))
    )
    consts = spark.createDataFrame(
        [(p, k, float(c), float(s)) for p, k, c, s in _SPECTRUM_CONSTS],
        "period long, k long, c double, s double",
    )
    res = (
        daily.crossJoin(F.broadcast(consts))
        .filter(F.pmod(F.col("d"), F.col("period")) == F.col("k"))
        .groupBy("period", "k", "c", "s")
        .agg(F.sum("y").alias("sk"))
    )
    proj = res.groupBy("period").agg(
        F.sum(
            F.round(F.col("sk").cast("double") * F.col("c") * _SPECTRUM_SCALE, 0)
            .cast("long")
        ).alias("sc"),
        F.sum(
            F.round(F.col("sk").cast("double") * F.col("s") * _SPECTRUM_SCALE, 0)
            .cast("long")
        ).alias("ss"),
        F.count(F.lit(1)).alias("n_residues"),
    )
    power = (F.col("sc").cast("double") / _SPECTRUM_SCALE) * (
        F.col("sc").cast("double") / _SPECTRUM_SCALE
    ) + (F.col("ss").cast("double") / _SPECTRUM_SCALE) * (
        F.col("ss").cast("double") / _SPECTRUM_SCALE
    )
    return proj.select(
        F.col("period").cast("long"),
        F.col("n_residues").cast("long"),
        power.alias("power"),
    )


# --------------------------------------------------------------------------
# Cross-correlation (lead-lag) between view and click daily volumes
# --------------------------------------------------------------------------
_CCF_MAX_LAG = 3
_CCF_X = "view"
_CCF_Y = "click"

_CCF_ORACLE = f"""
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
         COUNT(*) AS cnt
  FROM events
  WHERE event_type IN ('{_CCF_X}', '{_CCF_Y}')
  GROUP BY event_type, 2
),
lags AS (SELECT unnest(range(-{_CCF_MAX_LAG}, {_CCF_MAX_LAG + 1})) AS lag),
pairs AS (
  SELECT l.lag, a.cnt AS x, b.cnt AS y
  FROM daily a
  JOIN lags l ON TRUE
  JOIN daily b ON b.d = a.d + l.lag
  WHERE a.event_type = '{_CCF_X}' AND b.event_type = '{_CCF_Y}'
),
s AS (
  SELECT lag, COUNT(*) AS n,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
  FROM pairs GROUP BY lag
)
SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       / NULLIF(SQRT(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * SQRT(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)), 0.0) AS ccf
FROM s
"""


@workload("timeseries_ccf_view_click", oracle=_CCF_ORACLE)
def timeseries_ccf_view_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-CORRELATION lead-lag analysis between daily view volume and
    daily click volume at lags -3..+3 — "does one metric lead the other"
    (positive-lag peak = views lead clicks). Same scale shape as the ACF
    (C84): per-type daily aggregate, 7-way lag fan-out by equi-join (no
    windows), per-lag Pearson from six exact int64 sufficient statistics,
    identical-textual-order float finish."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type").isin(_CCF_X, _CCF_Y))
        .select(
            "event_type",
            F.datediff(
                F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
            )
            .cast("long")
            .alias("d"),
        )
        .groupBy("event_type", "d")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    lags = spark.range(-_CCF_MAX_LAG, _CCF_MAX_LAG + 1).select(
        F.col("id").alias("lag")
    )
    a = daily.filter(F.col("event_type") == _CCF_X).alias("a")
    b = daily.filter(F.col("event_type") == _CCF_Y).alias("b")
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(
            F.broadcast(b),
            F.col("b.d") == F.col("a.d") + F.col("lag"),
        )
        .select("lag", F.col("a.cnt").alias("x"), F.col("b.cnt").alias("y"))
    )
    s = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    ccf = (
        F.col("n").cast("double") * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / F.nullif(
        F.sqrt(
            F.col("n").cast("double") * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double")
        )
        * F.sqrt(
            F.col("n").cast("double") * F.col("syy").cast("double")
            - F.col("sy").cast("double") * F.col("sy").cast("double")
        ),
        F.lit(0.0),
    )
    return s.select(
        F.col("lag").cast("long"),
        F.col("n").cast("long"),
        ccf.alias("ccf"),
    )


# --------------------------------------------------------------------------
# Maximum drawdown of cumulative revenue per priority class
# --------------------------------------------------------------------------
_DRAWDOWN_ORACLE = f"""
WITH daily AS (
  SELECT o_orderpriority AS priority,
         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS d,
         SUM({_DOLLARS}) AS y
  FROM orders GROUP BY 1, 2
),
cum AS (
  SELECT priority, d,
         SUM(y) OVER (PARTITION BY priority ORDER BY d
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS c
  FROM daily
),
dd AS (
  SELECT priority, d,
         MAX(c) OVER (PARTITION BY priority ORDER BY d
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c
           AS drawdown
  FROM cum
),
best AS (
  SELECT priority, MAX(drawdown) AS max_drawdown FROM dd GROUP BY priority
)
SELECT b.priority, CAST(b.max_drawdown AS BIGINT) AS max_drawdown,
       CAST(MIN(d.d) AS BIGINT) AS first_day_at_max
FROM best b JOIN dd d
  ON d.priority = b.priority AND d.drawdown = b.max_drawdown
GROUP BY b.priority, b.max_drawdown
"""


@workload("timeseries_max_drawdown", oracle=_DRAWDOWN_ORACLE)
def timeseries_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAXIMUM DRAWDOWN of the cumulative daily-revenue curve per order
    priority — the running-peak-to-trough metric (largest slump below the
    best day so far). Pure integer arithmetic end-to-end in floor-dollars:
    running SUM then running MAX ride priority-partitioned windows over
    the CALENDAR-BOUNDED daily aggregate (the C49 CUSUM shape — windows
    never touch raw order rows), and the argmax day is made deterministic
    by taking the EARLIEST day attaining the max (MIN-day join, no rank
    window)."""
    from pyspark.sql.window import Window as W

    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.col("o_orderpriority").alias("priority"),
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
            )
            .cast("long")
            .alias("d"),
            ((F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long") / 100)
            .cast("long")
            .alias("dollars"),
        )
        .groupBy("priority", "d")
        .agg(F.sum("dollars").alias("y"))
    )
    w = (
        W.partitionBy("priority")
        .orderBy("d")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = daily.select("priority", "d", F.sum("y").over(w).alias("c"))
    dd = cum.select(
        "priority", "d", (F.max("c").over(w) - F.col("c")).alias("drawdown")
    )
    best = (
        dd.groupBy("priority")
        .agg(F.max("drawdown").alias("max_drawdown"))
        .withColumnRenamed("priority", "b_priority")
    )
    return (
        dd.join(
            F.broadcast(best),
            (F.col("priority") == F.col("b_priority"))
            & (F.col("drawdown") == F.col("max_drawdown")),
        )
        .groupBy("b_priority", "max_drawdown")
        .agg(F.min("d").alias("first_day_at_max"))
        .select(
            F.col("b_priority").alias("priority"),
            F.col("max_drawdown").cast("long"),
            F.col("first_day_at_max").cast("long"),
        )
    )


# --------------------------------------------------------------------------
# Fano-factor burstiness of daily event volume per type
# --------------------------------------------------------------------------
_FANO_ORACLE = """
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
         COUNT(*) AS y
  FROM events GROUP BY 1, 2
),
s AS (
  SELECT event_type, COUNT(*) AS n, SUM(y) AS sy, SUM(y * y) AS syy
  FROM daily GROUP BY event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n_days,
       CAST(sy AS BIGINT) AS n_events,
       ((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
        / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
       / (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) AS fano
FROM s
"""


@workload("timeseries_fano_burstiness", oracle=_FANO_ORACLE)
def timeseries_fano_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FANO-FACTOR BURSTINESS per event type: variance-to-mean ratio of
    the daily count series — the dispersion screen that separates
    Poisson-like steady traffic (F ~ 1) from bursty/batchy arrivals
    (F >> 1) before alerting thresholds are set. One keyed daily
    aggregate, then exact int sufficient statistics (n, Sy, Syy) per
    type; sample variance and mean combine as identical-textual-order
    float expressions (the C85 pattern applied to counts)."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.datediff(
                F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
            )
            .cast("long")
            .alias("d"),
        )
        .groupBy("event_type", "d")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    s = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    var = (
        F.col("n").cast("double") * F.col("syy").cast("double")
        - F.col("sy").cast("double") * F.col("sy").cast("double")
    ) / (F.col("n").cast("double") * (F.col("n") - 1).cast("double"))
    mean = F.col("sy").cast("double") / F.col("n").cast("double")
    return s.select(
        "event_type",
        F.col("n").cast("long").alias("n_days"),
        F.col("sy").cast("long").alias("n_events"),
        (var / mean).alias("fano"),
    )


# --------------------------------------------------------------------------
# Holt linear trend (double exponential smoothing) via portable left folds
# --------------------------------------------------------------------------
_HOLT_A = "CAST('0.5' AS DOUBLE)"   # level smoothing alpha
_HOLT_B = "CAST('0.3' AS DOUBLE)"   # trend smoothing beta
_HOLT_B1 = "CAST('0.7' AS DOUBLE)"  # 1 - beta

# NOTE: the oracle unrolls the fold as a RECURSIVE CTE rather than
# DuckDB's list_reduce: with a struct accumulator, DuckDB 1.0 evaluates
# struct_pack fields SEQUENTIALLY against the accumulator (the second
# field sees the first field's NEW value), which silently changes the
# recurrence — pinned by hand-fold comparison during development. The
# recursive form keeps both old (l, b) addressable, textually identical
# to the Spark lambda.
_HOLT_ORACLE = f"""
WITH RECURSIVE daily AS (
  SELECT o_orderpriority AS priority,
         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) // 7 AS d,
         CAST(SUM({_CENTS_O}) AS BIGINT) AS v
  FROM orders GROUP BY 1, 2
),
ord AS (
  SELECT priority, v,
         ROW_NUMBER() OVER (PARTITION BY priority ORDER BY d) AS t
  FROM daily
),
n AS (SELECT priority, COUNT(*) AS n_days FROM ord GROUP BY priority),
rec AS (
  SELECT priority, t, CAST(v AS DOUBLE) AS l, CAST('0.0' AS DOUBLE) AS b
  FROM ord WHERE t = 1
  UNION ALL
  SELECT o.priority, o.t,
         {_HOLT_A} * CAST(o.v AS DOUBLE) + {_HOLT_A} * (r.l + r.b),
         {_HOLT_B} * (({_HOLT_A} * CAST(o.v AS DOUBLE)
                       + {_HOLT_A} * (r.l + r.b)) - r.l) + {_HOLT_B1} * r.b
  FROM rec r JOIN ord o ON o.priority = r.priority AND o.t = r.t + 1
)
SELECT r.priority, CAST(n.n_days AS BIGINT) AS n_weeks,
       r.l AS level, r.b AS trend, r.l + r.b AS forecast_next
FROM rec r JOIN n ON n.priority = r.priority AND r.t = n.n_days
"""

_HOLT_STEP_SPARK = (
    f"(acc, e) -> named_struct("
    f"'a', {_HOLT_A} * e.a + {_HOLT_A} * (acc.a + acc.b), "
    f"'b', {_HOLT_B} * (({_HOLT_A} * e.a + {_HOLT_A} * (acc.a + acc.b)) - acc.a)"
    f" + {_HOLT_B1} * acc.b)"
)


def _holt_fold(weekly: DataFrame) -> DataFrame:
    """Holt level/trend/forecast per priority from the (priority, d, v)
    weekly revenue table: the bounded weekly series is collected into one
    array per group and folded with `_HOLT_STEP_SPARK`."""
    ser = weekly.groupBy("priority").agg(
        F.count(F.lit(1)).cast("long").alias("n_weeks"),
        F.expr(
            "transform(array_sort(collect_list(struct(d, CAST(v AS DOUBLE) AS y))),"
            " x -> named_struct('a', x.y, 'b', CAST('0.0' AS DOUBLE)))"
        ).alias("ys"),
    )
    return ser.select(
        "priority",
        "n_weeks",
        F.expr(
            "aggregate("
            " slice(ys, 2, greatest(size(ys) - 1, 0)),"
            " named_struct('a', element_at(ys, 1).a, 'b', CAST('0.0' AS DOUBLE)),"
            f" {_HOLT_STEP_SPARK})"
        ).alias("st"),
    ).select(
        "priority",
        "n_weeks",
        F.col("st.a").alias("level"),
        F.col("st.b").alias("trend"),
        (F.col("st.a") + F.col("st.b")).alias("forecast_next"),
    )


@workload("timeseries_holt_linear", oracle=_HOLT_ORACLE)
def timeseries_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOLT LINEAR TREND (double exponential smoothing) of weekly revenue
    per order priority: level and trend carried through the recurrence
    l_t = a*y_t + (1-a)*(l+b), b_t = beta*(l_t - l) + (1-beta)*b with
    l_1 = y_1, b_1 = 0 — the one-step-ahead forecaster whose recursion
    LOOKS inherently sequential. It runs as a per-group LEFT FOLD over
    the calendar-bounded weekly aggregate (array fold via the `aggregate`
    higher-order function; DuckDB's list_reduce folds the identical
    step), with every float constant riding as CAST('repr' AS DOUBLE)
    and the step expression textually identical on both engines — so
    level/trend/forecast are bit-identical doubles, hashed raw with no
    rounding guard. Scale shape: raw rows collapse to (priority, epoch-week)
    keyed sums first; only the bounded weekly series is collected into an
    array, per group, map-side."""
    o = load_table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    day = F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01"))
    daily = (
        o.groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.expr("datediff(to_date(o_orderdate), DATE'1970-01-01') div 7").alias("d"),
        )
        .agg(F.sum(cents).cast("long").alias("v"))
    )
    return _holt_fold(daily)


# --------------------------------------------------------------------------
# Seasonal strength of daily revenue (weekday-component variance share)
# --------------------------------------------------------------------------
_SEAS_ORACLE = """
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS d,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
              // 100 AS BIGINT) AS v
  FROM orders GROUP BY 1
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(v) AS BIGINT) AS sv,
         CAST(SUM(v * v) AS BIGINT) AS svv
  FROM daily
),
bywd AS (
  SELECT d % 7 AS wd, CAST(SUM(v) AS BIGINT) AS s_w,
         CAST(COUNT(*) AS BIGINT) AS n_w
  FROM daily GROUP BY d % 7
),
seas AS (
  SELECT CAST(SUM(CAST(ROUND(CAST(s_w AS DOUBLE) * CAST(s_w AS DOUBLE)
                             / CAST(n_w AS DOUBLE), 0) AS BIGINT))
              AS BIGINT) AS t
  FROM bywd
)
SELECT tot.n AS n_days,
       ROUND(1.0 - (CAST(tot.svv AS DOUBLE) - CAST(seas.t AS DOUBLE))
                   / (CAST(tot.svv AS DOUBLE)
                      - CAST(tot.sv AS DOUBLE) * CAST(tot.sv AS DOUBLE)
                        / CAST(tot.n AS DOUBLE)), 9) AS seasonal_strength
FROM tot CROSS JOIN seas
"""


@workload("timeseries_seasonal_strength", oracle=_SEAS_ORACLE)
def timeseries_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEASONAL STRENGTH of daily revenue: the share of variance the
    weekday component explains, 1 - SS_residual/SS_total with the
    weekday means as the seasonal model — the decision metric for
    whether the seasonal-naive forecaster (C50) is even applicable.
    Sufficient statistics are exact int64 in floor-DOLLARS (the C84
    headroom convention: v^2 sums stay in range through sf10); the seven
    per-weekday S^2/n terms go through the scaled-int ROUND so their sum
    is order-independent; two divisions total, ROUND(9)-guarded. Epoch
    mod-7 weekday keying (dialect-portable, C50/C92 convention)."""
    o = load_table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    daily = (
        o.groupBy(
            F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")).alias("d")
        )
        .agg(F.expr(f"CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) div 100 AS BIGINT)").alias("v"))
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("sv"),
        F.sum(F.col("v") * F.col("v")).cast("long").alias("svv"),
    )
    bywd = daily.groupBy((F.col("d") % 7).alias("wd")).agg(
        F.sum("v").cast("long").alias("s_w"),
        F.count(F.lit(1)).cast("long").alias("n_w"),
    )
    seas = bywd.agg(
        F.sum(
            F.round(
                F.col("s_w").cast("double")
                * F.col("s_w").cast("double")
                / F.col("n_w").cast("double"),
                0,
            ).cast("long")
        )
        .cast("long")
        .alias("t")
    )
    return tot.crossJoin(F.broadcast(seas)).select(
        F.col("n").alias("n_days"),
        F.round(
            1.0
            - (F.col("svv").cast("double") - F.col("t").cast("double"))
            / (
                F.col("svv").cast("double")
                - F.col("sv").cast("double")
                * F.col("sv").cast("double")
                / F.col("n").cast("double")
            ),
            9,
        ).alias("seasonal_strength"),
    )


# --------------------------------------------------------------------------
# C185 — Bollinger bands over per-nation daily revenue
# --------------------------------------------------------------------------

_BB_MEAN = "CASE WHEN roll_n = 7 THEN CAST(roll_s AS DOUBLE) / 7.0 END"
_BB_SD = (
    "CASE WHEN roll_n = 7 THEN sqrt(GREATEST(CAST(0 AS DOUBLE),"
    " (CAST(roll_ssq AS DOUBLE)"
    " - CAST(roll_s AS DOUBLE) * CAST(roll_s AS DOUBLE) / 7.0) / 6.0)) END"
)
_BB_UP = "mean7 + 2.0 * sd7"
_BB_LO = "mean7 - 2.0 * sd7"
_BB_OUT = (
    "CASE WHEN roll_n = 7 THEN CAST(rev_cents AS DOUBLE) > upper_band"
    " OR CAST(rev_cents AS DOUBLE) < lower_band END"
)

_BB_ORACLE = f"""
WITH daily AS (
  SELECT c.c_nationkey AS nationkey,
         CAST(o.o_orderdate AS DATE) AS day,
         CAST(SUM({_CENTS_O}) AS BIGINT) AS rev_cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY c.c_nationkey, CAST(o.o_orderdate AS DATE)
),
rolled AS (
  SELECT nationkey, day, rev_cents,
         CAST(COUNT(*) OVER w AS BIGINT) AS roll_n,
         CAST(SUM(rev_cents) OVER w AS BIGINT) AS roll_s,
         CAST(SUM(CAST(rev_cents AS DECIMAL(38,0)) * rev_cents) OVER w
              AS DECIMAL(38,0)) AS roll_ssq
  FROM daily
  WINDOW w AS (PARTITION BY nationkey ORDER BY day
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
),
banded AS (
  SELECT nationkey, day, rev_cents, roll_n,
         {_BB_MEAN} AS mean7, {_BB_SD} AS sd7
  FROM rolled
),
full_ AS (
  SELECT *, {_BB_UP} AS upper_band, {_BB_LO} AS lower_band FROM banded
)
SELECT nationkey, day, rev_cents, roll_n, mean7, sd7, upper_band, lower_band,
       {_BB_OUT} AS is_outlier
FROM full_
"""


@workload("timeseries_bollinger_bands", oracle=_BB_ORACLE)
def timeseries_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger volatility bands over each nation's daily revenue
    series: 7-observation rolling mean and sample standard deviation
    (exact BIGINT cents sums; the squared-sum rides DECIMAL(38,0)
    because cents^2 overflows int64 at warehouse scale), bands at
    mean +/- 2 sd, and an outlier flag for days that pierce a band —
    the classic control-chart / anomaly-band primitive. Bands are NULL
    until a full 7-day history exists (trading-days semantics: the
    window counts OBSERVED days per nation). The rolling windows
    partition by nation — many independent series, never a global sort;
    all band arithmetic is one fixed shared double expression over the
    exact rolling sums."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    cents = F.expr(_CENTS_O)
    daily = (
        o.join(F.broadcast(c.select("c_custkey", "c_nationkey")),
               o["o_custkey"] == F.col("c_custkey"))
        .groupBy(
            F.col("c_nationkey").alias("nationkey"),
            F.col("o_orderdate").cast("date").alias("day"),
        )
        .agg(F.sum(cents).cast("long").alias("rev_cents"))
    )
    w = Window.partitionBy("nationkey").orderBy("day").rowsBetween(-6, 0)
    rolled = daily.select(
        "nationkey",
        "day",
        "rev_cents",
        F.count(F.lit(1)).over(w).cast("long").alias("roll_n"),
        F.sum("rev_cents").over(w).cast("long").alias("roll_s"),
        F.sum(F.col("rev_cents").cast("decimal(38,0)") * F.col("rev_cents"))
        .over(w)
        .cast("decimal(38,0)")
        .alias("roll_ssq"),
    )
    banded = rolled.withColumn("mean7", F.expr(_BB_MEAN)).withColumn(
        "sd7", F.expr(_BB_SD)
    )
    full = banded.withColumn("upper_band", F.expr(_BB_UP)).withColumn(
        "lower_band", F.expr(_BB_LO)
    )
    return full.select(
        "nationkey",
        "day",
        "rev_cents",
        "roll_n",
        "mean7",
        "sd7",
        "upper_band",
        "lower_band",
        F.expr(_BB_OUT).alias("is_outlier"),
    )


# --------------------------------------------------------------------------
# C193 — MoM / YoY growth via calendar-shifted self-joins (window-free)
# --------------------------------------------------------------------------

_GROWTH_EXPRS = {
    "mom": "CAST(rev_cents - prev_cents AS DOUBLE) / CAST(prev_cents AS DOUBLE)",
    "yoy": "CAST(rev_cents - yoy_cents AS DOUBLE) / CAST(yoy_cents AS DOUBLE)",
}

_MOMYOY_ORACLE = f"""
WITH monthly AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         CAST(SUM({_CENTS_O}) AS BIGINT) AS rev_cents
  FROM orders GROUP BY 1
),
joined AS (
  SELECT c.month, c.rev_cents,
         p.rev_cents AS prev_cents,
         y.rev_cents AS yoy_cents
  FROM monthly c
  LEFT JOIN monthly p ON p.month + INTERVAL 1 MONTH = c.month
  LEFT JOIN monthly y ON y.month + INTERVAL 12 MONTH = c.month
)
SELECT month, rev_cents, prev_cents, yoy_cents,
       {_GROWTH_EXPRS["mom"]} AS mom_growth,
       {_GROWTH_EXPRS["yoy"]} AS yoy_growth
FROM joined
"""


@workload("timeseries_mom_yoy_growth", oracle=_MOMYOY_ORACLE)
def timeseries_mom_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month and year-over-year revenue growth WITHOUT any
    window function: the monthly aggregate self-joins on calendar-
    shifted month keys (m-1, m-12), so the series needs no ordering
    guarantee and no single-partition sort — the period-over-period
    pattern that scales to per-key series by just adding the key to the
    join. Growth rates are one fixed division of exact cents deltas;
    series-start months carry NULLs (LEFT joins), matching standard BI
    semantics."""
    o = load_table(spark, sf_dir, "orders")
    monthly = (
        o.groupBy(
            F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month")
        )
        .agg(F.sum(F.expr(_CENTS_O)).cast("long").alias("rev_cents"))
    )
    c = monthly.alias("c")
    p = monthly.select(
        F.add_months(F.col("month"), 1).alias("month"),
        F.col("rev_cents").alias("prev_cents"),
    )
    y = monthly.select(
        F.add_months(F.col("month"), 12).alias("month"),
        F.col("rev_cents").alias("yoy_cents"),
    )
    joined = c.join(F.broadcast(p), "month", "left").join(
        F.broadcast(y), "month", "left"
    )
    return joined.select(
        "month",
        "rev_cents",
        "prev_cents",
        "yoy_cents",
        F.expr(_GROWTH_EXPRS["mom"]).alias("mom_growth"),
        F.expr(_GROWTH_EXPRS["yoy"]).alias("yoy_growth"),
    )


# --------------------------------------------------------------------------
# C206 — classical additive decomposition (trend + seasonal + remainder)
# --------------------------------------------------------------------------

_DEC_REM = "CAST(resid_x7 AS DOUBLE) - seasonal_x7"

_DEC_ORACLE = f"""
WITH daily AS (
  SELECT c.c_nationkey AS nationkey,
         CAST(o.o_orderdate AS DATE) AS day,
         CAST(SUM({_CENTS_O}) AS BIGINT) AS rev_cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY c.c_nationkey, CAST(o.o_orderdate AS DATE)
),
rolled AS (
  SELECT nationkey, day, rev_cents,
         CAST(COUNT(*) OVER w AS BIGINT) AS roll_n,
         CAST(SUM(rev_cents) OVER w AS BIGINT) AS trend_x7
  FROM daily
  WINDOW w AS (PARTITION BY nationkey ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
detrended AS (
  SELECT nationkey, day, rev_cents, trend_x7,
         CAST(7 * rev_cents - trend_x7 AS BIGINT) AS resid_x7,
         date_diff('day', DATE '1970-01-01', day) % 7 AS dow
  FROM rolled WHERE roll_n = 7
),
seasonal AS (
  SELECT nationkey, dow,
         CAST(SUM(resid_x7) AS DOUBLE) / COUNT(*) AS seasonal_x7
  FROM detrended GROUP BY nationkey, dow
)
SELECT d.nationkey, d.day, d.rev_cents, d.trend_x7,
       d.resid_x7, s.seasonal_x7,
       {_DEC_REM} AS remainder_x7
FROM detrended d
JOIN seasonal s ON d.nationkey = s.nationkey AND d.dow = s.dow
"""


@workload("timeseries_classical_decomposition", oracle=_DEC_ORACLE)
def timeseries_classical_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of each nation's daily revenue:
    trend (7-day CENTERED rolling mean), weekday seasonal component
    (mean detrended value per nation x day-of-week), and remainder —
    the moving-average decomposition STL refines. Every per-row
    quantity stays EXACT-INT by scaling by 7 (trend_x7 is the rolling
    sum itself; resid_x7 = 7*rev - trend_x7), so the only doubles are
    one seasonal-mean division per (nation, dow) and one fixed per-row
    subtraction — group aggregation order can never leak into the
    hash. Windows partition by nation (many independent series); the
    seasonal join is (nation, dow)-keyed."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    daily = (
        o.join(F.broadcast(c.select("c_custkey", "c_nationkey")),
               o["o_custkey"] == F.col("c_custkey"))
        .groupBy(
            F.col("c_nationkey").alias("nationkey"),
            F.col("o_orderdate").cast("date").alias("day"),
        )
        .agg(F.sum(F.expr(_CENTS_O)).cast("long").alias("rev_cents"))
    )
    w = Window.partitionBy("nationkey").orderBy("day").rowsBetween(-3, 3)
    rolled = daily.select(
        "nationkey",
        "day",
        "rev_cents",
        F.count(F.lit(1)).over(w).cast("long").alias("roll_n"),
        F.sum("rev_cents").over(w).cast("long").alias("trend_x7"),
    )
    detrended = rolled.filter(F.col("roll_n") == 7).select(
        "nationkey",
        "day",
        "rev_cents",
        "trend_x7",
        (7 * F.col("rev_cents") - F.col("trend_x7")).cast("long").alias("resid_x7"),
        F.pmod(
            F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")), F.lit(7)
        ).alias("dow"),
    )
    seasonal = detrended.groupBy("nationkey", "dow").agg(
        (F.sum("resid_x7").cast("double") / F.count(F.lit(1))).alias("seasonal_x7")
    )
    return detrended.join(seasonal, ["nationkey", "dow"]).select(
        "nationkey",
        "day",
        "rev_cents",
        "trend_x7",
        "resid_x7",
        "seasonal_x7",
        F.expr(_DEC_REM).alias("remainder_x7"),
    )


# --------------------------------------------------------------------------
# C210 — LOCF (last observation carried forward) over a calendar spine
# --------------------------------------------------------------------------
_LOCF_ORACLE = f"""
WITH RECURSIVE daily AS (
  SELECT c.c_nationkey AS nationkey,
         CAST(o.o_orderdate AS DATE) AS day,
         CAST(SUM({_CENTS_O}) AS BIGINT) AS rev_cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
),
span AS (
  SELECT nationkey, MIN(day) AS mn, MAX(day) AS mx FROM daily GROUP BY 1
),
bounds AS (SELECT MIN(day) AS mn, MAX(day) AS mx FROM daily),
g AS (
  SELECT mn AS day, mx FROM bounds
  UNION ALL
  SELECT CAST(day + INTERVAL 1 DAY AS DATE), mx FROM g WHERE day < mx
),
spine AS (
  SELECT s.nationkey, g.day
  FROM span s JOIN g ON g.day BETWEEN s.mn AND s.mx
)
SELECT sp.nationkey, sp.day,
       d.rev_cents AS rev_cents,
       last_value(d.rev_cents IGNORE NULLS) OVER (
         PARTITION BY sp.nationkey ORDER BY sp.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rev_filled,
       (d.rev_cents IS NULL) AS is_gap
FROM spine sp LEFT JOIN daily d
  ON d.nationkey = sp.nationkey AND d.day = sp.day
"""


@workload("timeseries_locf_fill", oracle=_LOCF_ORACLE)
def timeseries_locf_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCF GAP FILL: each nation's daily revenue series densified over
    its own calendar spine (sequence/explode — generated, never stored)
    with missing days carried forward via last_value(IGNORE NULLS) —
    the step-function fill finance and metrics pipelines use where
    C1's linear interpolation is wrong (a balance stays constant until
    restated, it doesn't glide). One shuffle to the (nation) keyed
    window; the spine explode is per-nation and never global."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    daily = (
        o.join(
            F.broadcast(c.select("c_custkey", "c_nationkey")),
            o["o_custkey"] == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_nationkey").alias("nationkey"),
            F.col("o_orderdate").cast("date").alias("day"),
        )
        .agg(F.sum(F.expr(_CENTS_O)).cast("long").alias("rev_cents"))
    )
    spine = (
        daily.groupBy("nationkey")
        .agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
        .select(
            "nationkey",
            F.explode(
                F.sequence("mn", "mx", F.expr("INTERVAL 1 DAY"))
            ).alias("day"),
        )
    )
    w = (
        Window.partitionBy("nationkey")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(daily, ["nationkey", "day"], "left")
        .select(
            "nationkey",
            "day",
            "rev_cents",
            F.last("rev_cents", ignorenulls=True).over(w).alias("rev_filled"),
            F.col("rev_cents").isNull().alias("is_gap"),
        )
    )


# --------------------------------------------------------------------------
# Recursive CTE (WITH RECURSIVE, Spark 4.x): date-spine gap filling
# --------------------------------------------------------------------------
@workload(
    "timeseries_recursive_date_spine",
    oracle="""
WITH RECURSIVE spine(day) AS (
  SELECT DATE '1995-01-01'
  UNION ALL
  SELECT day + 1 FROM spine WHERE day < DATE '1995-02-28'
),
daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
    AND o_orderdate < TIMESTAMP '1995-03-01'
  GROUP BY CAST(o_orderdate AS DATE)
)
SELECT s.day, COALESCE(d.n_orders, 0) AS n_orders,
       COALESCE(d.revenue, 0.0) AS revenue
FROM spine s LEFT JOIN daily d ON s.day = d.day
""",
)
def timeseries_recursive_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (WITH RECURSIVE — Spark 4.x SQL surface): generate a
    dense daily date spine, left-join sparse per-day order aggregates, and
    gap-fill with zeros — the dense-time-series shape every monitoring /
    feature pipeline needs. Recursion is monotone (day+1 to a bound), so
    it terminates within the engine's recursion budget; a 59-row spine
    joined broadcast against the aggregated side."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_spine_src")
    return spark.sql("""
WITH RECURSIVE spine(day) AS (
  SELECT DATE '1995-01-01'
  UNION ALL
  SELECT date_add(day, 1) FROM spine WHERE day < DATE '1995-02-28'
),
daily AS (
  SELECT to_date(o_orderdate) AS day, COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
  FROM orders_spine_src
  WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
    AND o_orderdate < TIMESTAMP '1995-03-01 00:00:00'
  GROUP BY to_date(o_orderdate)
)
SELECT s.day, COALESCE(d.n_orders, 0) AS n_orders,
       COALESCE(d.revenue, CAST(0.0 AS DOUBLE)) AS revenue
FROM spine s LEFT JOIN daily d ON s.day = d.day
""")
