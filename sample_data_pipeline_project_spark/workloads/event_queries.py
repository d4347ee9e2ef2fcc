"""Event workloads: JSON extraction (B5) and event-time windows (B6, batch).

`events.props` is a JSON string; `events.ts` the event-time column. The
batch forms here (tumbling via `window()`, session via `session_window()`)
are the same expressions the streaming module (streaming/eventtime.py)
runs incrementally with a watermark — Spark's batch/streaming unification
means one definition serves both.

Sketches (bitmap, KMV, Misra-Gries, HLL, approximate distinct and
quantiles) certify against exact answers or provable bounds:
  - bitmap-distinct blocks are mergeable exact sketches: 62 users per
    BIGINT block, bit_or as the (commutative, map-side-combinable) merge —
    a 62x shuffle reduction over raw ids, and the roaring-bitmap shape for
    exact COUNT DISTINCT; its streaming twin shares the oracle;
  - KMV hashes values with the portable md5-u32 fragment, so the k-th
    smallest hash is the same integer on both engines;
  - Misra-Gries counter VALUES depend on the (deterministic) shard layout
    but are not oracle-stateable; the workload certifies the sketch's
    provable invariants instead (guaranteed-present set via the
    all-integer predicate true*(k+1) > n, underestimation, and the n/(k+1)
    error bound).

Event analytics (funnels, retention, cohorts, RFM, growth accounting,
interarrival percentiles, adoption curves, pivots) keep counts exact:
  - pivot columns are a FIXED literal list (the five event types), never
    inferred — inference would add a full extra pass AND make the output
    schema data-dependent;
  - growth accounting classifies each (user, week) row against the user's
    own lagged week (user-partitioned windows); week truncation is
    Monday-start on both engines, cast to DATE;
  - cumulative curves use the bucketed cumsum ((type, month) offsets +
    bucket-partitioned windows), so a full-history running total never
    rides a single-partition window;
  - interarrival percentiles reuse the exact PERCENTILE_CONT
    interpolation contract of percentile_cont_exact.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sample_data_pipeline_project_spark.functions.text import md5_prefix_uint32_sql
from sample_data_pipeline_project_spark.operators.heavyhitters import mg_summary
from sample_data_pipeline_project_spark.operators.materialize import (
    iterate,
    materialize,
)
from sample_data_pipeline_project_spark.operators.ranks import bucketed_global_rank
from sample_data_pipeline_project_spark.sources.catalog import load_table
from sample_data_pipeline_project_spark.workloads import workload


@workload(
    "events_json_extract",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
""",
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B5 — JSON extraction with a schema (`from_json`), then grouped
    integer aggregates (exact; no float hazards)."""
    e = load_table(spark, sf_dir, "events")
    props_schema = T.StructType([T.StructField("k", T.LongType())])
    k = F.from_json(F.col("props"), props_schema)["k"]
    return (
        e.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


@workload(
    "events_hourly_tumbling",
    oracle="""
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
       COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY date_trunc('hour', ts), event_type
""",
)
def events_hourly_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B6 — 1-hour tumbling event-time window via Spark's `window()` (the
    same expression streams with a watermark). Hour-aligned tumbling window
    start == date_trunc('hour'), which is the oracle's formulation."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "1 hour").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
            F.count_distinct(F.col("user_id")).alias("n_users"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
            "n_users",
        )
    )


_SLIDING_ORACLE = """
WITH offsets AS (SELECT * FROM (VALUES (0), (1800)) AS t(off)),
slid AS (
  SELECT e.*,
         make_timestamp((((floor((epoch(e.ts) - o.off) / 3600) * 3600)::BIGINT + o.off) * 1000000)::BIGINT) AS window_start
  FROM events e CROSS JOIN offsets o
)
SELECT window_start, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM slid
GROUP BY window_start
"""


@workload("events_sliding_window", oracle=_SLIDING_ORACLE)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B6 — sliding window (1 hour length, 30 min slide): every event lands
    in 2 windows. Spark's window() materializes the window struct; the
    oracle replicates via the two aligned offsets."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n_events",
            "sum_value",
        )
    )


@workload(
    "events_sessionization",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 6 HOUR
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_new_session
  FROM events
),
sessions AS (
  SELECT user_id, ts, event_id,
         CAST(SUM(is_new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
  FROM flagged
)
SELECT user_id, session_seq,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       COUNT(*) AS n_events
FROM sessions
GROUP BY user_id, session_seq
""",
)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B6 — sessionization (6h inactivity gap) via the lag/flag/cumsum
    islands idiom: one shuffle on user_id serves both windows and the final
    group-by (co-partitioned — no extra exchange)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    prev_ts = F.lag("ts").over(w)
    is_new = F.when(
        prev_ts.isNull()
        | (F.col("ts") > prev_ts + F.expr("INTERVAL 6 HOURS")),
        1,
    ).otherwise(0)
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        e.withColumn("is_new_session", is_new)
        .withColumn("session_seq", F.sum("is_new_session").over(wsum))
        .groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@workload(
    "agg_salted_event_type",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY event_type
""",
)
def agg_salted_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-stage aggregation: event_type has only 5 values, so a
    single groupBy funnels everything through 5 reducers. Stage 1 groups on
    (event_type, salt) spreading each hot key over 16 reducers; stage 2
    merges the partials. Results are identical to the plain GROUP BY (the
    oracle) because count/decimal-sum are associative — the salt only
    changes the shuffle topology. This is the manual form of what AQE
    skew-join splitting does for joins."""
    e = load_table(spark, sf_dir, "events")
    salted = e.withColumn("__salt", F.pmod(F.col("event_id"), F.lit(16)))
    partial = salted.groupBy("event_type", "__salt").agg(
        F.count(F.lit(1)).alias("pc"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("ps"),
    )
    return partial.groupBy("event_type").agg(
        F.sum("pc").alias("n_events"),
        F.sum("ps").cast("double").alias("sum_value"),
    )


@workload(
    "events_hypertable_rollup",
    oracle="""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS bucket_start,
         COUNT(*) AS n_events,
         SUM(CAST(value AS DECIMAL(18,6))) AS sum_dec
  FROM events
  GROUP BY date_trunc('hour', ts)
)
SELECT 'hour' AS resolution, bucket_start, n_events,
       CAST(sum_dec AS DOUBLE) AS sum_value
FROM hourly
UNION ALL
SELECT 'day' AS resolution, date_trunc('day', bucket_start) AS bucket_start,
       CAST(SUM(n_events) AS BIGINT) AS n_events,
       CAST(SUM(sum_dec) AS DOUBLE) AS sum_value
FROM hourly GROUP BY date_trunc('day', bucket_start)
UNION ALL
SELECT 'week' AS resolution, date_trunc('week', bucket_start) AS bucket_start,
       CAST(SUM(n_events) AS BIGINT) AS n_events,
       CAST(SUM(sum_dec) AS DOUBLE) AS sum_value
FROM hourly GROUP BY date_trunc('week', bucket_start)
""",
)
def events_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup (hour -> day -> week), the
    continuous-aggregate pattern of time-series stores: only the HOUR tier
    reads the raw events; each coarser tier RE-AGGREGATES the next finer
    tier (count/decimal-sum are associative, so results are identical to
    aggregating raw). At 100 TB that is the difference between scanning the
    fact table once vs three times — the coarser rollups touch only
    |hours| rows. Partials stay DECIMAL until each tier's final DOUBLE
    cast."""
    e = load_table(spark, sf_dir, "events")
    # one tiny table (|hours| rows) feeds all three output tiers
    hourly = materialize(
        e.groupBy(F.date_trunc("hour", F.col("ts")).alias("bucket_start"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("sum_dec"),
        ),
        "cache",
    )

    def tier(df: DataFrame, res: str) -> DataFrame:
        return df.select(
            F.lit(res).alias("resolution"),
            "bucket_start",
            "n_events",
            F.col("sum_dec").cast("double").alias("sum_value"),
        )

    def coarsen(df: DataFrame, unit: str) -> DataFrame:
        return (
            df.groupBy(F.date_trunc(unit, F.col("bucket_start")).alias("bucket_start"))
            .agg(F.sum("n_events").alias("n_events"), F.sum("sum_dec").alias("sum_dec"))
        )

    daily = coarsen(hourly, "day")
    weekly = coarsen(daily, "week")
    return tier(hourly, "hour").unionAll(tier(daily, "day")).unionAll(
        tier(weekly, "week")
    )


@workload(
    "sketch_approx_distinct_users",
    oracle="""
SELECT event_type,
       COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS approx_ok
FROM events
GROUP BY event_type
""",
)
def sketch_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch tier — HyperLogLog++ distinct-user counts per event type next
    to the exact count. O(1) memory per group vs the exact count's
    O(distinct) state: the sketch is what survives on an unbounded stream
    or a 100 TB groupBy. The estimate itself is implementation-defined, so
    the hashed projection certifies it instead: approx_ok asserts the
    estimate lands within 5% of the exact count (rsd=0.02; measured error
    is <=0.4% at sf0.1), which the oracle states as a constant TRUE — a
    degraded sketch flips the boolean and fails the hash."""
    e = load_table(spark, sf_dir, "events")
    approx = F.approx_count_distinct("user_id", rsd=0.02)
    exact = F.count_distinct("user_id")
    return (
        e.groupBy("event_type")
        .agg(approx.alias("approx_users"), exact.alias("exact_users"))
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("approx_ok"),
        )
        .orderBy("event_type")
    )


@workload(
    "cogroup_prior_view_counts",
    oracle="""
SELECT c.user_id, c.event_id AS click_id, c.ts AS click_ts,
       (SELECT COUNT(*) FROM events v
        WHERE v.event_type = 'view' AND v.user_id = c.user_id
          AND v.ts < c.ts) AS prior_views
FROM events c
WHERE c.event_type = 'click'
""",
)
def cogroup_prior_view_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped applyInPandas (operators/cogrouped.py) in its scale shape:
    both tables shuffled on user-BUCKET (user_id % 64), one Arrow call per
    bucket with a vectorized per-user lexsort+cumsum kernel inside — a
    bounded number of Python invocations instead of one per user.
    Hash-matched against the correlated-COUNT SQL formulation."""
    from sample_data_pipeline_project_spark.operators.cogrouped import (
        clicks_with_prior_view_counts,
    )

    return clicks_with_prior_view_counts(
        load_table(spark, sf_dir, "events"), n_buckets=64
    )


@workload(
    "sketch_hll_mergeable_rollup",
    oracle="""
SELECT event_type,
       COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS union_ok
FROM events
GROUP BY event_type
""",
)
def sketch_hll_mergeable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch tier — MERGEABLE HyperLogLog (Apache DataSketches via
    hll_sketch_agg/hll_union_agg): per (event_type, hour) binary sketches
    are built once, then re-aggregated to event_type level by sketch UNION
    — the pre-aggregated sketch-table pattern that makes 100 TB distinct
    counts incremental (store hour-grain sketches, answer any coarser
    rollup without touching raw data). The unioned estimate is
    implementation-defined, so the hashed projection certifies it:
    union_ok asserts the union-of-hourly-sketches estimate lands within
    5% of the exact count (lgK=14 => rse ~0.8%; measured 0% at sf0.1);
    the oracle states the invariant as TRUE."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.expr("hll_sketch_agg(user_id, 14)").alias("sketch"))
    unioned = hourly.groupBy("event_type").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sketch, true))").alias(
            "approx_users"
        )
    )
    exact = e.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    return (
        unioned.join(exact, "event_type")
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("union_ok"),
        )
        .orderBy("event_type")
    )


@workload(
    "join_salted_events_segment",
    oracle="""
SELECT c.c_mktsegment AS segment,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
""",
)
def join_salted_events_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted equi-join (operators/skewjoin.py): events join
    customer on user_id with the fact side salted over 16 shards and the
    dim replicated to meet every shard, then segment totals. Identical
    rows to the plain join (the oracle); only the shuffle topology
    changes — no single reducer owns a hot user. The dim replication is
    deliberately NOT broadcast here: this is the pattern for the middle
    regime where the dim exceeds the broadcast threshold."""
    from sample_data_pipeline_project_spark.operators.skewjoin import salted_join

    e = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("c_custkey"), "value"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = salted_join(e, c, key="c_custkey", salt_from="c_custkey", n_salts=16)
    return joined.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )


@workload(
    "events_funnel_conversion",
    oracle="""
WITH v AS (
  SELECT user_id, MIN(ts) AS first_view
  FROM events WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, MIN(e.ts) AS first_click
  FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.first_view
  WHERE e.event_type = 'click' GROUP BY e.user_id
), p AS (
  SELECT e.user_id, MIN(e.ts) AS first_purchase
  FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.first_click
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT v.user_id, v.first_view, c.first_click, p.first_purchase,
       1 + (c.user_id IS NOT NULL)::INT + (p.user_id IS NOT NULL)::INT AS funnel_depth
FROM v
LEFT JOIN c ON v.user_id = c.user_id
LEFT JOIN p ON v.user_id = p.user_id
""",
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis: per user, the first view, the first click
    strictly AFTER that view, and the first purchase strictly after that
    click — funnel_depth counts completed stages. Each stage is one
    filtered aggregate joined back on user_id; all three stages shuffle on
    the SAME key, so at scale the exchanges reuse one partitioning."""
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("first_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("first_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            "first_view",
            "first_click",
            "first_purchase",
            (
                F.lit(1)
                + F.col("first_click").isNotNull().cast("int")
                + F.col("first_purchase").isNotNull().cast("int")
            ).alias("funnel_depth"),
        )
    )


@workload(
    "events_retention_cohorts",
    oracle="""
WITH s AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
  FROM events WHERE event_type = 'signup' GROUP BY user_id
), a AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week FROM events
)
SELECT s.cohort_week,
       CAST(date_diff('day', s.cohort_week, a.active_week) // 7 AS INT) AS week_offset,
       COUNT(DISTINCT a.user_id) AS n_active
FROM s JOIN a ON a.user_id = s.user_id AND a.active_week >= s.cohort_week
GROUP BY s.cohort_week, week_offset
""",
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-signup week, counted as
    active in each subsequent week (offset 0 = the cohort week itself).
    Two aggregates and one equi-join, all shuffling on user_id; the final
    (cohort, offset) rollup is tiny. COUNT(DISTINCT) here is exact — at
    100 TB swap in the mergeable HLL sketch rollup
    (sketch_hll_mergeable_rollup) for the same shape approximately."""
    e = load_table(spark, sf_dir, "events")
    # DuckDB's date_trunc('week') yields DATE; cast to match its type.
    s = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week"))
    )
    a = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("active_week")
    ).distinct()
    return (
        a.join(s, "user_id")
        .filter(F.col("active_week") >= F.col("cohort_week"))
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(
                    F.col("active_week").cast("date"), F.col("cohort_week").cast("date")
                )
                / F.lit(7)
            )
            .cast("int")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


@workload(
    "events_anomaly_zscore",
    oracle="""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS cnt
  FROM events GROUP BY event_type, date_trunc('hour', ts)
), windowed AS (
  SELECT event_type, hour, cnt,
         SUM(cnt) OVER w AS s1,
         SUM(cnt * cnt) OVER w AS s2,
         COUNT(*) OVER w AS n
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, hour, cnt,
       CASE WHEN CAST(s2 AS DOUBLE) / n
                 - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) > 0
            THEN (cnt - CAST(s1 AS DOUBLE) / n)
                 / sqrt(CAST(s2 AS DOUBLE) / n
                        - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
            ELSE NULL END AS zscore
FROM windowed
WHERE n >= 12
""",
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-shaped anomaly detection in batch: each hour's event
    count scored against the trailing 24h mean/stddev per event_type.
    The window carries EXACT integer partials (sum, sum-of-squares,
    count); the z-score is one fixed-shape IEEE expression over them, so
    Spark and DuckDB agree bit-for-bit — the portable way to hash-check
    float analytics. One shuffle (the hourly rollup); the window rides
    the same event_type partitioning."""
    from pyspark.sql import Window

    hourly = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-24, -1)
    )
    s1 = F.sum("cnt").over(w)
    s2 = F.sum(F.col("cnt") * F.col("cnt")).over(w)
    n = F.count(F.lit(1)).over(w)
    windowed = hourly.select("event_type", "hour", "cnt",
                             s1.alias("s1"), s2.alias("s2"), n.alias("n"))
    mean = F.col("s1").cast("double") / F.col("n")
    var = F.col("s2").cast("double") / F.col("n") - mean * mean
    return (
        windowed.filter(F.col("n") >= 12)
        .select(
            "event_type",
            "hour",
            "cnt",
            F.when(var > 0, (F.col("cnt") - mean) / F.sqrt(var)).alias("zscore"),
        )
    )


@workload(
    "events_variant_agg",
    oracle="""
SELECT event_type,
       COUNT(k) AS n_with_k,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       MIN(k) AS min_k,
       MAX(k) AS max_k
FROM (
  SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS k
  FROM events
)
GROUP BY event_type
""",
)
def events_variant_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT path (Spark 4): props parsed once into the
    binary VARIANT encoding, fields pulled with variant_get — unlike
    repeated get_json_object calls, the JSON text is parsed ONCE per row
    regardless of how many fields are extracted, and the typed access is
    a direct encoded-tree read. The oracle is DuckDB's JSON extraction of
    the same field; the aggregate surface (exact integer stats per
    event_type) is engine-portable."""
    e = load_table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json(F.col("props")), "$.k", "bigint")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


# --------------------------------------------------------------------------
# Event debouncing: suppress rapid same-type repeats per user
# --------------------------------------------------------------------------
_DEBOUNCE_ORACLE = """
WITH lagged AS (
  SELECT event_type,
         CASE WHEN LAG(ts) OVER (PARTITION BY user_id, event_type
                                 ORDER BY ts, event_id) IS NOT NULL
               AND ts - LAG(ts) OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts, event_id)
                   <= INTERVAL 5 MINUTE
              THEN 1 ELSE 0 END AS dropped
  FROM events
)
SELECT event_type,
       COUNT(*) AS n_total,
       CAST(SUM(dropped) AS BIGINT) AS n_dropped,
       CAST(COUNT(*) - SUM(dropped) AS BIGINT) AS n_kept
FROM lagged GROUP BY event_type
"""


@workload("events_debounce", oracle=_DEBOUNCE_ORACLE)
def events_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event DEBOUNCING (duplicate-burst suppression): an event is dropped
    when the previous same-(user, type) event is within 5 minutes —
    the stateless form (compare to the PREVIOUS ROW, not the previous
    kept row: one LAG, no iterative chain), which is what production
    dedup-at-ingest does because it needs O(1) state per key. Windows are
    partitioned by (user_id, event_type); output is the per-type
    kept/dropped audit in exact integers."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    dropped = F.when(
        prev.isNotNull()
        & (F.col("ts") <= prev + F.expr("INTERVAL 5 MINUTE")),
        1,
    ).otherwise(0)
    return (
        e.select("event_type", dropped.alias("dropped"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum("dropped").cast("long").alias("n_dropped"),
            (F.count(F.lit(1)) - F.sum("dropped")).cast("long").alias("n_kept"),
        )
    )


# --------------------------------------------------------------------------
# Event-type co-occurrence (market-basket association mining)
# --------------------------------------------------------------------------
_COOC_ORACLE = """
WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
tot AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM ut),
tc AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_t FROM ut
  GROUP BY event_type
),
pairs AS (
  SELECT a.event_type AS t1, b.event_type AS t2,
         CAST(COUNT(*) AS BIGINT) AS n_both
  FROM ut a JOIN ut b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY a.event_type, b.event_type
)
SELECT p.t1, p.t2, p.n_both, c1.n_t AS n_t1, c2.n_t AS n_t2, t.n_users,
       CAST(p.n_both AS DOUBLE) * CAST(t.n_users AS DOUBLE)
         / (CAST(c1.n_t AS DOUBLE) * CAST(c2.n_t AS DOUBLE)) AS lift
FROM pairs p
JOIN tc c1 ON p.t1 = c1.event_type
JOIN tc c2 ON p.t2 = c2.event_type
CROSS JOIN tot t
"""


@workload("events_type_cooccurrence", _COOC_ORACLE)
def events_type_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket ASSOCIATION MINING over per-user event baskets:
    support and lift for every co-occurring event-type pair (the
    frequent-itemset pair scan, the first FP-growth iteration). The
    user self-join runs on DISTINCT (user, type) rows, so per-user
    fan-out is bounded by the type-domain squared — independent of how
    many raw events a heavy user emits; type totals are a broadcast-
    sized dim. Counts are exact integers; lift is one fixed-shape IEEE
    expression over them."""
    ut = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
    )
    tot = ut.agg(F.count_distinct("user_id").alias("n_users"))
    tc = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_t"))
    a = ut.withColumnsRenamed({"event_type": "t1"})
    b = ut.withColumnsRenamed({"event_type": "t2"})
    pairs = (
        a.join(b, (a.user_id == b.user_id) & (F.col("t1") < F.col("t2")))
        .groupBy("t1", "t2")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    return (
        pairs.join(
            F.broadcast(tc.withColumnsRenamed({"event_type": "t1", "n_t": "n_t1"})),
            "t1",
        )
        .join(
            F.broadcast(tc.withColumnsRenamed({"event_type": "t2", "n_t": "n_t2"})),
            "t2",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "t1",
            "t2",
            F.col("n_both").cast("long"),
            F.col("n_t1").cast("long"),
            F.col("n_t2").cast("long"),
            F.col("n_users").cast("long"),
            (
                F.col("n_both").cast("double")
                * F.col("n_users").cast("double")
                / (F.col("n_t1").cast("double") * F.col("n_t2").cast("double"))
            ).alias("lift"),
        )
    )


# --------------------------------------------------------------------------
# Semi-structured schema discovery: JSON key space of props
# --------------------------------------------------------------------------
_KEYSPACE_ORACLE = """
WITH keysx AS (
  SELECT unnest(json_keys(props::JSON)) AS json_key FROM events
  WHERE props IS NOT NULL
)
SELECT json_key, CAST(COUNT(*) AS BIGINT) AS n_rows
FROM keysx GROUP BY json_key
"""


@workload("events_json_keyspace", oracle=_KEYSPACE_ORACLE)
def events_json_keyspace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured SCHEMA DISCOVERY: enumerate the JSON key space of
    `events.props` with per-key row counts — the profiling step that
    decides which keys deserve promotion to typed columns (the
    events_variant_agg path) on an evolving feed. json_object_keys runs
    JVM-side per row; the aggregate key domain is the schema size, not
    the row count, so the shuffle is bounded by the feed's real key
    vocabulary at any scale."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.filter(F.col("props").isNotNull())
        .select(F.explode(F.json_object_keys("props")).alias("json_key"))
        .groupBy("json_key")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    )


# --------------------------------------------------------------------------
# Gaps-and-islands: longest consecutive-day activity streak per user
# --------------------------------------------------------------------------
_STREAK_ORACLE = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
keyed AS (
  SELECT user_id, day,
         day - CAST(ROW_NUMBER() OVER (
           PARTITION BY user_id ORDER BY day
         ) AS INTEGER) AS island_key
  FROM days
),
islands AS (
  SELECT user_id, island_key,
         CAST(COUNT(*) AS BIGINT) AS streak_days,
         MIN(day) AS streak_start,
         MAX(day) AS streak_end
  FROM keyed GROUP BY user_id, island_key
),
best AS (
  SELECT user_id, streak_days, streak_start, streak_end,
         ROW_NUMBER() OVER (
           PARTITION BY user_id
           ORDER BY streak_days DESC, streak_start ASC
         ) AS rn
  FROM islands
)
SELECT user_id, streak_days, streak_start, streak_end
FROM best WHERE rn = 1
"""


@workload("events_activity_streaks", oracle=_STREAK_ORACLE)
def events_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GAPS-AND-ISLANDS: each user's longest run of consecutive active
    days, via the classic day-minus-row_number island key (consecutive
    days share a constant key; any gap shifts it). The raw stream first
    collapses to DISTINCT (user, day) — calendar-bounded per user — so
    every window rides the user partitioning over at most |days| rows;
    the longest-streak pick is a per-user rank with a deterministic
    (streak_days DESC, streak_start) tiebreak. Integer/date arithmetic
    only. The engine-side twin of the reference's ledger gap check
    (A13), pointed at activity data instead of run windows."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    days = e.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    keyed = days.withColumn(
        "island_key",
        F.date_sub(F.col("day"), F.row_number().over(w)),
    )
    islands = keyed.groupBy("user_id", "island_key").agg(
        F.count(F.lit(1)).cast("long").alias("streak_days"),
        F.min("day").alias("streak_start"),
        F.max("day").alias("streak_end"),
    )
    wb = Window.partitionBy("user_id").orderBy(
        F.col("streak_days").desc(), F.col("streak_start").asc()
    )
    return (
        islands.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") == 1)
        .select("user_id", "streak_days", "streak_start", "streak_end")
    )


# --------------------------------------------------------------------------
# HLL set-intersection: audience overlap via inclusion-exclusion
# --------------------------------------------------------------------------
@workload(
    "sketch_hll_intersection",
    oracle="""
WITH ut AS (SELECT DISTINCT user_id, event_type FROM events)
SELECT x.event_type AS type_a, y.event_type AS type_b,
       COUNT(DISTINCT x.user_id) AS exact_both,
       TRUE AS inter_ok
FROM ut x JOIN ut y ON x.user_id = y.user_id AND x.event_type < y.event_type
GROUP BY x.event_type, y.event_type
""",
)
def sketch_hll_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap between every event-type pair by HLL
    inclusion-exclusion: |A∩B| ≈ est(A) + est(B) − est(A ∪ B), with the
    pairwise union taken by the scalar two-sketch `hll_union` over
    per-type sketches built ONCE (one mergeable-agg shuffle; the pair
    cross-product is |types|², a constant). This is the production path
    at 100 TB — store per-type sketches, answer any pairwise overlap
    without touching raw data; the exact side here exists only to
    certify it. `inter_ok` asserts the sketch estimate lands within
    5% of the exact UNION size + 1 (inclusion-exclusion error scales
    with the union, not the intersection); the oracle states the
    invariant as TRUE over the exact intersection counts."""
    e = load_table(spark, sf_dir, "events")
    per_type = e.groupBy("event_type").agg(
        F.expr("hll_sketch_agg(user_id, 14)").alias("sketch"),
        F.count_distinct("user_id").alias("exact_n"),
    )
    a = per_type.select(
        F.col("event_type").alias("type_a"),
        F.col("sketch").alias("sk_a"),
        F.col("exact_n").alias("n_a"),
    )
    b = per_type.select(
        F.col("event_type").alias("type_b"),
        F.col("sketch").alias("sk_b"),
        F.col("exact_n").alias("n_b"),
    )
    pairs = a.join(b, F.col("type_a") < F.col("type_b"))
    ut = e.select("user_id", "event_type").distinct()
    both = (
        ut.alias("x")
        .join(
            ut.alias("y"),
            (F.col("x.user_id") == F.col("y.user_id"))
            & (F.col("x.event_type") < F.col("y.event_type")),
        )
        .groupBy(
            F.col("x.event_type").alias("type_a"),
            F.col("y.event_type").alias("type_b"),
        )
        .agg(F.count_distinct("x.user_id").alias("exact_both"))
    )
    approx = (
        F.expr("hll_sketch_estimate(sk_a)")
        + F.expr("hll_sketch_estimate(sk_b)")
        - F.expr("hll_sketch_estimate(hll_union(sk_a, sk_b))")
    )
    exact_union = F.col("n_a") + F.col("n_b") - F.col("exact_both")
    return pairs.join(both, ["type_a", "type_b"]).select(
        "type_a",
        "type_b",
        "exact_both",
        (F.abs(approx - F.col("exact_both")) <= 0.05 * exact_union + 1).alias(
            "inter_ok"
        ),
    )


# --------------------------------------------------------------------------
# Time-weighted average (TWAP): duration-weighted value per user-day
# --------------------------------------------------------------------------
@workload(
    "timeseries_twap",
    oracle="""
WITH seq AS (
  SELECT user_id, CAST(ts AS DATE) AS day, ts, value,
         LEAD(ts) OVER (PARTITION BY user_id, CAST(ts AS DATE)
                        ORDER BY ts, event_id) AS next_ts
  FROM events
),
weighted AS (
  SELECT user_id, day,
         CAST(epoch_us(COALESCE(next_ts, CAST(day + 1 AS TIMESTAMP)))
              - epoch_us(ts) AS BIGINT) AS dur_us,
         CAST(CAST(value AS DECIMAL(18,6)) AS DECIMAL(24,6)) AS v
  FROM seq
)
SELECT user_id, day,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(dur_us) AS BIGINT) AS total_us,
       ROUND(CAST(SUM(v * CAST(dur_us AS DECIMAL(13,0))) AS DOUBLE)
             / CAST(CAST(SUM(dur_us) AS BIGINT) AS DOUBLE), 9) AS twap
FROM weighted
GROUP BY user_id, day
""",
)
def timeseries_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average price (TWAP) per user-day: each event's
    value is weighted by its holding duration — microseconds until the
    next event in the same user-day, the last event running to midnight.
    The LEAD window is partitioned by (user_id, day) with a (ts,
    event_id) tiebreak — calendar-bounded partitions, no global sort.
    Exactness contract: durations are exact BIGINT microseconds, values
    go through DECIMAL(18,6), the weighted sum is an exact DECIMAL(38,6)
    — the only float math is ONE final division, guarded by ROUND(_,9)
    because the scaled sum exceeds 2^53 (DuckDB's DECIMAL→DOUBLE
    double-rounds there; the repo's ln-output guard applies)."""
    e = load_table(spark, sf_dir, "events")
    day = F.col("ts").cast("date").alias("day")
    w = Window.partitionBy("user_id", F.col("ts").cast("date")).orderBy(
        "ts", "event_id"
    )
    seq = e.select(
        "user_id",
        day,
        "ts",
        "event_id",
        F.col("value").cast("decimal(18,6)").cast("decimal(24,6)").alias("v"),
        F.lead("ts").over(w).alias("next_ts"),
    )
    dur_us = (
        F.unix_micros(
            F.coalesce(
                F.col("next_ts").cast("timestamp"),
                F.date_add("day", 1).cast("timestamp"),
            )
        )
        - F.unix_micros(F.col("ts").cast("timestamp"))
    ).cast("long")
    weighted = seq.select(
        "user_id", "day", dur_us.alias("dur_us"), "v"
    )
    return weighted.groupBy("user_id", "day").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("dur_us").cast("long").alias("total_us"),
        F.round(
            F.sum(F.col("v") * F.col("dur_us").cast("decimal(13,0)")).cast("double")
            / F.sum("dur_us").cast("long").cast("double"),
            9,
        ).alias("twap"),
    )


# --------------------------------------------------------------------------
# Sequential pattern mining: top event-type trigrams
# --------------------------------------------------------------------------
_TRIGRAM_TOP = 10

_TRIGRAM_ORACLE = f"""
WITH seq AS (
  SELECT user_id, event_type AS t1,
         LEAD(event_type, 1) OVER w AS t2,
         LEAD(event_type, 2) OVER w AS t3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT t1, t2, t3, CAST(COUNT(*) AS BIGINT) AS n
FROM seq WHERE t3 IS NOT NULL
GROUP BY t1, t2, t3
ORDER BY n DESC, t1, t2, t3
LIMIT {_TRIGRAM_TOP}
"""


@workload("events_trigram_patterns", oracle=_TRIGRAM_ORACLE)
def events_trigram_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENTIAL PATTERN MINING: the top-{k} most frequent ordered
    event-type TRIGRAMS across user sessions (the 3-step extension of the
    C3 Markov transition matrix — which multi-step behavioral paths
    dominate). Two LEAD windows ride user-partitioned, (ts, event_id)-
    deterministic ordering; the trigram aggregate is bounded by
    |types|^3 cells; top-k goes through orderBy().limit() —
    TakeOrderedAndProject with a full-column tiebreak, never a global
    rank window."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql.window import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).filter(F.col("t3").isNotNull())
    return (
        seq.groupBy("t1", "t2", "t3")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "t1", "t2", "t3")
        .limit(_TRIGRAM_TOP)
    )


# --------------------------------------------------------------------------
# Array-valued per-user recent history (array aggregation parity)
# --------------------------------------------------------------------------
_HIST_K = 3

_HIST_ORACLE = f"""
WITH ranked AS (
  SELECT user_id, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id,
       array_to_string(list_sort(list(event_id)), ',') AS recent_event_ids,
       CAST(COUNT(*) AS BIGINT) AS n_recent
FROM ranked WHERE rn <= {_HIST_K}
GROUP BY user_id
"""


@workload("events_recent_history_array", oracle=_HIST_ORACLE)
def events_recent_history_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user recent history: each user's {k} most recent event ids
    materialized as a SORTED sequence — the feature-store "recent
    history" shape (one row per user). The top-k ranks ride
    user-partitioned windows with a unique (ts, event_id) tiebreak; the
    sequence is sorted ascending on both engines so collect order can't
    leak into the value hash, then serialized to ONE comma-joined STRING
    column — the driver's pandas canonicalizer cannot sort/factorize
    list cells (r04 red row on features_hashing_trick proved raw arrays
    hash only in the repo's local checker), so the final schema stays
    scalar. Engine users get the typed array<bigint> form from
    operators/features.py recent_history(as_array=True) — the same plan
    minus this serialization step."""
    from sample_data_pipeline_project_spark.operators.features import (
        recent_history,
    )

    ev = load_table(spark, sf_dir, "events")
    return recent_history(ev, k=_HIST_K, as_array=False)


# --------------------------------------------------------------------------
# Feature-store matrix: per user-day activity features with 7-day lookback
# --------------------------------------------------------------------------
_FEAT_ORACLE = """
WITH ud AS (
  SELECT user_id,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
         COUNT(*) AS n_today,
         SUM(CAST(value AS DECIMAL(18,6))) AS v_today
  FROM events GROUP BY 1, 2
)
SELECT user_id, CAST(d AS BIGINT) AS d,
       CAST(n_today AS BIGINT) AS n_today,
       CAST(SUM(n_today) OVER w AS BIGINT) AS n_7d,
       CAST(SUM(v_today) OVER w AS DOUBLE) AS value_7d
FROM ud
WINDOW w AS (PARTITION BY user_id ORDER BY d
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


@workload("features_user_daily", oracle=_FEAT_ORACLE)
def features_user_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FEATURE-STORE MATRIX: per (user, day) activity features with a
    7-day lookback — today's event count, trailing-7-day count and
    trailing-7-day value sum (the offline feature-engineering shape that
    feeds ranking/propensity models). Events first collapse to user-day
    aggregates (map-side combinable), so the RANGE windows ride
    user-partitioned, calendar-bounded rows — never raw events; the
    value sum stays an exact DECIMAL until the final double cast."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    ud = (
        ev.select(
            "user_id",
            F.datediff(
                F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
            )
            .cast("long")
            .alias("d"),
            F.col("value").cast("decimal(18,6)").alias("v"),
        )
        .groupBy("user_id", "d")
        .agg(
            F.count(F.lit(1)).alias("n_today"),
            F.sum("v").alias("v_today"),
        )
    )
    w = W.partitionBy("user_id").orderBy("d").rangeBetween(-6, 0)
    return ud.select(
        "user_id",
        F.col("d").cast("long"),
        F.col("n_today").cast("long"),
        F.sum("n_today").over(w).cast("long").alias("n_7d"),
        F.sum("v_today").over(w).cast("double").alias("value_7d"),
    )


# --------------------------------------------------------------------------
# Deterministic negative sampling (contrastive training pairs)
# --------------------------------------------------------------------------
_NEG_K = 2

_NEG_ORACLE = f"""
WITH brands AS (SELECT DISTINCT p_brand FROM part),
custs AS (SELECT DISTINCT o_custkey AS custkey FROM orders),
interacted AS (
  SELECT DISTINCT o.o_custkey AS custkey, p.p_brand
  FROM orders o
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  JOIN part p ON l.l_partkey = p.p_partkey
),
candidates AS (
  SELECT c.custkey, b.p_brand
  FROM custs c CROSS JOIN brands b
  WHERE NOT EXISTS (SELECT 1 FROM interacted i
                    WHERE i.custkey = c.custkey
                      AND i.p_brand = b.p_brand)
),
ranked AS (
  SELECT custkey, p_brand,
         ROW_NUMBER() OVER (
           PARTITION BY custkey
           ORDER BY md5('neg|' || CAST(custkey AS VARCHAR) || '|'
                        || p_brand), p_brand) AS rn
  FROM candidates
)
SELECT custkey, p_brand AS negative_brand, CAST(rn AS INTEGER) AS rn
FROM ranked WHERE rn <= {_NEG_K}
"""


@workload("train_negative_samples", oracle=_NEG_ORACLE)
def train_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC NEGATIVE SAMPLING for contrastive training: for each
    customer, up to {k} part brands they have NEVER purchased, chosen by
    md5 rank (never rand() — same negatives on every engine, run, and
    partitioning, the C8/C16 sampling rule). Candidates are an anti-join
    of the customer x brand-domain grid against observed purchases
    (domain-bounded fan-out, not lineitem-bounded); the rank window
    rides customer-partitioned <=|brands| rows."""
    from pyspark.sql.window import Window as W

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_orderkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    brands = p.select("p_brand").distinct()
    custs = o.select("custkey").distinct()
    interacted = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .select("custkey", "p_brand")
        .distinct()
    )
    candidates = custs.crossJoin(F.broadcast(brands)).join(
        interacted, ["custkey", "p_brand"], "left_anti"
    )
    key = F.md5(
        F.concat(
            F.lit("neg|"),
            F.col("custkey").cast("string"),
            F.lit("|"),
            F.col("p_brand"),
        )
    )
    w = W.partitionBy("custkey").orderBy(key, F.col("p_brand"))
    return (
        candidates.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _NEG_K)
        .select(
            "custkey",
            F.col("p_brand").alias("negative_brand"),
            F.col("rn").cast("int"),
        )
    )


# --------------------------------------------------------------------------
# User-journey path analysis: top full conversion paths
# --------------------------------------------------------------------------
_PATH_TOP = 20

_PATH_ORACLE = f"""
WITH paths AS (
  SELECT user_id,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM events GROUP BY user_id
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
FROM paths GROUP BY path
ORDER BY n_users DESC, path
LIMIT {_PATH_TOP}
"""


@workload("events_top_conversion_paths", oracle=_PATH_ORACLE)
def events_top_conversion_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """USER-JOURNEY PATH ANALYSIS: each user's full ordered event-type
    path rendered as one string, then the top-{k} most common journeys —
    the whole-path extension of the trigram miner (C103). The per-user
    path is an ORDER-PINNED aggregation: collect_list of (ts, event_id,
    type) structs sorted lexicographically (unique (ts, event_id) key ->
    deterministic under any partitioning; DuckDB states the identical
    ORDER BY inside string_agg), rendered map-side per user. Top-k is
    TakeOrderedAndProject with the path itself as tiebreak."""
    ev = load_table(spark, sf_dir, "events")
    path = F.concat_ws(
        ">",
        F.expr(
            "transform(array_sort(collect_list(struct(ts, event_id,"
            " event_type))), x -> x.event_type)"
        ),
    )
    paths = ev.groupBy("user_id").agg(path.alias("path"))
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .orderBy(F.col("n_users").desc(), "path")
        .limit(_PATH_TOP)
    )


# --------------------------------------------------------------------------
# DAU / WAU / stickiness (trailing-window distinct actives)
# --------------------------------------------------------------------------
_DAU_ORACLE = """
WITH du AS (
  SELECT DISTINCT
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
         user_id
  FROM events
),
dau AS (SELECT d, COUNT(*) AS dau FROM du GROUP BY d),
offsets AS (SELECT unnest(range(0, 7)) AS o),
wau AS (
  SELECT t.d, COUNT(DISTINCT u.user_id) AS wau
  FROM dau t
  JOIN offsets o ON TRUE
  JOIN du u ON u.d = t.d - o.o
  GROUP BY t.d
)
SELECT CAST(dau.d AS BIGINT) AS d,
       CAST(dau.dau AS BIGINT) AS dau,
       CAST(wau.wau AS BIGINT) AS wau,
       CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE) AS stickiness
FROM dau JOIN wau ON dau.d = wau.d
"""


@workload("events_dau_wau_stickiness", oracle=_DAU_ORACLE)
def events_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU / STICKINESS — the product-analytics headline: daily
    distinct actives, trailing-7-day distinct actives, and their ratio.
    Trailing DISTINCT is not window-expressible (state isn't mergeable),
    so WAU materializes the user-day table once (map-side distinct) and
    fans each day out to its 7 covering days via a tiny offsets join —
    an equi-join + distinct-count, both shuffle-keyed on day. Exact
    integer counts; one final division."""
    ev = load_table(spark, sf_dir, "events")
    du = (
        ev.select(
            F.datediff(
                F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
            )
            .cast("long")
            .alias("d"),
            "user_id",
        )
        .distinct()
    )
    dau = du.groupBy("d").agg(F.count(F.lit(1)).alias("dau"))
    offsets = ev.sparkSession.range(0, 7).select(F.col("id").alias("o"))
    wau = (
        dau.select("d")
        .crossJoin(F.broadcast(offsets))
        .join(
            du.withColumnRenamed("d", "ud"),
            F.col("ud") == F.col("d") - F.col("o"),
        )
        .groupBy("d")
        .agg(F.count_distinct("user_id").alias("wau"))
    )
    return (
        dau.join(wau, "d")
        .select(
            F.col("d").cast("long"),
            F.col("dau").cast("long"),
            F.col("wau").cast("long"),
            (F.col("dau").cast("double") / F.col("wau").cast("double")).alias(
                "stickiness"
            ),
        )
    )


# --------------------------------------------------------------------------
# Linear multi-touch attribution (fractional credit to preceding views)
# --------------------------------------------------------------------------
_ATTR_ORACLE = """
WITH buys AS (
  SELECT event_id AS buy_id, user_id, ts AS buy_ts
  FROM events WHERE event_type = 'purchase'
),
views AS (
  SELECT event_id AS view_id, user_id, ts AS view_ts
  FROM events WHERE event_type = 'view'
),
touch AS (
  SELECT b.buy_id, v.view_id,
         date_diff('day', DATE '1970-01-01', CAST(v.view_ts AS DATE)) AS d
  FROM buys b JOIN views v
    ON v.user_id = b.user_id
   AND v.view_ts <= b.buy_ts
   AND v.view_ts >= b.buy_ts - INTERVAL 1 HOUR
),
k AS (SELECT buy_id, COUNT(*) AS n_touch FROM touch GROUP BY buy_id),
credit AS (
  SELECT t.d,
         CAST(ROUND(1000000000.0 / k.n_touch, 0) AS BIGINT) AS credit_scaled
  FROM touch t JOIN k ON t.buy_id = k.buy_id
)
SELECT CAST(d AS BIGINT) AS d,
       CAST(COUNT(*) AS BIGINT) AS n_touches,
       CAST(SUM(credit_scaled) AS DOUBLE) / 1000000000.0
         AS attributed_purchases
FROM credit GROUP BY d
"""


@workload("events_linear_attribution", oracle=_ATTR_ORACLE)
def events_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR MULTI-TOUCH ATTRIBUTION: each purchase splits one unit of
    credit equally across ALL of the user's views in the preceding hour
    (the fractional-credit generalization of the as-of last-touch join,
    C10), rolled up to credit per view-day. The touch set is the same
    watermark-bounded join shape as the stream-stream join; per-purchase
    credit 1/k uses the scaled-integer term sum so the day rollup is an
    exact int64 SUM (a float SUM of 1/k terms would be summation-order
    dependent)."""
    ev = load_table(spark, sf_dir, "events")
    buys = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("buy_id"),
        "user_id",
        F.col("ts").alias("buy_ts"),
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user_id"),
        F.col("ts").alias("view_ts"),
    )
    touch = buys.join(
        views,
        (F.col("v_user_id") == F.col("user_id"))
        & (F.col("view_ts") <= F.col("buy_ts"))
        & (F.col("view_ts") >= F.col("buy_ts") - F.expr("INTERVAL 1 HOUR")),
    ).select(
        "buy_id",
        F.datediff(
            F.col("view_ts").cast("date"), F.lit("1970-01-01").cast("date")
        )
        .cast("long")
        .alias("d"),
    )
    k = touch.groupBy("buy_id").agg(F.count(F.lit(1)).alias("n_touch"))
    credit = touch.join(F.broadcast(k), "buy_id").select(
        "d",
        F.round(F.lit(1000000000.0) / F.col("n_touch"), 0)
        .cast("long")
        .alias("credit_scaled"),
    )
    return credit.groupBy("d").agg(
        F.count(F.lit(1)).cast("long").alias("n_touches"),
        (F.sum("credit_scaled").cast("double") / 1000000000.0).alias(
            "attributed_purchases"
        ),
    )


# --------------------------------------------------------------------------
# Trailing-week distinct actives via mergeable HLL day-sketches
# --------------------------------------------------------------------------
_HWAU_TOL = 0.05

_HWAU_ORACLE = """
WITH du AS (
  SELECT DISTINCT
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
         user_id
  FROM events
),
days AS (SELECT DISTINCT d FROM du),
offsets AS (SELECT unnest(range(0, 7)) AS o),
wau AS (
  SELECT t.d, COUNT(DISTINCT u.user_id) AS exact_wau
  FROM days t
  JOIN offsets o ON TRUE
  JOIN du u ON u.d = t.d - o.o
  GROUP BY t.d
)
SELECT CAST(d AS BIGINT) AS d, CAST(exact_wau AS BIGINT) AS exact_wau,
       TRUE AS approx_ok
FROM wau
"""


@workload("sketch_hll_trailing_wau", oracle=_HWAU_ORACLE)
def sketch_hll_trailing_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE SCALABLE WAU: trailing-7-day distinct actives from MERGEABLE
    per-day HLL sketches — one day-keyed sketch build over the raw
    stream, then the 7-day window is a union of SEVEN DAY-SKETCH ROWS
    (hll_union_agg over the offsets fan-out of the tiny day-sketch
    table), instead of re-fanning the raw user-day data 7x the way the
    exact form (C121) must. This is the shape that survives 100 TB and
    arbitrary window lengths: window cost is O(days x sketch), data
    cost is one pass. Estimates are implementation-defined, so the
    hashed projection carries the exact WAU plus a 5%-relative-error
    certification boolean (the C4/HLL pattern); the estimate itself is
    checked, not hashed."""
    ev = load_table(spark, sf_dir, "events")
    day = F.datediff(
        F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
    ).cast("long")
    sketches = (
        ev.select(day.alias("d"), "user_id")
        .groupBy("d")
        .agg(F.expr("hll_sketch_agg(user_id, 14)").alias("sketch"))
    )
    offsets = ev.sparkSession.range(0, 7).select(F.col("id").alias("o"))
    merged = (
        sketches.select("d")
        .crossJoin(F.broadcast(offsets))
        .join(
            F.broadcast(
                sketches.select(
                    F.col("d").alias("sd"), F.col("sketch").alias("sk")
                )
            ),
            F.col("sd") == F.col("d") - F.col("o"),
        )
        .groupBy("d")
        .agg(
            F.expr("hll_sketch_estimate(hll_union_agg(sk, true))").alias(
                "approx_wau"
            )
        )
    )
    # exact WAU (the C121 fan-out) for certification only
    du = (
        ev.select(day.alias("ud"), "user_id").distinct()
    )
    exact = (
        sketches.select("d")
        .crossJoin(F.broadcast(offsets))
        .join(du, F.col("ud") == F.col("d") - F.col("o"))
        .groupBy("d")
        .agg(F.count_distinct("user_id").alias("exact_wau"))
    )
    return (
        exact.join(merged, "d")
        .select(
            F.col("d").cast("long"),
            F.col("exact_wau").cast("long"),
            (
                F.abs(F.col("approx_wau") - F.col("exact_wau"))
                <= _HWAU_TOL * F.col("exact_wau")
            ).alias("approx_ok"),
        )
    )


# --------------------------------------------------------------------------
# DYNAMIC-GAP sessionization (per-event-type inactivity gap)
# --------------------------------------------------------------------------
_DSES_GAP_SQL = (
    "CASE WHEN event_type = 'view' THEN 1800000000 ELSE 600000000 END"
)  # gap in MICROSECONDS: views 30 min, everything else 10 min

_DSES_ORACLE = f"""
WITH e AS (
  SELECT user_id, ts, event_id,
         epoch_us(ts) AS us,
         epoch_us(ts) + {_DSES_GAP_SQL} AS end_us
  FROM events
),
flagged AS (
  SELECT user_id, ts, event_id, us, end_us,
         CASE WHEN MAX(end_us) OVER (PARTITION BY user_id ORDER BY us, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   > us
              THEN 0 ELSE 1 END AS is_new_session
  FROM e
),
sessions AS (
  SELECT user_id, us, end_us,
         CAST(SUM(is_new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_seq
  FROM flagged
)
SELECT user_id,
       make_timestamp(MIN(us)) AS session_start,
       make_timestamp(MAX(end_us)) AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM sessions
GROUP BY user_id, session_seq
"""


@workload("events_sessionization_dynamic", oracle=_DSES_ORACLE)
def events_sessionization_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC-GAP sessionization — Spark's `session_window` with a
    PER-EVENT gap expression (views keep a session alive 30 minutes,
    other events only 10): the engine merges each event's candidate
    window [ts, ts+gap) transitively, so a session's end is the running
    max of per-event ends, not last-event + constant — semantics a fixed
    gap cannot express (C: the fixed-gap twin is events_sessionization).
    The oracle replays the merge as gaps-and-islands with a cumulative
    MAX(end) window: a new session starts exactly when the event's start
    clears every previous end. All comparisons in exact epoch
    MICROSECONDS; windows are user-partitioned."""
    e = load_table(spark, sf_dir, "events")
    gap = F.when(F.col("event_type") == "view", F.lit("30 minutes")).otherwise(
        F.lit("10 minutes")
    )
    return (
        e.groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


# --------------------------------------------------------------------------
# Event-type transition matrix (Markov counts)
# --------------------------------------------------------------------------
_TRANSITION_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events
)
SELECT event_type AS prev_type, next_type,
       CAST(COUNT(*) AS BIGINT) AS n_transitions
FROM seq WHERE next_type IS NOT NULL
GROUP BY prev_type, next_type
"""


@workload("events_transition_matrix", oracle=_TRANSITION_ORACLE)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition counts between consecutive events of each user
    (ties broken by event_id — deterministic sequencing): one window sort
    partitioned by user + one hash aggregate over the (tiny)
    type-pair domain. The per-user window is the same shuffle shape as
    sessionization; no self-join formulation (which would be quadratic in
    per-user event count)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
    )
    return (
        seq.filter(F.col("next_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_transitions"))
    )


# --------------------------------------------------------------------------
# Certified approximate quantiles (mergeable sketch vs exact)
# --------------------------------------------------------------------------
_QUANTILE_PS = (0.5, 0.9, 0.99)
_QUANTILE_TOL = 0.02  # relative; measured approx error is ~1e-4 at sf0.1

_QUANTILE_ORACLE = f"""
WITH ranked AS (
  SELECT o_totalprice,
         ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
         COUNT(*) OVER () AS n
  FROM orders
)
SELECT CAST(p AS DOUBLE) AS p,
       (SELECT CAST(CAST(r.o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
        FROM ranked r
        WHERE r.rn = CAST(CEIL(CAST(p AS DOUBLE) * r.n) AS BIGINT)) AS exact_q,
       TRUE AS approx_ok
FROM (VALUES {", ".join(f"({p})" for p in _QUANTILE_PS)}) AS ps(p)
"""


_QUANTILE_BUCKETS = 64


@workload("sketch_approx_quantiles", oracle=_QUANTILE_ORACLE)
def sketch_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch tier — approximate quantiles of the order price
    (percentile_approx: a mergeable rank sketch, O(accuracy) state — the
    form that survives a 100 TB groupBy or an unbounded stream) certified
    against the EXACT discrete quantile (the value at row ceil(p*n) of
    the sorted order — the oracle states the same definition). The exact
    order statistic is computed DISTRIBUTED: rows are bucketed by value
    range (deterministic arithmetic on the collected min/max — no
    sampling, so the bucket of a row is stable across jobs), the global
    rank is the bucket-local row_number plus the summed counts of lower
    buckets (a bucket-count collect bounded by the constant bucket
    count), and only the rows at the target ranks survive. No global
    window, no single-partition sort — skewed buckets cost only balance,
    never correctness. The estimate itself is implementation-defined, so
    the hashed projection carries the exact quantile plus a
    relative-error-bound boolean, as with the HLL workloads."""
    import math

    from sample_data_pipeline_project_spark.operators.ranks import (
        bucketed_global_rank,
    )

    o = load_table(spark, sf_dir, "orders")
    ps = list(_QUANTILE_PS)
    ranked, n = bucketed_global_rank(
        o.select("o_totalprice", "o_orderkey"),
        "o_totalprice",
        ["o_orderkey"],
        n_buckets=_QUANTILE_BUCKETS,
    )
    targets = spark.createDataFrame(
        [(p, int(math.ceil(p * n))) for p in ps], "p double, target_rn long"
    )
    exact = (
        ranked.join(F.broadcast(targets), F.col("rn") == F.col("target_rn"))
        .select(
            "p",
            F.col("o_totalprice")
            .cast("decimal(18,2)")
            .cast("double")
            .alias("exact_q"),
        )
    )
    approx = o.agg(
        F.percentile_approx("o_totalprice", ps, 10000).alias("qs")
    ).select(
        F.explode(
            F.arrays_zip(
                F.array(*[F.lit(p) for p in ps]).alias("p"),
                F.col("qs").alias("approx_q"),
            )
        ).alias("z")
    ).select("z.p", "z.approx_q")
    return (
        exact.join(approx, "p")
        .select(
            "p",
            "exact_q",
            (
                F.abs(F.col("approx_q") - F.col("exact_q"))
                <= _QUANTILE_TOL * F.col("exact_q")
            ).alias("approx_ok"),
        )
    )


# --------------------------------------------------------------------------
# Misra-Gries heavy hitters over price-magnitude buckets (certified)
# --------------------------------------------------------------------------
_MG_K = 4
_MG_SHARDS = 32

# floor(log2(cents)) via bit length — pure integer logic, no libm log2
# whose ulp at power-of-two boundaries could flip FLOOR cross-engine.
_MG_BUCKET = (
    "CAST(length(bin(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100"
    " AS BIGINT))) - 1 AS VARCHAR)"
)

_MG_ORACLE = f"""
WITH t AS (
  SELECT {_MG_BUCKET} AS item FROM orders
),
c AS (
  SELECT item, COUNT(*) AS true_count FROM t GROUP BY item
),
n AS (SELECT SUM(true_count) AS n FROM c)
SELECT c.item, CAST(c.true_count AS BIGINT) AS true_count,
       TRUE AS present, TRUE AS underestimate_ok, TRUE AS error_bound_ok
FROM c, n
WHERE c.true_count * {_MG_K + 1} > n.n
"""


@workload("sketch_misra_gries_buckets", oracle=_MG_ORACLE)
def sketch_misra_gries_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MISRA-GRIES heavy hitters over the order price-magnitude stream
    (bucket = floor(log2(cents)) via exact BIT LENGTH, no libm) — the
    deterministic, mergeable, UNDERestimating dual of the Count-Min
    workload (C17), with the classic guarantee est in
    [true - n/(k+1), true]. With k=4 counters against ~20 live buckets
    the per-shard passes evict constantly, exercising the sketch for
    real; the two modal buckets (~33% each) clear the 20% guarantee
    threshold. The stream is hash-sharded; each shard runs the
    O(k)-memory sequential pass (applyInPandas, pinned order); the
    bounded shards x k summary rows merge once driver-side
    (operators/heavyhitters.py). Certification: every bucket whose true
    count exceeds n/(k+1) (ALL-INTEGER predicate true*(k+1) > n) must be
    present, underestimated, and within the error bound — each stated as
    TRUE by the oracle; the sketch's raw counter values are deliberately
    not hashed (they depend on the shard layout)."""
    o = load_table(spark, sf_dir, "orders")
    stream = o.select(
        "o_orderkey",
        F.expr(
            "CAST(length(bin(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100"
            " AS BIGINT))) - 1 AS STRING)"
        ).alias("item"),
    )
    summary = mg_summary(
        stream, _MG_K, item_col="item", order_cols=["o_orderkey"],
        num_shards=_MG_SHARDS,
    )
    est_df = spark.createDataFrame(
        [(t, int(c)) for t, c in sorted(summary.items())] or [("", 0)],
        "item string, est long",
    )
    exact = stream.groupBy("item").agg(
        F.count(F.lit(1)).alias("true_count")
    )
    total = exact.agg(F.sum("true_count").alias("n"))
    guaranteed = (
        exact.crossJoin(F.broadcast(total))
        .filter(F.col("true_count") * (_MG_K + 1) > F.col("n"))
        .join(F.broadcast(est_df), "item", "left")
    )
    return guaranteed.select(
        "item",
        F.col("true_count").cast("long"),
        F.col("est").isNotNull().alias("present"),
        (F.col("est") <= F.col("true_count")).alias("underestimate_ok"),
        (
            (F.col("true_count") - F.col("est")) * (_MG_K + 1) <= F.col("n")
        ).alias("error_bound_ok"),
    )


# --------------------------------------------------------------------------
# RFM customer segmentation (per-nation quartiles, deterministic NTILE)
# --------------------------------------------------------------------------
_RFM_ANCHOR = "2001-09-01"  # fixed as-of date (after the data's max date)

_RFM_ORACLE = f"""
WITH base AS (
  SELECT o_custkey AS custkey,
         date_diff('day', CAST(MAX(o_orderdate) AS DATE),
                   DATE '{_RFM_ANCHOR}') AS recency_days,
         COUNT(*) AS frequency,
         SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
           AS monetary_cents
  FROM orders GROUP BY o_custkey
),
dim AS (SELECT c_custkey AS custkey, c_nationkey AS nk FROM customer),
j AS (SELECT b.*, d.nk FROM base b JOIN dim d ON b.custkey = d.custkey),
q AS (
  SELECT custkey, nk, recency_days, frequency, monetary_cents,
         NTILE(4) OVER (PARTITION BY nk
                        ORDER BY recency_days ASC, custkey ASC) AS r_q,
         NTILE(4) OVER (PARTITION BY nk
                        ORDER BY frequency DESC, custkey ASC) AS f_q,
         NTILE(4) OVER (PARTITION BY nk
                        ORDER BY monetary_cents DESC, custkey ASC) AS m_q
  FROM j
)
SELECT custkey, CAST(recency_days AS BIGINT) AS recency_days,
       CAST(frequency AS BIGINT) AS frequency,
       CAST(monetary_cents AS BIGINT) AS monetary_cents,
       CAST(r_q AS INTEGER) AS r_q, CAST(f_q AS INTEGER) AS f_q,
       CAST(m_q AS INTEGER) AS m_q,
       CAST(r_q * 100 + f_q * 10 + m_q AS INTEGER) AS rfm_code
FROM q
"""


@workload("rfm_customer_segmentation", oracle=_RFM_ORACLE)
def rfm_customer_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM SEGMENTATION — recency / frequency / monetary quartile codes
    per customer, normalized WITHIN nation (per-market quartiles, which
    also keeps every NTILE window nation-partitioned over customer-
    -bounded rows — never a global sort). Quartile 1 is best on each
    axis (most recent, most frequent, highest spend). NTILE is made
    deterministic by the unique custkey tiebreak (the C63 rule); recency
    anchors to a FIXED as-of date so the metric is reproducible. One
    orders aggregate, a broadcast dim join, three windows over the same
    partitioning — single shuffle."""
    from pyspark.sql.window import Window as W

    o = load_table(spark, sf_dir, "orders")
    base = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.datediff(
            F.lit(_RFM_ANCHOR).cast("date"),
            F.max(F.col("o_orderdate").cast("date")),
        )
        .cast("long")
        .alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
        ).alias("monetary_cents"),
    )
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), F.col("c_nationkey").alias("nk")
    )
    j = base.join(F.broadcast(dim), "custkey")
    r_q = F.ntile(4).over(
        W.partitionBy("nk").orderBy(F.col("recency_days").asc(), F.col("custkey").asc())
    )
    f_q = F.ntile(4).over(
        W.partitionBy("nk").orderBy(F.col("frequency").desc(), F.col("custkey").asc())
    )
    m_q = F.ntile(4).over(
        W.partitionBy("nk").orderBy(
            F.col("monetary_cents").desc(), F.col("custkey").asc()
        )
    )
    q = j.select(
        "custkey",
        F.col("recency_days").cast("long"),
        F.col("frequency").cast("long"),
        F.col("monetary_cents").cast("long"),
        r_q.cast("int").alias("r_q"),
        f_q.cast("int").alias("f_q"),
        m_q.cast("int").alias("m_q"),
    )
    return q.withColumn(
        "rfm_code",
        (F.col("r_q") * 100 + F.col("f_q") * 10 + F.col("m_q")).cast("int"),
    )


# --------------------------------------------------------------------------
# Cohort LTV curve: cumulative revenue by signup cohort x age
# --------------------------------------------------------------------------
_LTV_ORACLE = """
WITH firsts AS (
  SELECT o_custkey, CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) AS cohort_month
  FROM orders GROUP BY o_custkey
),
rev AS (
  SELECT f.cohort_month,
         CAST(date_diff('month', f.cohort_month,
              date_trunc('month', o.o_orderdate)) AS BIGINT) AS age_months,
         SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
           AS rev_cents
  FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
  GROUP BY 1, 2
),
sizes AS (
  SELECT cohort_month, COUNT(*) AS cohort_users
  FROM firsts GROUP BY cohort_month
)
SELECT r.cohort_month, r.age_months,
       CAST(s.cohort_users AS BIGINT) AS cohort_users,
       CAST(SUM(r.rev_cents) OVER (PARTITION BY r.cohort_month
            ORDER BY r.age_months
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_rev_cents
FROM rev r JOIN sizes s ON r.cohort_month = s.cohort_month
"""


@workload("cohort_ltv_curve", oracle=_LTV_ORACLE)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHORT LTV CURVE — cumulative revenue per signup cohort by account
    age in months (the monetary twin of the C-retention matrix): how
    much has each cohort spent by month k of its life. First-order
    cohorting is one keyed MIN; the cumulative window rides
    (cohort-month)-partitioned, calendar-bounded (cohort x age) rows,
    never raw orders; revenue stays exact integer cents end-to-end."""
    from pyspark.sql.window import Window as W

    o = load_table(spark, sf_dir, "orders")
    firsts = o.groupBy("o_custkey").agg(
        F.to_date(F.date_trunc("month", F.min("o_orderdate"))).alias(
            "cohort_month"
        )
    )
    rev = (
        o.join(firsts, "o_custkey")
        .select(
            "cohort_month",
            (
                (F.year(F.date_trunc("month", "o_orderdate")) - F.year("cohort_month"))
                * 12
                + (
                    F.month(F.date_trunc("month", "o_orderdate"))
                    - F.month("cohort_month")
                )
            )
            .cast("long")
            .alias("age_months"),
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("cohort_month", "age_months")
        .agg(F.sum("cents").alias("rev_cents"))
    )
    sizes = firsts.groupBy("cohort_month").agg(
        F.count(F.lit(1)).alias("cohort_users")
    )
    w = (
        W.partitionBy("cohort_month")
        .orderBy("age_months")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        rev.join(F.broadcast(sizes), "cohort_month")
        .select(
            "cohort_month",
            "age_months",
            F.col("cohort_users").cast("long"),
            F.sum("rev_cents").over(w).cast("long").alias("cum_rev_cents"),
        )
    )


# --------------------------------------------------------------------------
# Bitmap-block exact distinct (roaring-bitmap shape, mergeable)
# --------------------------------------------------------------------------
_BM_ORACLE = """
WITH blocks AS (
  SELECT event_type,
         user_id // 62 AS blk,
         bit_or(CAST(1 AS BIGINT) << CAST(user_id % 62 AS INTEGER)) AS bits
  FROM events
  GROUP BY event_type, user_id // 62
),
agg AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_blocks,
         CAST(SUM(bit_count(bits)) AS BIGINT) AS distinct_bitmap
  FROM blocks GROUP BY event_type
),
exact AS (
  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
  FROM events GROUP BY event_type
)
SELECT a.event_type, a.n_blocks, a.distinct_bitmap,
       a.distinct_bitmap = e.exact_distinct AS matches_exact
FROM agg a JOIN exact e ON a.event_type = e.event_type
"""


@workload("sketch_bitmap_distinct", oracle=_BM_ORACLE)
def sketch_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct users per event type via mergeable BITMAP BLOCKS
    (the roaring-bitmap layout): each BIGINT block holds membership bits
    for 62 consecutive user ids (positions 0-61 — the sign bit and bit 62
    stay clear so shifted values never go negative on either engine), and
    bit_or is the commutative map-side-combinable merge. The shuffle
    carries |types| x ceil(|users|/62) block rows instead of raw
    (type, user) pairs — the exact-COUNT-DISTINCT shape that scales where
    HLL (C77/C130) trades exactness for even less state. The workload
    certifies the sketch against the engine's COUNT(DISTINCT) in the same
    row (matches_exact stated TRUE by both engines)."""
    e = load_table(spark, sf_dir, "events")
    blocks = e.groupBy(
        "event_type", F.expr("user_id div 62").alias("blk")
    ).agg(
        F.expr(
            "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(user_id % 62 AS INT)))"
        ).alias("bits")
    )
    agg = blocks.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.sum(F.bit_count("bits")).cast("long").alias("distinct_bitmap"),
    )
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_distinct")
    )
    return agg.join(exact, "event_type").select(
        "event_type",
        "n_blocks",
        "distinct_bitmap",
        (F.col("distinct_bitmap") == F.col("exact_distinct")).alias("matches_exact"),
    )


# --------------------------------------------------------------------------
# Markov stationary distribution (power iteration on the transition matrix)
# --------------------------------------------------------------------------
_MKV_ITERS = 3
_MKV_SCALE = 1_000_000

_MKV_TERM = (
    "CAST(ROUND(CAST(p AS DOUBLE) * CAST(c AS DOUBLE) / CAST(r AS DOUBLE), 0)"
    " AS BIGINT)"
)


def _mkv_oracle() -> str:
    iters = []
    prev = "p0"
    for t in range(1, _MKV_ITERS + 1):
        iters.append(f""",
w{t} AS (
  SELECT cells.nxt AS typ, CAST(SUM({_MKV_TERM}) AS BIGINT) AS w
  FROM cells JOIN {prev} ON cells.prv = {prev}.typ
  JOIN rows_ ON cells.prv = rows_.prv
  GROUP BY cells.nxt
),
sw{t} AS (SELECT SUM(w) AS sw FROM w{t}),
p{t} AS (
  SELECT typ, CAST(ROUND(CAST(w AS DOUBLE) / CAST(sw AS DOUBLE)
                         * {_MKV_SCALE}.0, 0) AS BIGINT) AS p
  FROM w{t} CROSS JOIN sw{t}
)""")
        prev = f"p{t}"
    return f"""
WITH seq AS (
  SELECT user_id, event_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events
),
cells AS (
  SELECT event_type AS prv, next_type AS nxt, CAST(COUNT(*) AS BIGINT) AS c
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY event_type, next_type
),
rows_ AS (SELECT prv, CAST(SUM(c) AS BIGINT) AS r FROM cells GROUP BY prv),
p0 AS (
  SELECT prv AS typ, CAST({_MKV_SCALE} AS BIGINT) AS p FROM rows_
){"".join(iters)}
SELECT typ AS event_type, CAST(p AS BIGINT) AS p_scaled
FROM {prev}
"""


@workload("events_markov_stationary", oracle=_mkv_oracle())
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATIONARY DISTRIBUTION of the event-type Markov chain (the
    long-run visit share the C3 transition matrix implies): {k} fixed
    power iterations p <- pP with every term pre-scaled to an exact
    BIGINT (p_i * c_ij / r_i ROUNDed) and a ROUND sum-normalize back to
    the 1e6 grid — integer state end to end, oracle unrolls identical
    iterations (the PCA/HITS fixed-point family, applied to the
    row-stochastic matrix). The only unbounded stage is the LEAD-window
    transition count, user-partitioned; the iteration runs on the
    |types|^2-cell table."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("prv"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    cells = seq.groupBy("prv", "nxt").agg(F.count(F.lit(1)).alias("c"))
    cells = materialize(cells, "checkpoint")
    rows_ = cells.groupBy("prv").agg(F.sum("c").alias("r"))
    p = rows_.select(F.col("prv").alias("typ"), F.lit(_MKV_SCALE).cast("long").alias("p"))
    term = F.round(
        F.col("p").cast("double") * F.col("c").cast("double")
        / F.col("r").cast("double"),
        0,
    ).cast("long")

    def transition(p: DataFrame) -> DataFrame:
        wdf = (
            cells.join(p, cells["prv"] == p["typ"])
            .join(rows_.withColumnRenamed("prv", "rprv"), cells["prv"] == F.col("rprv"))
            .groupBy(cells["nxt"].alias("typ2"))
            .agg(F.sum(term).cast("long").alias("w"))
        )
        sw = wdf.agg(F.sum("w").alias("sw"))
        return wdf.crossJoin(F.broadcast(sw)).select(
            F.col("typ2").alias("typ"),
            F.round(
                F.col("w").cast("double") / F.col("sw").cast("double")
                * float(_MKV_SCALE),
                0,
            )
            .cast("long")
            .alias("p"),
        )

    p = iterate(p, transition, _MKV_ITERS, name="events_markov_stationary")
    return p.select(F.col("typ").alias("event_type"), F.col("p").cast("long").alias("p_scaled"))


# --------------------------------------------------------------------------
# C174 — event-arrival disorder audit (lateness vs ingestion order)
# --------------------------------------------------------------------------

_LATE_ORACLE = """
WITH seq AS (
  SELECT event_type, epoch_us(ts) AS us,
         MAX(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS hwm
  FROM events
),
flagged AS (
  SELECT event_type,
         CASE WHEN hwm IS NOT NULL AND us < hwm THEN 1 ELSE 0 END AS late,
         CASE WHEN hwm IS NOT NULL AND us < hwm THEN hwm - us END AS late_us
  FROM seq
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(late) AS BIGINT) AS n_late,
       CAST(SUM(late) AS DOUBLE) / COUNT(*) AS late_frac,
       CAST(MAX(late_us) AS BIGINT) AS max_lateness_us,
       CAST(SUM(late_us) AS BIGINT) AS sum_lateness_us
FROM flagged
GROUP BY event_type
"""


@workload("events_late_arrival_audit", oracle=_LATE_ORACLE)
def events_late_arrival_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order-arrival audit: within each user's stream in INGESTION
    order (event_id), an event is late if its event time sits below the
    running event-time high-water mark — exactly the rows a streaming
    watermark would have to buffer or drop. Reports, per event type, the
    late count/fraction and the worst and total lateness in microseconds:
    the numbers that size `withWatermark` delays before deploying the
    streaming twins of these pipelines. The high-water mark is a running
    MAX over a user-partitioned window (millions of small partitions at
    scale); lateness sums are exact int64 microseconds."""
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = e.select("event_type", "user_id", "event_id", us.alias("us")).withColumn(
        "hwm", F.max("us").over(w)
    )
    late_cond = F.col("hwm").isNotNull() & (F.col("us") < F.col("hwm"))
    flagged = seq.select(
        "event_type",
        F.when(late_cond, 1).otherwise(0).alias("late"),
        F.when(late_cond, F.col("hwm") - F.col("us")).alias("late_us"),
    )
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("late").cast("long").alias("n_late"),
        (F.sum("late").cast("double") / F.count(F.lit(1))).alias("late_frac"),
        F.max("late_us").cast("long").alias("max_lateness_us"),
        F.sum("late_us").cast("long").alias("sum_lateness_us"),
    )


# --------------------------------------------------------------------------
# C182 — KMV (k minimum values) distinct sketch with error certification
# --------------------------------------------------------------------------

_KMV_K = 256
_KMV_U32 = md5_prefix_uint32_sql("'kmv|' || CAST(user_id AS STRING)")
# est = (k-1) * 2^32 / h_k when >= k hashes exist, else the exact count.
_KMV_EST_EXPR = (
    f"CASE WHEN n_seen < {_KMV_K} THEN CAST(n_seen AS DOUBLE)"
    f" ELSE CAST({_KMV_K - 1} AS DOUBLE) * 4294967296.0 / CAST(kth_hash AS DOUBLE)"
    " END"
)

_KMV_ORACLE = f"""
WITH hashes AS (
  SELECT DISTINCT CAST({_KMV_U32} AS BIGINT) AS u FROM events
),
bottomk AS (SELECT u FROM hashes ORDER BY u LIMIT {_KMV_K}),
sk AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_seen, CAST(MAX(u) AS BIGINT) AS kth_hash
  FROM bottomk
),
tru AS (
  SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS true_distinct FROM events
)
SELECT CAST({_KMV_K} AS BIGINT) AS k, n_seen, kth_hash,
       {_KMV_EST_EXPR} AS est_distinct,
       true_distinct,
       ABS(({_KMV_EST_EXPR}) - CAST(true_distinct AS DOUBLE))
         <= 0.25 * CAST(true_distinct AS DOUBLE) AS within_bound
FROM sk JOIN tru ON 1 = 1
"""


@workload("sketch_kmv_distinct", oracle=_KMV_ORACLE)
def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (bottom-k / k-minimum-values) distinct-count sketch over event
    users, CERTIFIED against the exact distinct count: keep the k=256
    smallest md5-u32 hashes of the value domain; the k-th smallest hash
    h_k estimates density, giving D-hat = (k-1) * 2^32 / h_k. The bound
    column states |est - true| <= 4/sqrt(k) = 25% of true as a hash-
    stable boolean. Bottom-k is TakeOrderedAndProject (per-partition
    local bottom-k, driver merge of k rows per partition) — the
    mergeable-sketch shape: unions of KMV sketches are the bottom-k of
    the hash union, which is how this runs per-partition-then-merge at
    100 TB. The exact-count twin rides the same scan; the two 1-row
    results meet on a constant-key equi-join (broadcast), not a cross
    join."""
    e = load_table(spark, sf_dir, "events")
    hashes = e.select(F.expr(_KMV_U32).cast("long").alias("u")).distinct()
    sk = (
        hashes.orderBy("u")
        .limit(_KMV_K)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_seen"),
            F.max("u").cast("long").alias("kth_hash"),
        )
        .withColumn("j", F.lit(1))
    )
    tru = (
        e.agg(F.countDistinct("user_id").cast("long").alias("true_distinct"))
        .withColumn("j", F.lit(1))
    )
    est = F.expr(_KMV_EST_EXPR)
    return sk.join(F.broadcast(tru), "j").select(
        F.lit(_KMV_K).cast("long").alias("k"),
        "n_seen",
        "kth_hash",
        est.alias("est_distinct"),
        "true_distinct",
        (
            F.abs(est - F.col("true_distinct").cast("double"))
            <= 0.25 * F.col("true_distinct").cast("double")
        ).alias("within_bound"),
    )


# --------------------------------------------------------------------------
# C189 — exact interarrival-time percentiles (watermark sizing companion)
# --------------------------------------------------------------------------

_IA_PS = ("0.5", "0.9", "0.99")  # repr strings: literal-parse portable

_IA_ORACLE = f"""
WITH seq AS (
  SELECT epoch_us(ts)
         - LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS gap_us,
         user_id, event_id
  FROM events
),
gaps AS (
  SELECT gap_us, user_id, event_id FROM seq WHERE gap_us IS NOT NULL
),
ranked AS (
  SELECT gap_us AS v,
         ROW_NUMBER() OVER (ORDER BY gap_us, user_id, event_id) AS rn
  FROM gaps
),
nn AS (SELECT COUNT(*) AS n FROM gaps),
ps AS (
  SELECT p, CAST(nn.n - 1 AS DOUBLE) * p AS h, nn.n AS n
  FROM (VALUES {", ".join(f"(CAST('{p}' AS DOUBLE))" for p in _IA_PS)})
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
         AS gap_us_pcont
FROM t
JOIN ranked lo ON lo.rn = t.lo_rn
JOIN ranked hi ON hi.rn = t.hi_rn
"""


@workload("events_interarrival_percentiles", oracle=_IA_ORACLE)
def events_interarrival_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 of per-user event interarrival times (in
    microseconds) — with events_late_arrival_audit, the pair of numbers
    that sizes streaming watermark delays and session-gap thresholds
    before deploying the streaming twins. Interarrival gaps are a
    user-partitioned LAG (millions of small window partitions); the
    global order statistics ride the C4 bucketed global rank, and the
    PERCENTILE_CONT interpolation follows the percentile_cont_exact
    contract (h = (n-1)*p, frac bound identically on both engines)."""
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    gaps = (
        e.select("user_id", "event_id", us.alias("us"))
        .withColumn("gap_us", F.col("us") - F.lag("us").over(w))
        .filter(F.col("gap_us").isNotNull())
        .select("gap_us", "user_id", "event_id")
    )
    ranked, n = bucketed_global_rank(gaps, "gap_us", ["user_id", "event_id"])
    rows = []
    for p_str in _IA_PS:
        p = float(p_str)
        h = float(n - 1) * p
        lo_rn = int(math.floor(h)) + 1
        hi_rn = lo_rn + (0 if h == math.floor(h) else 1)
        rows.append((p, n, lo_rn, hi_rn, h - math.floor(h)))
    targets = spark.createDataFrame(
        rows, "p double, n long, lo_rn long, hi_rn long, frac double"
    )
    lo = ranked.select(F.col("rn").alias("lo_rn"), F.col("gap_us").alias("lo_v"))
    hi = ranked.select(F.col("rn").alias("hi_rn"), F.col("gap_us").alias("hi_v"))
    return (
        F.broadcast(targets)
        .join(lo, "lo_rn")
        .join(hi, "hi_rn")
        .select(
            "p",
            F.col("n").cast("long").alias("n"),
            (
                F.col("lo_v").cast("double")
                + (F.col("hi_v").cast("double") - F.col("lo_v").cast("double"))
                * F.col("frac")
            ).alias("gap_us_pcont"),
        )
    )


# --------------------------------------------------------------------------
# C199 — cumulative adoption curve per event type (first-use accumulation)
# --------------------------------------------------------------------------

_NU_ORACLE = """
WITH first_use AS (
  SELECT event_type, user_id, MIN(CAST(ts AS DATE)) AS day
  FROM events GROUP BY event_type, user_id
),
daily AS (
  SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS new_users
  FROM first_use GROUP BY event_type, day
)
SELECT event_type, day, new_users,
       CAST(SUM(new_users) OVER (PARTITION BY event_type ORDER BY day
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS BIGINT)
         AS cumulative_users
FROM daily
"""


@workload("events_new_user_cumulative", oracle=_NU_ORACLE)
def events_new_user_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-adoption curves: per event type and day, how many users
    perform that action for the FIRST time, and the running total of
    users who have ever performed it — the "users who have tried X"
    chart, and the exact complement of the HLL trailing-WAU sketch
    (C128): all-time distinct accumulation is windowable because
    first-use collapses each (user, type) to one row. The running total
    uses the C113 bucketed cumsum with (type, MONTH) buckets — bounded
    per-bucket totals collected, exclusive offsets broadcast back,
    day-level running sums inside bucket-partitioned windows — so the
    full-history curve has no per-type global window even when one type
    spans years. The oracle states the same curve with plain single-node
    windows."""
    e = load_table(spark, sf_dir, "events")
    first_use = e.groupBy("event_type", "user_id").agg(
        F.min(F.col("ts").cast("date")).alias("day")
    )
    daily = first_use.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("long").alias("new_users")
    )
    daily = daily.withColumn(
        "mon", F.date_trunc("month", F.col("day")).cast("date")
    )
    mtot = sorted(
        daily.groupBy("event_type", "mon")
        .agg(F.sum("new_users").alias("s"))
        .collect(),
        key=lambda r: (r["event_type"], r["mon"]),
    )
    offs, acc = [], {}
    for r in mtot:
        t = r["event_type"]
        offs.append((t, r["mon"], acc.get(t, 0)))
        acc[t] = acc.get(t, 0) + r["s"]
    off_df = F.broadcast(
        spark.createDataFrame(
            offs or [(None, None, 0)], "event_type string, mon date, off long"
        )
    )
    w = (
        Window.partitionBy("event_type", "mon")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        daily.join(off_df, ["event_type", "mon"])
        .select(
            "event_type",
            "day",
            "new_users",
            (F.col("off") + F.sum("new_users").over(w))
            .cast("long")
            .alias("cumulative_users"),
        )
    )


# --------------------------------------------------------------------------
# C205 — growth accounting (new / retained / resurrected / churned per week)
# --------------------------------------------------------------------------

_GA_ORACLE = """
WITH uw AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
  FROM events
),
seq AS (
  SELECT user_id, wk,
         MIN(wk) OVER (PARTITION BY user_id) AS first_wk,
         LAG(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk,
         LEAD(wk) OVER (PARTITION BY user_id ORDER BY wk) AS next_wk
  FROM uw
),
mx AS (SELECT MAX(wk) AS max_wk FROM uw),
active AS (
  SELECT wk,
         CAST(SUM(CASE WHEN wk = first_wk THEN 1 ELSE 0 END) AS BIGINT)
           AS n_new,
         CAST(SUM(CASE WHEN prev_wk = wk - INTERVAL 7 DAY THEN 1 ELSE 0 END)
              AS BIGINT) AS n_retained,
         CAST(SUM(CASE WHEN prev_wk IS NOT NULL
                        AND prev_wk < wk - INTERVAL 7 DAY THEN 1 ELSE 0 END)
              AS BIGINT) AS n_resurrected
  FROM seq GROUP BY wk
),
churn AS (
  SELECT CAST(wk + INTERVAL 7 DAY AS DATE) AS wk,
         CAST(COUNT(*) AS BIGINT) AS n_churned
  FROM seq CROSS JOIN mx
  WHERE (next_wk IS NULL OR next_wk > wk + INTERVAL 7 DAY)
    AND wk + INTERVAL 7 DAY <= mx.max_wk
  GROUP BY wk + INTERVAL 7 DAY
)
SELECT a.wk, a.n_new, a.n_retained, a.n_resurrected,
       COALESCE(c.n_churned, 0) AS n_churned
FROM active a LEFT JOIN churn c ON a.wk = c.wk
"""


@workload("events_growth_accounting", oracle=_GA_ORACLE)
def events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly GROWTH ACCOUNTING — the new / retained / resurrected /
    churned decomposition of the active-user base (the Social-Capital
    accounting identity: actives(w) = new + retained + resurrected,
    actives(w) - actives(w+1) bridged by churned). Each (user, week)
    row classifies against the user's OWN history via user-partitioned
    windows (first/prev/next week) — millions of tiny partitions at
    scale, no global state; churn for week w+1 is attributed from week
    w's rows (capped at the corpus horizon so no phantom trailing
    week). All counts exact integers; week truncation is Monday-start
    on both engines."""
    e = load_table(spark, sf_dir, "events")
    uw = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("wk")
    ).distinct()
    w_all = Window.partitionBy("user_id")
    w_ord = Window.partitionBy("user_id").orderBy("wk")
    seq = uw.select(
        "user_id",
        "wk",
        F.min("wk").over(w_all).alias("first_wk"),
        F.lag("wk").over(w_ord).alias("prev_wk"),
        F.lead("wk").over(w_ord).alias("next_wk"),
    )
    max_wk = uw.agg(F.max("wk")).first()[0]
    active = seq.groupBy("wk").agg(
        F.sum(F.when(F.col("wk") == F.col("first_wk"), 1).otherwise(0))
        .cast("long")
        .alias("n_new"),
        F.sum(
            F.when(F.col("prev_wk") == F.date_sub(F.col("wk"), 7), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_retained"),
        F.sum(
            F.when(
                F.col("prev_wk").isNotNull()
                & (F.col("prev_wk") < F.date_sub(F.col("wk"), 7)),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_resurrected"),
    )
    churn = (
        seq.filter(
            (
                F.col("next_wk").isNull()
                | (F.col("next_wk") > F.date_add(F.col("wk"), 7))
            )
            & (F.date_add(F.col("wk"), 7) <= F.lit(max_wk))
        )
        .groupBy(F.date_add(F.col("wk"), 7).alias("wk"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_churned"))
    )
    return active.join(churn, "wk", "left").select(
        "wk",
        "n_new",
        "n_retained",
        "n_resurrected",
        F.coalesce(F.col("n_churned"), F.lit(0).cast("long")).alias("n_churned"),
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


# --------------------------------------------------------------------------
# C208 — PIVOT: long event stream -> fixed wide per-user activity matrix
# --------------------------------------------------------------------------
_PIVOT_ORACLE = f"""
SELECT user_id,
       {', '.join(
           f"CAST(COUNT(*) FILTER (WHERE event_type = '{t}') AS BIGINT)"
           f" AS n_{t}" for t in _EVENT_TYPES)},
       CAST(COUNT(*) AS BIGINT) AS n_total
FROM events
GROUP BY user_id
"""


@workload("events_pivot_type_matrix", oracle=_PIVOT_ORACLE)
def events_pivot_type_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT surface: the long (user, event_type) stream pivoted to the
    fixed wide per-user activity matrix — the feature-store "wide
    activity row" shape. The pivot VALUES are an explicit literal list:
    `.pivot(col, values)` with values supplied compiles to one
    conditional-aggregation pass (exactly the oracle's COUNT(*) FILTER
    form, one shuffle on user_id); omitting the list would trigger a
    whole extra distinct-scan job AND a data-dependent schema. Absent
    cells fill 0, so the matrix is dense and schema-stable at any
    scale."""
    ev = load_table(spark, sf_dir, "events")
    wide = (
        ev.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    cols = [
        F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
        for t in _EVENT_TYPES
    ]
    # n_total is a pre-pivot COUNT(*) joined back in, NOT the sum of the
    # pivoted cells: an event_type outside the literal pivot list would
    # silently vanish from a cell-sum but must still count toward the
    # user's total (matching the oracle's unconditional COUNT(*)). Both
    # sides are user-grained aggregates sharing the user_id shuffle key.
    totals = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_total")
    )
    return wide.join(totals, "user_id").select("user_id", *cols, "n_total")


# --------------------------------------------------------------------------
# C209 — UNPIVOT: the wide matrix back to dense long form (stack)
# --------------------------------------------------------------------------
_UNPIVOT_ORACLE = f"""
WITH u AS (SELECT DISTINCT user_id FROM events),
t(event_type) AS (VALUES {', '.join(f"('{t}')" for t in _EVENT_TYPES)}),
c AS (
  SELECT user_id, event_type, COUNT(*) AS n
  FROM events GROUP BY user_id, event_type
)
SELECT u.user_id, t.event_type, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
FROM u CROSS JOIN t
LEFT JOIN c ON c.user_id = u.user_id AND c.event_type = t.event_type
"""


@workload("events_unpivot_roundtrip", oracle=_UNPIVOT_ORACLE)
def events_unpivot_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT surface: melt the C208 wide matrix back to DENSE long form
    (every user x every type, zeros included — the shape model-training
    feature extraction wants) via the `stack()` table generator. Pivot
    then unpivot is the lossless-roundtrip certification of both
    directions; the densification (explicit zeros for absent cells) is
    what distinguishes this from the raw GROUP BY long form."""
    wide = events_pivot_type_matrix(spark, sf_dir)
    stack_expr = "stack({n}, {pairs}) AS (event_type, n)".format(
        n=len(_EVENT_TYPES),
        pairs=", ".join(f"'{t}', n_{t}" for t in _EVENT_TYPES),
    )
    return wide.select("user_id", F.expr(stack_expr)).select(
        "user_id", "event_type", F.col("n").cast("long").alias("n")
    )


# --------------------------------------------------------------------------
# C211 — time-bound funnel conversion (view -> click 24h -> purchase 72h)
# --------------------------------------------------------------------------
_FUNNEL_ORACLE = """
WITH v AS (
  SELECT user_id, MIN(ts) AS first_view
  FROM events WHERE event_type = 'view' GROUP BY user_id
),
k AS (
  SELECT v.user_id, v.first_view, MIN(e.ts) AS first_click
  FROM v JOIN events e
    ON e.user_id = v.user_id AND e.event_type = 'click'
   AND e.ts >= v.first_view
  GROUP BY v.user_id, v.first_view
  HAVING MIN(e.ts) <= v.first_view + INTERVAL 24 HOUR
),
p AS (
  SELECT k.user_id, MIN(e.ts) AS first_purchase
  FROM k JOIN events e
    ON e.user_id = k.user_id AND e.event_type = 'purchase'
   AND e.ts >= k.first_click
  GROUP BY k.user_id, k.first_click
  HAVING MIN(e.ts) <= k.first_click + INTERVAL 72 HOUR
)
SELECT CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_viewers,
       CAST((SELECT COUNT(*) FROM k) AS BIGINT) AS n_clickers_24h,
       CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_purchasers_72h,
       ROUND(CAST((SELECT COUNT(*) FROM k) AS DOUBLE)
             / (SELECT COUNT(*) FROM v), 6) AS view_to_click,
       ROUND(CAST((SELECT COUNT(*) FROM p) AS DOUBLE)
             / (SELECT COUNT(*) FROM k), 6) AS click_to_purchase
"""


@workload("events_funnel_timebound", oracle=_FUNNEL_ORACLE)
def events_funnel_timebound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-BOUND FUNNEL: first view -> first subsequent click within
    24h -> first subsequent purchase within 72h, counting users
    surviving each stage — the stage-windowed form of
    events_funnel_conversion (which tracks unbounded per-user depth;
    real funnel metrics expire stages, so the bounded variant is the
    one a growth team actually reports). Each stage is one
    equi-join on user_id followed by a keyed aggregate — all three
    stages shuffle on the SAME key, so at scale the exchange is reused
    across the chain; no window function, no per-user state."""
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("k_user"), F.col("ts").alias("k_ts")
    )
    k = (
        v.join(
            clicks,
            (F.col("k_user") == F.col("user_id"))
            & (F.col("k_ts") >= F.col("first_view")),
        )
        .groupBy("user_id", "first_view")
        .agg(F.min("k_ts").alias("first_click"))
        .filter(
            F.col("first_click")
            <= F.col("first_view") + F.expr("INTERVAL 24 HOUR")
        )
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    p = (
        k.join(
            purch,
            (F.col("p_user") == F.col("user_id"))
            & (F.col("p_ts") >= F.col("first_click")),
        )
        .groupBy("user_id", "first_click")
        .agg(F.min("p_ts").alias("first_purchase"))
        .filter(
            F.col("first_purchase")
            <= F.col("first_click") + F.expr("INTERVAL 72 HOUR")
        )
    )
    nv = v.agg(F.count(F.lit(1)).alias("n_viewers"))
    nk = k.agg(F.count(F.lit(1)).alias("n_clickers_24h"))
    np_ = p.agg(F.count(F.lit(1)).alias("n_purchasers_72h"))
    return (
        nv.crossJoin(nk)
        .crossJoin(np_)
        .select(
            F.col("n_viewers").cast("long"),
            F.col("n_clickers_24h").cast("long"),
            F.col("n_purchasers_72h").cast("long"),
            F.round(
                F.col("n_clickers_24h").cast("double") / F.col("n_viewers"), 6
            ).alias("view_to_click"),
            F.round(
                F.col("n_purchasers_72h").cast("double")
                / F.col("n_clickers_24h"),
                6,
            ).alias("click_to_purchase"),
        )
    )


# --------------------------------------------------------------------------
# C219 — SLO burn rate (multi-window error-budget alerting)
# --------------------------------------------------------------------------
_SLO_BUDGET = 0.25   # error-share budget
_SLO_LONG_H = 6      # long window, hours

_SLO_ORACLE = f"""
WITH hourly AS (
  SELECT date_diff('hour', TIMESTAMP '1970-01-01 00:00:00',
                   date_trunc('hour', ts)) AS hr,
         COUNT(*) AS n_total,
         COUNT(*) FILTER (WHERE event_type = 'error') AS n_err
  FROM events GROUP BY 1
),
targets AS (
  SELECT h.hr + r.range AS t_hr, h.n_total, h.n_err
  FROM hourly h CROSS JOIN range({_SLO_LONG_H}) r
),
rolled AS (
  SELECT h.hr, h.n_total, h.n_err,
         CAST(SUM(t.n_total) AS BIGINT) AS n_total_6h,
         CAST(SUM(t.n_err) AS BIGINT) AS n_err_6h
  FROM hourly h JOIN targets t ON t.t_hr = h.hr
  GROUP BY h.hr, h.n_total, h.n_err
)
SELECT CAST(hr AS BIGINT) AS hr,
       CAST(n_total AS BIGINT) AS n_total,
       CAST(n_err AS BIGINT) AS n_err,
       n_total_6h, n_err_6h,
       ROUND(CAST(n_err AS DOUBLE) / n_total / {_SLO_BUDGET}, 6)
         AS burn_short,
       ROUND(CAST(n_err_6h AS DOUBLE) / n_total_6h / {_SLO_BUDGET}, 6)
         AS burn_long,
       (CAST(n_err AS DOUBLE) / n_total > {_SLO_BUDGET}
        AND CAST(n_err_6h AS DOUBLE) / n_total_6h > {_SLO_BUDGET})
         AS is_burning
FROM rolled
"""


@workload("events_slo_burn_rate", oracle=_SLO_ORACLE)
def events_slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-WINDOW SLO BURN-RATE alerting (the Google SRE workbook
    pattern): per hour, the short-window (1h) and long-window (6h
    trailing) error-share burn rates against a fixed budget, alerting
    only when BOTH windows burn — short-only is noise, long-only is
    stale. The 6h trailing sum is an EQUI-join: each hour's counts
    explode to the 6 future hours they cover (sequence + explode), so
    there is no global-ordered window (the single-partition plan class
    this engine bans) and no range join; the hourly table is bounded by
    the time span, not the event volume."""
    ev = load_table(spark, sf_dir, "events")
    hours = F.unix_micros(
        F.date_trunc("hour", F.col("ts")).cast("timestamp")
    ) / F.lit(3600_000_000)
    hourly = (
        ev.select(
            hours.cast("long").alias("hr"),
            F.col("event_type"),
        )
        .groupBy("hr")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count(F.when(F.col("event_type") == "error", 1)).alias("n_err"),
        )
    )
    targets = hourly.select(
        F.explode(
            F.sequence(F.col("hr"), F.col("hr") + (_SLO_LONG_H - 1))
        ).alias("t_hr"),
        F.col("n_total").alias("t_total"),
        F.col("n_err").alias("t_err"),
    )
    rolled = (
        hourly.join(targets, hourly["hr"] == targets["t_hr"])
        .groupBy("hr", "n_total", "n_err")
        .agg(
            F.sum("t_total").cast("long").alias("n_total_6h"),
            F.sum("t_err").cast("long").alias("n_err_6h"),
        )
    )
    rate_s = F.col("n_err").cast("double") / F.col("n_total")
    rate_l = F.col("n_err_6h").cast("double") / F.col("n_total_6h")
    return rolled.select(
        F.col("hr").cast("long"),
        F.col("n_total").cast("long"),
        F.col("n_err").cast("long"),
        "n_total_6h",
        "n_err_6h",
        F.round(rate_s / _SLO_BUDGET, 6).alias("burn_short"),
        F.round(rate_l / _SLO_BUDGET, 6).alias("burn_long"),
        ((rate_s > _SLO_BUDGET) & (rate_l > _SLO_BUDGET)).alias("is_burning"),
    )


# --------------------------------------------------------------------------
# C220 — cohort retention triangle (weekly)
# --------------------------------------------------------------------------
_RETENTION_ORACLE = """
WITH firsts AS (
  SELECT user_id,
         date_diff('day', DATE '1970-01-01', MIN(CAST(ts AS DATE))) // 7
           AS cohort_week
  FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT e.user_id,
         date_diff('day', DATE '1970-01-01', CAST(e.ts AS DATE)) // 7
           AS act_week
  FROM events e
),
sizes AS (
  SELECT cohort_week, COUNT(*) AS cohort_size FROM firsts GROUP BY 1
),
cells AS (
  SELECT f.cohort_week, a.act_week - f.cohort_week AS week_n,
         COUNT(DISTINCT a.user_id) AS n_active
  FROM firsts f JOIN activity a ON a.user_id = f.user_id
  GROUP BY 1, 2
)
SELECT CAST(c.cohort_week AS BIGINT) AS cohort_week,
       CAST(c.week_n AS BIGINT) AS week_n,
       CAST(c.n_active AS BIGINT) AS n_active,
       CAST(s.cohort_size AS BIGINT) AS cohort_size,
       ROUND(CAST(c.n_active AS DOUBLE) / s.cohort_size, 6) AS retention
FROM cells c JOIN sizes s ON s.cohort_week = c.cohort_week
"""


@workload("events_retention_matrix", oracle=_RETENTION_ORACLE)
def events_retention_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHORT RETENTION TRIANGLE: users cohorted by first-active week
    (epoch-week buckets — calendar-truncation-free, so no Monday-start
    engine divergence), each later week's retained share of the cohort —
    the table every growth dashboard renders. All weeks are nonnegative
    integer day-quotients (floor == truncate, so Spark div and DuckDB //
    agree); one shuffle on user_id for the cohort join, then a keyed
    aggregate per (cohort, week)."""
    ev = load_table(spark, sf_dir, "events")
    day_num = F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
    week = F.floor(day_num / 7).cast("long")
    firsts = ev.groupBy("user_id").agg(F.min(week).alias("cohort_week"))
    activity = ev.select(
        "user_id", week.alias("act_week")
    ).distinct()
    sizes = firsts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    cells = (
        firsts.join(activity, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("act_week") - F.col("cohort_week")).alias("week_n"),
        )
        .agg(F.count_distinct(F.col("user_id")).alias("n_active"))
    )
    return cells.join(sizes, "cohort_week").select(
        F.col("cohort_week").cast("long"),
        F.col("week_n").cast("long"),
        F.col("n_active").cast("long"),
        F.col("cohort_size").cast("long"),
        F.round(
            F.col("n_active").cast("double") / F.col("cohort_size"), 6
        ).alias("retention"),
    )
