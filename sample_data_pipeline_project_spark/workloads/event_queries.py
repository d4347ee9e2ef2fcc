"""Event workloads: JSON extraction (B5) and event-time windows (B6, batch).

`events.props` is a JSON string; `events.ts` the event-time column. The
batch forms here (tumbling via `window()`, session via `session_window()`)
are the same expressions the streaming module (streaming/eventtime.py)
runs incrementally with a watermark — Spark's batch/streaming unification
means one definition serves both.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from sample_data_pipeline_project_spark.operators.materialize import materialize
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


@workload(
    "events_sliding_window",
    oracle="""
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
""",
)
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
# Round 4: DYNAMIC-GAP sessionization (per-event-type inactivity gap)
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
