"""Ledger workloads (Tier A) over the derived `pipeline_runs` view.

Each workload pairs a `ledger.tasks` DataFrame builder with the equivalent
ANSI SQL (same LEDGER_CTE prefix) for the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sample_data_pipeline_project_spark.ledger import tasks
from sample_data_pipeline_project_spark.ledger.derive import LEDGER_CTE, derived_ledger
from sample_data_pipeline_project_spark.workloads import workload


_DAY = "2024-01-05"
_LEDGER_COLS = (
    "run_id, pipeline_name, index_name, pipeline_status, "
    "query_window_start_ts, query_window_end_ts, "
    "query_window_start_day, query_window_end_day"
)


@workload(
    "ledger_status_count",
    oracle=f"""
WITH {LEDGER_CTE}
SELECT COUNT(*) AS row_count
FROM pipeline_runs
WHERE pipeline_status = 'completed'
""",
)
def ledger_status_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 — scalar COUNT(*) by status (reference: snowflake_tasks.py:65-138)."""
    return tasks.status_count_df(derived_ledger(spark, sf_dir), "completed")


@workload(
    "ledger_oldest_record",
    oracle=f"""
WITH {LEDGER_CTE}
SELECT {_LEDGER_COLS}
FROM pipeline_runs
WHERE pipeline_status = 'pending'
ORDER BY query_window_start_ts ASC, run_id ASC
LIMIT 1
""",
)
def ledger_oldest_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 — ORDER BY ts ASC LIMIT 1 (reference: snowflake_tasks.py:140-244)."""
    return tasks.picked_record_df(derived_ledger(spark, sf_dir), "pending", latest=False)


@workload(
    "ledger_latest_record",
    oracle=f"""
WITH {LEDGER_CTE}
SELECT {_LEDGER_COLS}
FROM pipeline_runs
WHERE pipeline_status = 'failed'
ORDER BY query_window_start_ts DESC, run_id DESC
LIMIT 1
""",
)
def ledger_latest_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 — ORDER BY ts DESC LIMIT 1 (reference: snowflake_tasks.py:246-350)."""
    return tasks.picked_record_df(derived_ledger(spark, sf_dir), "failed", latest=True)


@workload(
    "ledger_gaps_one_group",
    oracle=f"""
WITH {LEDGER_CTE},
scoped AS (
  SELECT *,
         LAG(query_window_end_ts) OVER (
           PARTITION BY pipeline_name, index_name, query_window_start_day
           ORDER BY query_window_start_ts ASC, run_id ASC
         ) AS prev_end_ts
  FROM pipeline_runs
  WHERE pipeline_name = 'click'
    AND index_name = 'idx_1'
    AND query_window_start_day = DATE '{_DAY}'
)
SELECT pipeline_name, index_name, query_window_start_day AS day,
       prev_end_ts AS missing_from_ts,
       query_window_start_ts AS missing_until_ts
FROM scoped
WHERE prev_end_ts IS NOT NULL AND query_window_start_ts != prev_end_ts
""",
)
def ledger_gaps_one_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12/A13 — LAG gap detection, reference-shaped single group
    (reference: snowflake_tasks.py:352-486)."""
    return tasks.gaps_df(derived_ledger(spark, sf_dir), _DAY, "click", "idx_1")


_GAPS_ALL_GROUPS_ORACLE = f"""
WITH {LEDGER_CTE},
scoped AS (
  SELECT *,
         LAG(query_window_end_ts) OVER (
           PARTITION BY pipeline_name, index_name, query_window_start_day
           ORDER BY query_window_start_ts ASC, run_id ASC
         ) AS prev_end_ts
  FROM pipeline_runs
)
SELECT pipeline_name, index_name, query_window_start_day AS day,
       prev_end_ts AS missing_from_ts,
       query_window_start_ts AS missing_until_ts
FROM scoped
WHERE prev_end_ts IS NOT NULL AND query_window_start_ts != prev_end_ts
"""


@workload("ledger_gaps_all_groups", oracle=_GAPS_ALL_GROUPS_ORACLE)
def ledger_gaps_all_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 at scale — same gap query over the WHOLE ledger, window
    partitioned by (pipeline, index, day): parallelism = #groups instead of
    the reference's single global-order window."""
    return tasks.gaps_df(derived_ledger(spark, sf_dir))


@workload(
    "ledger_overlap_pairs",
    oracle=f"""
WITH {LEDGER_CTE},
scoped AS (
  SELECT * FROM pipeline_runs
  WHERE pipeline_name = 'click'
    AND index_name = 'idx_1'
    AND query_window_start_day <= DATE '{_DAY}'
    AND query_window_end_day >= DATE '{_DAY}'
    AND query_window_start_ts < DATE '{_DAY}' + INTERVAL 1 DAY
    AND query_window_end_ts > TIMESTAMP '{_DAY} 00:00:00'
)
SELECT t1.pipeline_name AS pipeline_name,
       t1.index_name AS index_name,
       t1.run_id AS source_run_id,
       t1.query_window_start_ts AS source_window_start_ts,
       t1.query_window_end_ts AS source_window_end_ts,
       t2.run_id AS overlaps_with_run_id,
       t2.query_window_start_ts AS overlaps_with_start_ts,
       t2.query_window_end_ts AS overlaps_with_end_ts
FROM scoped t1
JOIN scoped t2
  ON t1.pipeline_name = t2.pipeline_name
 AND t1.index_name = t2.index_name
 AND t1.query_window_start_ts < t2.query_window_end_ts
 AND t1.query_window_end_ts > t2.query_window_start_ts
 AND t1.run_id != t2.run_id
""",
)
def ledger_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14 — day-bounded interval self-join (reference:
    snowflake_tasks.py:488-584), equi-keys + overlap residual."""
    return tasks.overlap_pairs_df(derived_ledger(spark, sf_dir), "click", "idx_1", _DAY)


@workload(
    "ledger_overlap_input",
    oracle=f"""
WITH {LEDGER_CTE}
SELECT {_LEDGER_COLS}
FROM pipeline_runs
WHERE pipeline_name = 'view'
  AND index_name = 'idx_0'
  AND query_window_start_day <= DATE '2024-01-12'
  AND query_window_end_day >= DATE '2024-01-10'
  AND query_window_start_ts < TIMESTAMP '2024-01-12 00:00:00'
  AND query_window_end_ts > TIMESTAMP '2024-01-10 00:00:00'
""",
)
def ledger_overlap_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15 — overlap vs caller-supplied interval, two-stage day-band +
    exact refinement (reference: overlap_checks.py:4-107)."""
    return tasks.overlap_input_df(
        derived_ledger(spark, sf_dir),
        "view",
        "idx_0",
        "2024-01-10T00:00:00",
        "2024-01-12T00:00:00",
    )


# --------------------------------------------------------------------------
# Event-time containment join: events -> the run window holding them
# --------------------------------------------------------------------------
@workload(
    "join_events_to_runs",
    oracle=f"""
WITH {LEDGER_CTE}
SELECT r.run_id, r.pipeline_name,
       CAST(COUNT(*) AS BIGINT) AS n_events_in_window
FROM pipeline_runs r
JOIN events e
  ON e.event_type = r.pipeline_name
 AND e.ts >= r.query_window_start_ts
 AND e.ts < r.query_window_end_ts
GROUP BY r.run_id, r.pipeline_name
""",
)
def join_events_to_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time INTERVAL-CONTAINMENT join at scale: count the events of
    a pipeline's type falling inside each run's [start, end) window —
    the attribution query behind "which run ingested this event". A
    naive theta join is a BroadcastNestedLoopJoin; here both sides are
    bucketed onto a 5-minute time grid (each window spans at most 2
    cells, each event exactly 1), the join is an EQUI-join on
    (pipeline, cell), and the exact containment predicate runs as a
    join residual — the time-axis analogue of
    operators/rangejoin.band_range_join, and the same two-stage
    coarse-band-then-exact idea as the reference's day filter
    (overlap_checks.py:49-61). Bucket fan-out is a fixed 2x on the runs
    side, so shuffle volume stays linear at any scale."""
    from pyspark.sql import functions as F

    from sample_data_pipeline_project_spark.sources.catalog import load_table

    _CELL_US = 300_000_000  # 5-minute grid, microseconds
    runs = derived_ledger(spark, sf_dir)
    run_cells = runs.select(
        "run_id",
        "pipeline_name",
        "query_window_start_ts",
        "query_window_end_ts",
        F.explode(
            F.array(
                (
                    F.unix_micros(
                        F.col("query_window_start_ts").cast("timestamp")
                    )
                    / _CELL_US
                ).cast("long"),
                (
                    F.unix_micros(
                        F.col("query_window_start_ts").cast("timestamp")
                    )
                    / _CELL_US
                ).cast("long")
                + 1,
            )
        ).alias("cell"),
    )
    events = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("pipeline_name"),
        F.col("ts"),
        (F.unix_micros(F.col("ts").cast("timestamp")) / _CELL_US)
        .cast("long")
        .alias("cell"),
    )
    return (
        run_cells.join(events, ["pipeline_name", "cell"])
        .filter(
            (F.col("ts") >= F.col("query_window_start_ts"))
            & (F.col("ts") < F.col("query_window_end_ts"))
        )
        .groupBy("run_id", "pipeline_name")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events_in_window"))
    )


# --------------------------------------------------------------------------
# Interval-union coverage: merged run windows (islands) per pipeline group
# --------------------------------------------------------------------------
_COVERAGE_ORACLE = f"""
WITH {LEDGER_CTE},
seq AS (
  SELECT pipeline_name, index_name,
         query_window_start_ts AS s, query_window_end_ts AS e, run_id,
         MAX(query_window_end_ts) OVER (
           PARTITION BY pipeline_name, index_name
           ORDER BY query_window_start_ts, run_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_e
  FROM pipeline_runs
),
flagged AS (
  SELECT *, CASE WHEN prev_max_e IS NULL OR s > prev_max_e
                 THEN 1 ELSE 0 END AS is_new
  FROM seq
),
islands AS (
  SELECT pipeline_name, index_name, s, e,
         CAST(SUM(is_new) OVER (
           PARTITION BY pipeline_name, index_name
           ORDER BY s, run_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS island_seq
  FROM flagged
),
merged AS (
  SELECT pipeline_name, index_name, island_seq,
         CAST(epoch_us(MAX(e)) - epoch_us(MIN(s)) AS BIGINT) AS covered_us,
         CAST(COUNT(*) AS BIGINT) AS n_runs
  FROM islands
  GROUP BY pipeline_name, index_name, island_seq
)
SELECT pipeline_name, index_name,
       CAST(COUNT(*) AS BIGINT) AS n_islands,
       CAST(SUM(covered_us) AS BIGINT) AS total_covered_us,
       CAST(MAX(covered_us) AS BIGINT) AS max_island_us,
       CAST(MAX(n_runs) AS BIGINT) AS max_island_runs
FROM merged
GROUP BY pipeline_name, index_name
"""


@workload("ledger_coverage_islands", oracle=_COVERAGE_ORACLE)
def ledger_coverage_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-UNION coverage per (pipeline, index): overlapping or
    touching run windows merge into islands (strict-gap test `start >
    cummax(prev ends)`, half-open semantics shared with A13 gap
    detection), then per-group totals — how much wall-clock each
    pipeline actually covered, counting overlaps once. One shuffle on
    the group key serves both windows AND both group-bys
    (co-partitioned); the cummax window is the same O(1)-state
    per-partition scan the gap detector uses, so the shape survives any
    per-group run count. Integer microsecond arithmetic end-to-end."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    runs = derived_ledger(spark, sf_dir)
    w = Window.partitionBy("pipeline_name", "index_name").orderBy(
        "query_window_start_ts", "run_id"
    )
    prev_max_e = F.max("query_window_end_ts").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = runs.select(
        "pipeline_name",
        "index_name",
        F.col("query_window_start_ts").alias("s"),
        F.col("query_window_end_ts").alias("e"),
        "run_id",
        F.when(
            prev_max_e.isNull() | (F.col("query_window_start_ts") > prev_max_e),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    w2 = Window.partitionBy("pipeline_name", "index_name").orderBy("s", "run_id")
    islands = flagged.withColumn(
        "island_seq",
        F.sum("is_new").over(
            w2.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).cast("long"),
    )
    merged = islands.groupBy("pipeline_name", "index_name", "island_seq").agg(
        (
            F.unix_micros(F.max("e").cast("timestamp"))
            - F.unix_micros(F.min("s").cast("timestamp"))
        ).alias("covered_us"),
        F.count(F.lit(1)).cast("long").alias("n_runs"),
    )
    return merged.groupBy("pipeline_name", "index_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_islands"),
        F.sum("covered_us").cast("long").alias("total_covered_us"),
        F.max("covered_us").cast("long").alias("max_island_us"),
        F.max("n_runs").cast("long").alias("max_island_runs"),
    )


# --------------------------------------------------------------------------
# Backfill work plan — the complement of the coverage islands
# --------------------------------------------------------------------------
_BACKFILL_ORACLE = f"""
WITH {LEDGER_CTE},
seq AS (
  SELECT pipeline_name, index_name,
         query_window_start_ts AS s, query_window_end_ts AS e, run_id,
         MAX(query_window_end_ts) OVER (
           PARTITION BY pipeline_name, index_name
           ORDER BY query_window_start_ts, run_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_e
  FROM pipeline_runs
)
SELECT pipeline_name, index_name,
       prev_max_e AS gap_start, s AS gap_end,
       CAST(epoch_us(s) - epoch_us(prev_max_e) AS BIGINT) AS gap_us
FROM seq
WHERE prev_max_e IS NOT NULL AND s > prev_max_e
"""


@workload("ledger_backfill_plan", oracle=_BACKFILL_ORACLE)
def ledger_backfill_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BACKFILL WORK PLAN — the reference library's reason to exist,
    emitted as data: every uncovered interval between merged coverage
    islands (C83) per (pipeline, index), i.e. exactly the [prev_max_end,
    next_start) ranges a scheduler must re-run to make the ledger
    continuous. The running-max window is the C83 island machinery
    stopped one step earlier (emit the complement instead of the union);
    gap durations are exact epoch MICROSECONDS. Windows ride
    (pipeline, index) partitions — never global."""
    from pyspark.sql.window import Window

    led = derived_ledger(spark, sf_dir)
    w = (
        Window.partitionBy("pipeline_name", "index_name")
        .orderBy("query_window_start_ts", "run_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = led.select(
        "pipeline_name",
        "index_name",
        F.col("query_window_start_ts").alias("s"),
        "run_id",
        F.max("query_window_end_ts").over(w).alias("prev_max_e"),
    )
    return seq.filter(
        F.col("prev_max_e").isNotNull() & (F.col("s") > F.col("prev_max_e"))
    ).select(
        "pipeline_name",
        "index_name",
        F.col("prev_max_e").alias("gap_start"),
        F.col("s").alias("gap_end"),
        (
            F.unix_micros(F.col("s").cast("timestamp"))
            - F.unix_micros(F.col("prev_max_e").cast("timestamp"))
        ).alias("gap_us"),
    )


# --------------------------------------------------------------------------
# SLA breach audit over run windows
# --------------------------------------------------------------------------
_SLA_US = 7_200_000_000  # 2 hours

_SLA_ORACLE = f"""
WITH {LEDGER_CTE},
d AS (
  SELECT pipeline_name, index_name,
         CAST(epoch_us(query_window_end_ts)
              - epoch_us(query_window_start_ts) AS BIGINT) AS dur_us
  FROM pipeline_runs
)
SELECT pipeline_name, index_name,
       CAST(COUNT(*) AS BIGINT) AS n_runs,
       CAST(SUM(CASE WHEN dur_us > {_SLA_US} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_breach,
       CAST(MAX(dur_us) AS BIGINT) AS max_dur_us
FROM d GROUP BY pipeline_name, index_name
"""


@workload("ledger_sla_breach_audit", oracle=_SLA_ORACLE)
def ledger_sla_breach_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLA AUDIT over the run ledger: per (pipeline, index), how many run
    windows exceed the 2-hour processing SLA, with the worst duration —
    the operational-health rollup a ledger owner reads before trusting
    the backfill plan. Durations are exact epoch-microsecond integers;
    one keyed aggregate."""
    led = derived_ledger(spark, sf_dir)
    dur = (
        F.unix_micros(F.col("query_window_end_ts").cast("timestamp"))
        - F.unix_micros(F.col("query_window_start_ts").cast("timestamp"))
    ).alias("dur_us")
    d = led.select("pipeline_name", "index_name", dur)
    return d.groupBy("pipeline_name", "index_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_runs"),
        F.sum(F.when(F.col("dur_us") > _SLA_US, 1).otherwise(0))
        .cast("long")
        .alias("n_breach"),
        F.max("dur_us").cast("long").alias("max_dur_us"),
    )


# --------------------------------------------------------------------------
# C170 — sweep-line max interval concurrency per (pipeline, index)
# --------------------------------------------------------------------------

_CONC_ORACLE = f"""
WITH {LEDGER_CTE},
pts AS (
  SELECT pipeline_name, index_name, query_window_start_ts AS ts,
         1 AS delta, run_id
  FROM pipeline_runs
  UNION ALL
  SELECT pipeline_name, index_name, query_window_end_ts AS ts,
         -1 AS delta, run_id
  FROM pipeline_runs
),
swept AS (
  SELECT pipeline_name, index_name, delta,
         SUM(delta) OVER (
           PARTITION BY pipeline_name, index_name
           ORDER BY ts, delta, run_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS conc
  FROM pts
)
SELECT pipeline_name, index_name,
       CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_runs,
       CAST(MAX(conc) AS BIGINT) AS max_concurrent
FROM swept
GROUP BY pipeline_name, index_name
"""


@workload("ledger_max_concurrency", oracle=_CONC_ORACLE)
def ledger_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max number of SIMULTANEOUSLY active runs per (pipeline, index) —
    the classic sweep line: +1 at each half-open interval's start, -1 at
    its end, running sum in (ts, delta, run_id) order (ends sort before
    starts at the same instant, so back-to-back runs never double-count),
    max per group. The running sum is a window PARTITIONED BY the group
    key — each partition is one pipeline/index stream, so the sweep
    parallelizes across groups at any scale; no global sort exists
    anywhere in the plan. This is the capacity-planning primitive for a
    run ledger (reference surface: snowflake_tasks.py interval queries)."""
    runs = derived_ledger(spark, sf_dir)
    starts = runs.select(
        "pipeline_name",
        "index_name",
        F.col("query_window_start_ts").alias("ts"),
        F.lit(1).alias("delta"),
        "run_id",
    )
    ends = runs.select(
        "pipeline_name",
        "index_name",
        F.col("query_window_end_ts").alias("ts"),
        F.lit(-1).alias("delta"),
        "run_id",
    )
    w = (
        Window.partitionBy("pipeline_name", "index_name")
        .orderBy("ts", "delta", "run_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    swept = starts.unionByName(ends).withColumn("conc", F.sum("delta").over(w))
    return swept.groupBy("pipeline_name", "index_name").agg(
        F.sum(F.when(F.col("delta") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_runs"),
        F.max("conc").cast("long").alias("max_concurrent"),
    )


# --------------------------------------------------------------------------
# C180 — bitemporal ledger: event-time latest AS OF a system-time cut
# --------------------------------------------------------------------------

_BITEMP_ORACLE = f"""
WITH {LEDGER_CTE},
cut AS (SELECT CAST(MAX(run_id) // 2 AS BIGINT) AS s FROM pipeline_runs),
asof_v AS (
  SELECT pipeline_name, index_name, run_id, query_window_start_ts,
         ROW_NUMBER() OVER (PARTITION BY pipeline_name, index_name
                            ORDER BY query_window_start_ts DESC,
                                     run_id DESC) AS rn
  FROM pipeline_runs, cut
  WHERE run_id <= cut.s
),
now_ AS (
  SELECT pipeline_name, index_name, run_id, query_window_start_ts,
         ROW_NUMBER() OVER (PARTITION BY pipeline_name, index_name
                            ORDER BY query_window_start_ts DESC,
                                     run_id DESC) AS rn
  FROM pipeline_runs
)
SELECT n.pipeline_name, n.index_name,
       a.run_id AS asof_run_id,
       a.query_window_start_ts AS asof_start_ts,
       n.run_id AS now_run_id,
       n.query_window_start_ts AS now_start_ts,
       (a.run_id IS DISTINCT FROM n.run_id) AS changed
FROM now_ n
LEFT JOIN asof_v a
  ON n.pipeline_name = a.pipeline_name AND n.index_name = a.index_name
 AND a.rn = 1
WHERE n.rn = 1
"""


@workload("ledger_bitemporal_asof", oracle=_BITEMP_ORACLE)
def ledger_bitemporal_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal ledger reconstruction: the ledger's append-only run_id
    is its SYSTEM time, the query windows its EVENT time. 'What did the
    latest-run-per-(pipeline, index) view look like when only the first
    half of the ledger had been ingested?' — filter to run_id <= cut
    (system-time travel over an append-only table needs no snapshots,
    just a monotone ingest id), take the event-time latest per group on
    both the cut and the full ledger, and diff. The cut is a bounded
    driver scalar (MAX // 2); per-group latest rows are key-partitioned
    windows. This is the audit query behind 'which groups' current state
    is newer than snapshot S' — reference ledger semantics
    (snowflake_tasks.py latest-record queries) extended along the system
    axis."""
    runs = derived_ledger(spark, sf_dir)
    cut = runs.agg(F.expr("CAST(MAX(run_id) div 2 AS BIGINT)").alias("s")).collect()[
        0
    ]["s"]
    w = Window.partitionBy("pipeline_name", "index_name").orderBy(
        F.col("query_window_start_ts").desc(), F.col("run_id").desc()
    )
    base = runs.select(
        "pipeline_name", "index_name", "run_id", "query_window_start_ts"
    )
    asof = (
        base.filter(F.col("run_id") <= F.lit(cut))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "pipeline_name",
            "index_name",
            F.col("run_id").alias("asof_run_id"),
            F.col("query_window_start_ts").alias("asof_start_ts"),
        )
    )
    now = (
        base.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "pipeline_name",
            "index_name",
            F.col("run_id").alias("now_run_id"),
            F.col("query_window_start_ts").alias("now_start_ts"),
        )
    )
    return now.join(asof, ["pipeline_name", "index_name"], "left").select(
        "pipeline_name",
        "index_name",
        "asof_run_id",
        "asof_start_ts",
        "now_run_id",
        "now_start_ts",
        (~F.col("asof_run_id").eqNullSafe(F.col("now_run_id"))).alias("changed"),
    )
