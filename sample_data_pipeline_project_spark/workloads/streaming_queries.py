"""Streaming workloads: incremental execution cross-checked against the
batch SQL oracle — the correctness statement that matters for a streaming
engine is exactly "incremental result == batch result".

A stream workload and its batch twin share one oracle, and where the
Spark side needs the same fold or estimate, one helper: the stream half
imports it from the batch family's module.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sample_data_pipeline_project_spark.ledger.derive import LEDGER_CTE
from sample_data_pipeline_project_spark.operators.materialize import materialize
from sample_data_pipeline_project_spark.sources.pydatasource import (
    register_det_range_stream,
)
from sample_data_pipeline_project_spark.sources.scratch import scratch_dir
from sample_data_pipeline_project_spark.streaming.eventtime import (
    hourly_counts_stream,
    run_stream_to_table,
    stream_events,
    stream_session,
)
from sample_data_pipeline_project_spark.workloads import workload
from sample_data_pipeline_project_spark.workloads.dedup_queries import (
    _BANDS,
    _INC_DELTA_MOD,
    _NUM_HASHES,
    _duck_minhash_oracle,
)
from sample_data_pipeline_project_spark.workloads.event_queries import (
    _BM_ORACLE,
    _DEBOUNCE_ORACLE,
    _SLIDING_ORACLE,
)
from sample_data_pipeline_project_spark.workloads.ledger_queries import (
    _GAPS_ALL_GROUPS_ORACLE,
)
from sample_data_pipeline_project_spark.workloads.text_queries import (
    _CM_SEEDS,
    _cm_bucket_sql,
    _cm_estimates,
    _cm_oracle,
)
from sample_data_pipeline_project_spark.workloads.timeseries_queries import (
    _EWMA_ORACLE,
    _HOLT_ORACLE,
    _holt_fold,
)


# Batch oracle of the same aggregation (no n_users: exact COUNT(DISTINCT)
# is not incrementally computable, see hourly_counts_stream).
_HOURLY_ORACLE = """
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
"""


@workload("stream_hourly_tumbling", oracle=_HOURLY_ORACLE)
def stream_hourly_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B6 (streaming) — the tumbling-window aggregation executed as a real
    Structured Streaming query (readStream -> watermark -> windowed agg ->
    availableNow trigger -> memory sink), then compared to the BATCH DuckDB
    oracle: stream-vs-batch parity."""
    events = stream_events(spark, sf_dir)
    return run_stream_to_table(hourly_counts_stream(events))


@workload(
    "stream_click_view_join",
    oracle="""
SELECT c.user_id, c.event_id AS click_id, c.ts AS click_ts,
       v.event_id AS view_id, v.ts AS view_ts
FROM events c
JOIN events v
  ON c.event_type = 'click' AND v.event_type = 'view'
 AND v.user_id = c.user_id
 AND v.ts <= c.ts
 AND v.ts >= c.ts - INTERVAL 1 HOUR
""",
)
def stream_click_view_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B6 (streaming) — stream-stream inner join with watermark-bounded
    state (clicks x views of the same user within the preceding hour),
    executed incrementally and compared to the batch join oracle."""
    from pyspark.sql import functions as F

    from sample_data_pipeline_project_spark.streaming.eventtime import (
        click_view_join_stream,
    )

    events = stream_events(spark, sf_dir)
    clicks = events.filter(F.col("event_type") == "click")
    views = stream_events(spark, sf_dir).filter(F.col("event_type") == "view")
    return run_stream_to_table(
        click_view_join_stream(clicks, views), output_mode="append"
    )


@workload(
    "stream_dedup_exact",
    oracle="""
SELECT event_id, ts, user_id, event_type, value, props
FROM events
""",
)
def stream_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1/B6 (streaming) — exact dedup under duplication: the event stream
    unioned with itself (every event arrives twice) then
    dropDuplicatesWithinWatermark on event_id, executed incrementally.
    The oracle is simply the original table: recovering it exactly is the
    correctness statement for streaming dedup."""
    doubled = stream_events(spark, sf_dir).unionAll(stream_events(spark, sf_dir))
    from sample_data_pipeline_project_spark.streaming.eventtime import dedup_stream

    return run_stream_to_table(dedup_stream(doubled), output_mode="append")


@workload(
    "stream_sessionization",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 6 HOUR
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_new_session
  FROM events
),
sessions AS (
  SELECT user_id, ts,
         SUM(is_new_session) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 6 HOUR AS session_end,
       COUNT(*) AS n_events
FROM sessions
GROUP BY user_id, session_seq
""",
)
def stream_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B6 (streaming) — sessionization via `session_window` state (open
    sessions per user, merged incrementally across micro-batches), run to
    completion and compared to the batch gaps-and-islands oracle. Spark's
    session end = last event + gap, so the oracle adds the 6h gap to
    MAX(ts); equality of the two independent formulations (stateful merge
    vs lag/cumsum) is the correctness statement."""
    from sample_data_pipeline_project_spark.streaming.eventtime import (
        session_counts_stream,
    )

    events = stream_events(spark, sf_dir)
    return run_stream_to_table(session_counts_stream(events))


@workload(
    "stream_stateful_user_totals",
    oracle="""
SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id
""",
)
def stream_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B6 (streaming) — arbitrary stateful processing via
    applyInPandasWithState: per-user running event counts held as O(1)
    state per key. Update mode re-emits a key per micro-batch, so the
    final per-key value is taken as max(n_events) (the count is
    monotone); the float running total stays out of the oracle hash
    (summation order is engine-specific), the exact integer count is the
    checked surface."""
    from pyspark.sql import functions as F

    from sample_data_pipeline_project_spark.streaming.eventtime import (
        user_totals_stateful,
    )

    events = stream_events(spark, sf_dir)
    out = run_stream_to_table(user_totals_stateful(events), "update")
    return out.groupBy("user_id").agg(F.max("n_events").alias("n_events"))


@workload(
    "stream_static_enrich",
    oracle="""
SELECT e.event_id, e.user_id, e.event_type, e.ts,
       c.c_mktsegment AS segment, n.n_name AS nation
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
""",
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B6 (streaming) — stream-static enrichment: the event stream joined
    against a broadcast static dimension (customer x nation), stateless
    append mode (no watermark, no state store). The checked surface is the
    fully-enriched event rows vs the batch join oracle."""
    from pyspark.sql import functions as F

    from sample_data_pipeline_project_spark.sources.catalog import load_table
    from sample_data_pipeline_project_spark.streaming.eventtime import enrich_stream

    dim = (
        load_table(spark, sf_dir, "customer")
        .join(
            load_table(spark, sf_dir, "nation"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
            F.col("n_name").alias("nation"),
        )
    )
    events = stream_events(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "ts"
    )
    out = enrich_stream(events, dim, "user_id")
    out = out.select(
        "event_id",
        "user_id",
        "event_type",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        "segment",
        "nation",
    )
    return run_stream_to_table(out, output_mode="append")


@workload("stream_ledger_gaps", oracle=_GAPS_ALL_GROUPS_ORACLE)
def stream_ledger_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 as a STREAM — the reference's gap check running online: the
    event stream is mapped to ledger runs (same column definitions as the
    batch ledger) and a stateful per-(pipeline, index, day) operator
    (applyInPandasWithState, O(1) state = one timestamp per group) emits
    a gap row the moment a run's start_ts mismatches the previous run's
    end_ts. Cross-checked against the batch LAG oracle — stream-vs-batch
    parity for the reference's core monitoring query."""
    from sample_data_pipeline_project_spark.streaming.eventtime import (
        ledger_gaps_stateful,
        ledger_runs_stream,
    )

    runs = ledger_runs_stream(stream_events(spark, sf_dir))
    return run_stream_to_table(ledger_gaps_stateful(runs), output_mode="append")


_OOO_DELAY_MIN = 10
_OOO_BATCHES = 4
# Scale guard (round 8): a FIXED batch count means per-trigger volume —
# and therefore buffered state and the single-task staging sorts — grows
# WITH the corpus (the sf10 probe OOM'd the 8g heap exactly this way: 4
# triggers x 2.5M rows each). A real stream's trigger cadence is set by
# arrival rate, not corpus size, so the staging targets ~constant rows
# per micro-batch and lets the batch COUNT scale with the decade. The
# flush semantics are batch-count-invariant by construction (ascending
# value ranges -> nothing arrives below the watermark at ANY split;
# terminal availableNow batch flushes start_ts <= max - delay), which
# tests/test_streaming.py pins by running the same data at two widths.
_OOO_ROWS_PER_BATCH = 250_000
_OOO_MAX_BATCHES = 64


@workload(
    "stream_ledger_gaps_ooo",
    oracle=f"""
WITH {LEDGER_CTE},
cutoff AS (
  SELECT MAX(query_window_start_ts) - INTERVAL {_OOO_DELAY_MIN} MINUTE AS c
  FROM pipeline_runs
),
flushed AS (
  SELECT r.* FROM pipeline_runs r, cutoff WHERE r.query_window_start_ts <= cutoff.c
),
scoped AS (
  SELECT *,
         LAG(query_window_end_ts) OVER (
           PARTITION BY pipeline_name, index_name, query_window_start_day
           ORDER BY query_window_start_ts ASC, run_id ASC
         ) AS prev_end_ts
  FROM flushed
)
SELECT pipeline_name, index_name, query_window_start_day AS day,
       prev_end_ts AS missing_from_ts,
       query_window_start_ts AS missing_until_ts
FROM scoped
WHERE prev_end_ts IS NOT NULL AND query_window_start_ts != prev_end_ts
""",
)
def stream_ledger_gaps_ooo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 as a stream under OUT-OF-ORDER arrival (streaming/eventtime.py
    ledger_gaps_ooo): rows buffer in per-group state and flush re-sorted
    on (start_ts, run_id) — the batch LAG's exact key — once the
    event-time watermark passes them. The workload STAGES the ledger runs
    as {nb} micro-batch files partitioned into ascending start_ts value
    ranges but SHUFFLED (md5 order) within each batch, so every batch
    delivers its rows in scrambled order and later-range rows wait in
    state across batch boundaries; ascending ranges guarantee no row ever
    arrives below the watermark (nothing is dropped), which makes the
    flushed set exact: every run with start_ts <= max(start_ts) - delay
    (the terminal watermark; Spark's availableNow trigger runs a final
    timeout-only batch that flushes it). The oracle states the identical
    cutoff over the batch ledger CTE — stream-vs-batch parity including
    the watermark boundary."""
    import os
    import shutil
    import uuid

    from pyspark.sql import functions as F

    from sample_data_pipeline_project_spark.ledger.derive import derived_ledger
    from sample_data_pipeline_project_spark.streaming.eventtime import (
        ledger_gaps_ooo,
    )

    runs = derived_ledger(spark, sf_dir).select(
        "run_id",
        "pipeline_name",
        "index_name",
        "query_window_start_day",
        "query_window_start_ts",
        "query_window_end_ts",
    )
    # value-range micro-batches: bucket bounds from collected min/max
    # epoch micros (deterministic arithmetic, no sampling, no window)
    us = F.expr("unix_micros(CAST(query_window_start_ts AS TIMESTAMP))")
    mn, mx, n_runs = (
        int(x)
        for x in runs.agg(F.min(us), F.max(us), F.count(F.lit(1))).first()
    )
    span = (mx - mn) if mx > mn else 1
    # constant rows per trigger; see _OOO_ROWS_PER_BATCH note
    nb = max(
        _OOO_BATCHES,
        min(_OOO_MAX_BATCHES, -(-n_runs // _OOO_ROWS_PER_BATCH)),
    )
    bucketed = runs.withColumn(
        "__bkt",
        F.least(F.lit(nb - 1), F.floor((us - F.lit(mn)) * nb / F.lit(span))).cast(
            "int"
        ),
    )
    # absolute, anchored at the repo, per-process (sources/scratch.py)
    stage_root = scratch_dir("ooo_stage")
    stage = f"{stage_root}/{uuid.uuid4().hex[:8]}"
    # PRE-STAGE (round 9): materialize the derived ledger ONCE,
    # repartitioned on __bkt so each task holds only the buckets hash-
    # collided onto it — with nb buckets in nb partitions that is a
    # BOUNDED handful (expected max ~O(log nb / log log nb), not one;
    # hash partitioning gives no exact one-writer invariant), i.e. a
    # few open parquet writers per task instead of the naive
    # partitionBy fan-out of nb concurrent 128 MB writer buffers per
    # task, which is its own decade-scale OOM and was why round 8
    # re-scanned events nb times instead. The
    # per-bucket staging jobs below then read a partition-PRUNED slice
    # of this compact table rather than re-deriving the full events
    # scan: at the sf10 decade that converts ~40 scans of 10M events
    # into 1 scan + 40 reads of ~250k-row slices.
    pre = f"{stage_root}/{uuid.uuid4().hex[:8]}_pre"
    (
        bucketed.repartition(nb, F.col("__bkt"))
        .write.mode("overwrite")
        .partitionBy("__bkt")
        .parquet(pre)
    )
    staged = spark.read.parquet(pre)
    for b in range(nb):
        # repartition(1) + sortWithinPartitions, NOT orderBy + coalesce:
        # coalesce(1) collapses the WHOLE upstream job (read + sort)
        # into a single task — at the sf10 decade that one task held the
        # full scan plus the sort and OOM'd the heap. The explicit
        # 1-reducer shuffle keeps the read parallel and bounds the sort
        # task at one ~constant-size bucket. Writes stay sequential:
        # the file stream source orders triggers by file modification
        # time, and ascending bucket order is what guarantees no row
        # ever arrives below the watermark.
        (
            staged.filter(F.col("__bkt") == b)
            .drop("__bkt")
            .repartition(1)
            .sortWithinPartitions(F.md5(F.col("run_id").cast("string")))
            .write.mode("append")
            .parquet(stage)
        )
    stream = (
        stream_session(spark)
        .readStream.schema(runs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    return run_stream_to_table(
        ledger_gaps_ooo(stream, delay=f"{_OOO_DELAY_MIN} minutes"),
        output_mode="append",
    )


# --------------------------------------------------------------------------
# Streaming incremental MinHash-LSH dedup: the daily-crawl pipeline run
# CONTINUOUSLY — delta documents arrive as micro-batches and are banded
# against a signature store that grows as batches commit.
# --------------------------------------------------------------------------
@workload(
    "stream_minhash_dedup",
    oracle=_duck_minhash_oracle(
        extra_where=f"WHERE a.doc_id % {_INC_DELTA_MOD} = 0"
        f" OR b.doc_id % {_INC_DELTA_MOD} = 0"
    ),
)
def stream_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2 streaming — incremental MinHash-LSH dedup run as a STREAM: the
    ~10% delta (doc_id % mod == 0) arrives as 4 micro-batch files; each
    foreachBatch turn band-joins the batch against the signature store AS
    OF that batch (base signatures + every previously committed delta
    batch), appends the new candidate pairs to the result sink, then
    commits the batch's own signatures to the store. Every delta-touching
    pair is emitted EXACTLY ONCE — when its later endpoint arrives — so
    the union over batches equals the one-shot incremental result for ANY
    partition of the delta into batches (order-independence is what makes
    the continuous pipeline correct). The oracle is the same
    full-recompute-restricted-to-delta-pairs statement as
    dedup_minhash_incremental."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from sample_data_pipeline_project_spark.operators.dedup import (
        minhash_lsh_candidates_incremental,
        minhash_signatures,
    )
    from sample_data_pipeline_project_spark.sources.catalog import load_table

    root = scratch_dir("stream_minhash")
    sig_store = f"{root}/sig_store"
    delta_src = f"{root}/delta_src"
    result = f"{root}/result"
    ckpt = f"{root}/ckpt"

    d = load_table(spark, sf_dir, "documents")
    base = d.filter(F.col("doc_id") % _INC_DELTA_MOD != 0)
    delta = d.filter(F.col("doc_id") % _INC_DELTA_MOD == 0)
    # REBALANCE before every store/result write (round 12, guide §6):
    # the batch-signature frames pass through the operator's cache,
    # whose population shuffle keeps the wide-start 256-partition layout
    # — without the rebalance each micro-batch appended ~100 near-empty
    # parquet files (measured: 408 files / 4.9 MB in the signature store
    # after one run), and every subsequent batch re-read the whole store
    # at one task per tiny file (~26 task-seconds per batch of pure
    # open/commit overhead). The AQE rebalance shuffle sits OUTSIDE the
    # cached plan, so it coalesces to advisory-sized output files at any
    # scale: one file per append here, 64 MB files at the 100 TB decade.
    minhash_signatures(base, _NUM_HASHES).hint("rebalance").write.parquet(
        sig_store
    )
    # 4 micro-batch files; placement is irrelevant to the result set
    delta.repartition(4).write.parquet(delta_src)

    def handle(batch_df, batch_id):
        s = batch_df.sparkSession
        store = s.read.parquet(sig_store)
        pairs = minhash_lsh_candidates_incremental(
            store, batch_df, _NUM_HASHES, _BANDS
        )
        pairs.hint("rebalance").write.mode("append").parquet(result)
        minhash_signatures(batch_df, _NUM_HASHES).hint(
            "rebalance"
        ).write.mode("append").parquet(sig_store)

    q = (
        spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(delta_src)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(result)


@workload("stream_ewma", oracle=_EWMA_ORACLE)
def stream_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C33 as a STREAM — per-user truncated-kernel EWMA running online via
    applyInPandasWithState: state is the last K-1 values per user (the
    fixed-size tail the truncated kernel was chosen for), each arriving
    row folds the same kernel terms in the same order as the batch LAG
    chain, so the stream output is BIT-IDENTICAL to the batch workload —
    checked against the identical DuckDB oracle (stream-vs-batch parity
    on raw doubles, no rounding)."""
    from sample_data_pipeline_project_spark.streaming.eventtime import (
        ewma_stateful,
    )

    events = stream_events(spark, sf_dir)
    return run_stream_to_table(ewma_stateful(events), output_mode="append")


@workload("stream_debounce", oracle=_DEBOUNCE_ORACLE)
def stream_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events_debounce as a STREAM: the per-(user, type) 5-minute burst
    suppressor running online via applyInPandasWithState with ONE int64
    (the previous event's epoch-micros) as the entire per-key state —
    the minimal-state shape ingest dedup needs at 100 TB. Per-row
    decisions stream out; the registered result is the same per-type
    kept/dropped audit as the batch workload, hashed against the
    IDENTICAL DuckDB oracle (stream-vs-batch parity)."""
    from sample_data_pipeline_project_spark.streaming.eventtime import (
        debounce_stateful,
    )

    events = stream_events(spark, sf_dir)
    decisions = run_stream_to_table(
        debounce_stateful(events), output_mode="append"
    )
    return (
        decisions.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum("dropped").cast("long").alias("n_dropped"),
            (F.count(F.lit(1)) - F.sum("dropped"))
            .cast("long")
            .alias("n_kept"),
        )
    )


@workload("stream_sliding_window", oracle=_SLIDING_ORACLE)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B6 (streaming) — the 1h/30min SLIDING window aggregation as a real
    Structured Streaming query (readStream -> watermark -> overlapping
    windowed agg -> availableNow -> memory sink), stream-vs-batch parity
    against the same offsets-decomposition DuckDB oracle as the batch
    workload. Decimal-exact value sums make the double hash portable."""
    from sample_data_pipeline_project_spark.streaming.eventtime import (
        sliding_counts_stream,
    )

    events = stream_events(spark, sf_dir)
    return run_stream_to_table(sliding_counts_stream(events))


# --------------------------------------------------------------------------
# Streaming Count-Min sketch: mergeable counters maintained incrementally
# --------------------------------------------------------------------------
@workload("stream_countmin_merge", oracle=_cm_oracle())
def stream_countmin_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Count-Min sketch maintained AS A STREAM: documents arrive as
    micro-batches and two streaming aggregates run in complete mode —
    the 3x1024 counter matrix (bounded state by construction: the whole
    point of a sketch) and the exact per-token counts the certification
    needs. CM counters are purely ADDITIVE, so the streamed sketch is
    identical to the one-shot batch sketch for ANY micro-batch partition
    of the corpus — the same order-independence argument as
    stream_minhash_dedup — and the workload hashes against the identical
    batch oracle, estimates included. Point queries (min-over-rows for
    the exact top-50) run batch-side on the materialized counters."""
    from sample_data_pipeline_project_spark.functions.text import tokens
    from sample_data_pipeline_project_spark.sources.catalog import load_table

    d = load_table(spark, sf_dir, "documents")
    doc_stream = (
        stream_session(spark)
        .readStream.schema(d.schema)
        .format("parquet")
        .load(f"{sf_dir.rstrip('/')}/documents.parque[t]")
    )
    toks = doc_stream.select(F.explode(tokens("text")).alias("tok"))
    # streaming aggregate 1: exact token counts (complete mode)
    tc = materialize(
        run_stream_to_table(
            toks.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_count"))
        ),
        "cache",
    )
    # streaming aggregate 2: the CM counter matrix — map-side bucket
    # expansion, then a (seed, bucket)-keyed running count; state is the
    # fixed 3x1024 matrix regardless of stream length
    bucket_structs = F.array(
        *[
            F.struct(
                F.lit(s).alias("seed"),
                F.expr(_cm_bucket_sql(s)).alias("bucket"),
            )
            for s in range(_CM_SEEDS)
        ]
    )
    doc_stream2 = (
        stream_session(spark)
        .readStream.schema(d.schema)
        .format("parquet")
        .load(f"{sf_dir.rstrip('/')}/documents.parque[t]")
    )
    hashed = (
        doc_stream2.select(F.explode(tokens("text")).alias("tok"))
        .select(F.explode(bucket_structs).alias("h"))
        .select("h.seed", "h.bucket")
    )
    cm = run_stream_to_table(
        hashed.groupBy("seed", "bucket").agg(F.count(F.lit(1)).alias("c"))
    )
    return _cm_estimates(tc, cm, bucket_structs)


@workload(
    "stream_ledger_overlaps",
    oracle=f"""
WITH {LEDGER_CTE}
SELECT t1.pipeline_name, t1.index_name,
       t1.run_id AS source_run_id,
       t1.query_window_start_ts AS source_window_start_ts,
       t1.query_window_end_ts AS source_window_end_ts,
       t2.run_id AS overlaps_with_run_id,
       t2.query_window_start_ts AS overlaps_with_start_ts,
       t2.query_window_end_ts AS overlaps_with_end_ts
FROM pipeline_runs t1
JOIN pipeline_runs t2
  ON t1.pipeline_name = t2.pipeline_name
 AND t1.index_name = t2.index_name
 AND t1.query_window_start_day = t2.query_window_start_day
 AND t1.query_window_start_ts < t2.query_window_end_ts
 AND t1.query_window_end_ts > t2.query_window_start_ts
 AND t1.run_id != t2.run_id
""",
)
def stream_ledger_overlaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14 as a STREAM — the reference's overlap self-join running online
    over ALL (pipeline, index, day) cohorts: each arriving run is tested
    against the cohort's interval state and every overlapping pair is
    emitted the moment its later member arrives, as both ordered rows —
    the exact ordered-pair set of the batch self-join, verified against
    the batch SQL oracle (stream-vs-batch parity for the reference's
    highest-value operator). Exact integer epoch-micros interval
    compares; per-cohort state bounded by the day band."""
    from sample_data_pipeline_project_spark.streaming.eventtime import (
        ledger_overlaps_stateful,
        ledger_runs_stream,
    )

    runs = ledger_runs_stream(stream_events(spark, sf_dir))
    return run_stream_to_table(
        ledger_overlaps_stateful(runs), output_mode="append"
    )


# --------------------------------------------------------------------------
# Streaming exact deduplication (exactly-once ingest over a dirty feed)
# --------------------------------------------------------------------------
_SDEDUP_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY event_type
"""


@workload("stream_exact_dedup", oracle=_SDEDUP_ORACLE)
def stream_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING EXACT DEDUPLICATION — the exactly-once ingest pattern for
    an at-least-once feed: the events stream is deliberately doubled
    (union of two file-source readers over the same data = every record
    delivered twice), then `dropDuplicates(event_id)` keeps stateful
    first-wins state per key and the downstream aggregate must equal the
    batch aggregate over the CLEAN table — duplicates fully absorbed
    before they can double-count. State is one entry per distinct key
    (the production shape bounds it with dropDuplicatesWithinWatermark;
    the finite availableNow source here needs no expiry to terminate).
    Parity with the batch oracle certifies both the dedup semantics and
    that the doubled delivery had zero numeric effect."""
    from sample_data_pipeline_project_spark.streaming.eventtime import (
        run_stream_to_table,
        stream_events,
    )

    doubled = stream_events(spark, sf_dir).unionByName(
        stream_events(spark, sf_dir)
    )
    deduped = doubled.dropDuplicates(["event_id"])
    agg = deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("sum_value"),
    )
    return run_stream_to_table(agg, output_mode="complete")


# --------------------------------------------------------------------------
# Stream enriched against an SCD2 (temporal) dimension
# --------------------------------------------------------------------------
_SCD2_BOUNDARY = "2000-01-01"

_SCD2_ENRICH_ORACLE = f"""
WITH dim AS (
  SELECT c_custkey AS user_id, 1 AS version,
         TIMESTAMP '1900-01-01 00:00:00' AS valid_from,
         TIMESTAMP '{_SCD2_BOUNDARY} 00:00:00' AS valid_to,
         c_mktsegment AS segment
  FROM customer
  UNION ALL
  SELECT c_custkey, 2,
         TIMESTAMP '{_SCD2_BOUNDARY} 00:00:00',
         TIMESTAMP '2100-01-01 00:00:00',
         c_mktsegment || '_V2'
  FROM customer
)
SELECT e.event_id, e.user_id, e.ts, d.version, d.segment
FROM events e
JOIN dim d ON e.user_id = d.user_id
          AND e.ts >= d.valid_from AND e.ts < d.valid_to
"""


@workload("stream_scd2_enrich", oracle=_SCD2_ENRICH_ORACLE)
def stream_scd2_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming enrichment against an SCD2 TEMPORAL dimension: each event
    joins the dimension VERSION whose [valid_from, valid_to) interval
    contains its event time — the online form of the point-in-time lookup
    SCD2 exists for (operators/scd2.py maintains such dimensions; here a
    two-version dimension is derived deterministically from customer).
    The static side broadcasts and the interval predicate rides the
    hash-join residual, so the stream stays stateless append mode
    (no watermark, no state store) — at 100 TB/day this is a map-side
    join per micro-batch. Batch-oracle parity certifies the temporal
    predicate semantics online == offline."""
    from sample_data_pipeline_project_spark.sources.catalog import load_table
    from sample_data_pipeline_project_spark.streaming.eventtime import (
        run_stream_to_table,
        stream_events,
    )

    c = load_table(spark, sf_dir, "customer")
    boundary = F.lit(f"{_SCD2_BOUNDARY} 00:00:00").cast("timestamp")
    v1 = c.select(
        F.col("c_custkey").alias("d_user_id"),
        F.lit(1).alias("version"),
        F.lit("1900-01-01 00:00:00").cast("timestamp").alias("valid_from"),
        boundary.alias("valid_to"),
        F.col("c_mktsegment").alias("segment"),
    )
    v2 = c.select(
        F.col("c_custkey").alias("d_user_id"),
        F.lit(2).alias("version"),
        boundary.alias("valid_from"),
        F.lit("2100-01-01 00:00:00").cast("timestamp").alias("valid_to"),
        F.concat(F.col("c_mktsegment"), F.lit("_V2")).alias("segment"),
    )
    dim = F.broadcast(v1.unionByName(v2))
    ev = stream_events(spark, sf_dir).select("event_id", "user_id", "ts")
    joined = ev.join(
        dim,
        (F.col("user_id") == F.col("d_user_id"))
        & (F.col("ts") >= F.col("valid_from"))
        & (F.col("ts") < F.col("valid_to")),
    ).select(
        "event_id",
        "user_id",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        F.col("version").cast("int"),
        "segment",
    )
    return run_stream_to_table(joined, output_mode="append")


# --------------------------------------------------------------------------
# Stream-stream LEFT OUTER join (watermark-expiry null emission)
# --------------------------------------------------------------------------
_SSLOJ_MARGIN = "6 hours"

_SSLOJ_ORACLE = """
WITH mx AS (SELECT MAX(ts) AS m FROM events),
c AS (
  SELECT user_id, event_id, ts FROM events, mx
  WHERE event_type = 'click' AND ts <= m - INTERVAL 6 HOUR
),
v AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'view')
SELECT c.user_id, c.event_id AS click_id, c.ts AS click_ts,
       v.event_id AS view_id, v.ts AS view_ts
FROM c LEFT JOIN v
  ON v.user_id = c.user_id
 AND v.ts <= c.ts
 AND v.ts >= c.ts - INTERVAL 1 HOUR
"""


@workload("stream_click_view_left_outer", oracle=_SSLOJ_ORACLE)
def stream_click_view_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join — the semantics the inner join
    (stream_click_view_join) can't express: clicks with NO view in the
    preceding hour must still emit, null-padded, and may only do so once
    the watermark proves no matching view can ever arrive (state-expiry
    emission, the subtlest stream-join behavior). Because the final
    watermark halts at max_ts - delay, tail clicks whose expiry hasn't
    been proven are excluded from the checked surface by the SAME
    event-time predicate on both engines (click_ts <= max_ts - 6h).
    The margin is measured, not derived: Spark's left-state eviction
    boundary observed at sf0.001 sits near max_ts - 4h (1h delay on
    each input + 1h join span + one-batch watermark lag), so 6h keeps
    a 2h cushion; within that region outer semantics are fully
    determined and batch parity is exact."""
    from sample_data_pipeline_project_spark.sources.catalog import load_table
    from sample_data_pipeline_project_spark.streaming.eventtime import (
        run_stream_to_table,
        stream_events,
    )

    ev1 = stream_events(spark, sf_dir)
    ev2 = stream_events(spark, sf_dir)
    c = (
        ev1.filter(F.col("event_type") == "click")
        .withWatermark("ts", "1 hour")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    v = (
        ev2.filter(F.col("event_type") == "view")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("user_id").alias("v_user_id"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
    )
    joined = c.join(
        v,
        (F.col("user_id") == F.col("v_user_id"))
        & (F.col("view_ts") <= F.col("click_ts"))
        & (F.col("view_ts") >= F.col("click_ts") - F.expr("INTERVAL 1 HOUR")),
        "leftOuter",
    ).select(
        "user_id",
        "click_id",
        F.col("click_ts").cast("timestamp_ntz").alias("click_ts"),
        "view_id",
        F.col("view_ts").cast("timestamp_ntz").alias("view_ts"),
    )
    out = run_stream_to_table(joined, output_mode="append")
    mx = load_table(spark, sf_dir, "events").agg(F.max("ts").alias("m"))
    return (
        out.crossJoin(F.broadcast(mx))
        .filter(
            F.col("click_ts")
            <= F.col("m").cast("timestamp_ntz") - F.expr(f"INTERVAL {_SSLOJ_MARGIN}")
        )
        .drop("m")
    )


# --------------------------------------------------------------------------
# Streaming CDC upsert: foreachBatch MERGE into the copy-on-write table
# --------------------------------------------------------------------------
_SMERGE_ORACLE = """
WITH latest AS (
  SELECT user_id, event_type, ts, value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, event_type AS last_type,
       CAST(COUNT(*) OVER () AS BIGINT) AS n_users
FROM latest WHERE rn = 1
"""


@workload("stream_cdc_merge_upsert", oracle=_SMERGE_ORACLE)
def stream_cdc_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CDC UPSERT — the online MERGE: each micro-batch reduces
    to one row per key (latest by event time, the C68 CDC shape) and
    foreachBatch applies it to a copy-on-write table via cow_merge, so
    the table always holds each user's LATEST state ("current state"
    materialization from a changelog). Batch-internal dedup keeps the
    merge idempotent per key; replaying the stream converges to the same
    table. The final table must equal the batch "latest row per user"
    oracle exactly. (The n_users window is over the 150-row final state,
    not the stream.)"""
    import os
    import shutil

    from pyspark.sql.window import Window as W

    from sample_data_pipeline_project_spark.sources.cow import cow_merge
    from sample_data_pipeline_project_spark.streaming.eventtime import (
        stream_events,
    )

    path = scratch_dir("stream_cdc_state")
    ckpt = scratch_dir("stream_cdc_ckpt")

    # seed an empty target with the state schema
    empty = spark.createDataFrame(
        [], "user_id long, event_type string, ts timestamp_ntz, value double"
    )
    empty.write.mode("overwrite").parquet(path)

    ev = stream_events(spark, sf_dir).select(
        "user_id", "event_type", "ts", "value", "event_id"
    )

    def apply_batch(batch_df, batch_id):
        w = W.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        latest = (
            batch_df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "user_id",
                "event_type",
                F.col("ts").cast("timestamp_ntz").alias("ts"),
                "value",
            )
        )
        cow_merge(batch_df.sparkSession, path, latest, key_cols=["user_id"])

    q = (
        ev.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()

    state = spark.read.parquet(path)
    n = state.count()
    return state.select(
        "user_id",
        F.col("event_type").alias("last_type"),
        F.lit(n).cast("long").alias("n_users"),
    )


# --------------------------------------------------------------------------
# Bitmap-block exact distinct maintained AS A STREAM
# --------------------------------------------------------------------------
@workload("stream_bitmap_distinct", oracle=_BM_ORACLE)
def stream_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bitmap-block EXACT-DISTINCT sketch (sketch_bitmap_distinct)
    maintained ONLINE: events arrive as micro-batches and a complete-mode
    streaming aggregate keeps one BIGINT of membership bits per
    (event_type, 62-user block) — bit_or is idempotent AND commutative,
    so the streamed bitmap equals the one-shot batch bitmap for ANY
    micro-batch partition of the input, and re-delivered events cannot
    inflate it (unlike additive counters, the sketch is natively
    at-least-once-safe). This is the streaming exact-COUNT-DISTINCT shape
    that C99's dropDuplicates achieves with per-event state, at 1/62nd
    the state rows. Certified against the same batch oracle, including
    the COUNT(DISTINCT) equality stated TRUE by both engines."""
    from sample_data_pipeline_project_spark.sources.catalog import load_table

    ev = stream_events(spark, sf_dir)
    blocks = ev.groupBy(
        "event_type", F.expr("user_id div 62").alias("blk")
    ).agg(
        F.expr(
            "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(user_id % 62 AS INT)))"
        ).alias("bits")
    )
    mat = materialize(run_stream_to_table(blocks), "cache")
    agg = mat.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.sum(F.bit_count("bits")).cast("long").alias("distinct_bitmap"),
    )
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").cast("long").alias("exact_distinct"))
    )
    return agg.join(exact, "event_type").select(
        "event_type",
        "n_blocks",
        "distinct_bitmap",
        (F.col("distinct_bitmap") == F.col("exact_distinct")).alias("matches_exact"),
    )


# --------------------------------------------------------------------------
# Holt linear trend fed by a STREAMING weekly aggregate
# --------------------------------------------------------------------------
@workload("stream_holt_forecast", oracle=_HOLT_ORACLE)
def stream_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Holt linear-trend forecaster (C146) fed ONLINE: orders arrive
    as micro-batches, a complete-mode streaming aggregate maintains the
    per-(priority, epoch-week) revenue sums — additive, so the streamed
    weekly table equals the batch table for ANY micro-batch partition —
    and the calendar-bounded fold then runs over the materialized series
    with the IDENTICAL array-aggregate step as the batch workload. This
    is the forecast-refresh deployment shape: heavy keyed aggregation
    stays incremental, the O(weeks) recurrence re-runs per trigger.
    Certified against the same recursive-CTE oracle, raw doubles, no
    rounding — stream == batch bit-for-bit."""
    from sample_data_pipeline_project_spark.sources.catalog import load_table

    o_schema = load_table(spark, sf_dir, "orders").schema
    orders_stream = (
        stream_session(spark)
        .readStream.schema(o_schema)
        .format("parquet")
        .load(f"{sf_dir.rstrip('/')}/orders.parque[t]")
    )
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    weekly = orders_stream.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.expr("datediff(to_date(o_orderdate), DATE'1970-01-01') div 7").alias("d"),
    ).agg(F.sum(cents).cast("long").alias("v"))
    # cached: the materialized stream result backs both the fold below
    # and the driver's collect
    daily = materialize(run_stream_to_table(weekly), "cache")
    return _holt_fold(daily)


# --------------------------------------------------------------------------
# C196 — streaming Python DataSource (SimpleDataSourceStreamReader)
# --------------------------------------------------------------------------

_DSS_N = 30_000
_DSS_CHUNK = 10_000

_DSS_ORACLE = f"""
WITH t AS (
  SELECT CAST(r.range AS BIGINT) AS id,
         CAST(r.range % 10 AS BIGINT) AS bucket,
         CAST((r.range * 2654435761) % 1000003 AS BIGINT) AS val
  FROM range({_DSS_N}) r
)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(val) AS BIGINT) AS sum_val,
       CAST(MAX(val) AS BIGINT) AS max_val
FROM t GROUP BY bucket
"""


@workload("stream_python_datasource", oracle=_DSS_ORACLE)
def stream_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark 4 STREAMING Python DataSource contract
    (SimpleDataSourceStreamReader) exercised end to end: dict offsets,
    chunked incremental read() on the driver with prefetch, exact
    readBetweenOffsets replay for recovery — the no-JVM path for tailing
    an external queue/API as a structured stream. availableNow falls
    back to single-batch for Python stream readers, so the workload
    drives a processing-time trigger and polls the memory sink until the
    generator's {n} rows across {k} micro-batches have all landed
    (hard timeout -> loud failure, never a silent partial result). The
    drained table then equals the batch range({n}) oracle — micro-batch
    boundaries cannot affect the answer because the generator replays
    deterministically."""
    register_det_range_stream(spark)
    df = (
        spark.readStream.format("det_range_stream")
        .option("n", str(_DSS_N))
        .option("chunk", str(_DSS_CHUNK))
        .load()
    )
    name = f"pyds_stream_{uuid.uuid4().hex[:8]}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if spark.table(name).count() >= _DSS_N:
                break
            time.sleep(0.3)
        else:
            raise AssertionError(
                f"streaming python datasource did not drain {_DSS_N} rows "
                f"within 120s (got {spark.table(name).count()})"
            )
    finally:
        q.stop()
        q.awaitTermination()
        drained = spark.table(name)
        spark.catalog.dropTempView(name)
    return drained.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("val").cast("long").alias("sum_val"),
        F.max("val").cast("long").alias("max_val"),
    )


# ---------------------------------------------------------------------------
# C235 — streaming interarrival anomaly (exact-integer online z-score)
# ---------------------------------------------------------------------------

_ANOM_ORACLE = """
WITH seq AS (
  SELECT event_id, user_id, ts,
         (epoch_us(ts) - LAG(epoch_us(ts)) OVER w) // 1000000 AS gap_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
mom AS (
  SELECT event_id, user_id, ts, gap_s,
         CAST(COALESCE(COUNT(gap_s) OVER p, 0) AS BIGINT) AS n_prior,
         CAST(COALESCE(SUM(gap_s) OVER p, 0) AS BIGINT) AS sm,
         CAST(COALESCE(SUM(gap_s * gap_s) OVER p, 0) AS BIGINT) AS sq
  FROM seq
  WINDOW p AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT event_id, user_id, ts, gap_s, n_prior,
       (gap_s IS NOT NULL AND n_prior >= 3
        AND (gap_s * n_prior - sm) * (gap_s * n_prior - sm)
            > 9 * (n_prior * sq - sm * sm)) AS is_anomaly
FROM mom
"""


@workload("stream_anomaly_interarrival", oracle=_ANOM_ORACLE)
def stream_anomaly_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C235 — per-user ONLINE interarrival anomaly stream
    (streaming/eventtime.py interarrival_anomaly_stateful): flag an
    event when its gap to the previous same-user event z-scores |z| > 3
    against all PRIOR gaps (>= 3 required). Per-key state is four
    int64s (last ts + exact count/sum/sumsq of gaps in whole seconds),
    and the z-test is pure int64 algebra — (gap*n - sum)^2 >
    9*(n*sumsq - sum^2) — so the stream is BIT-identical to the batch
    window twin at any micro-batch boundary and both hash against one
    DuckDB oracle. The O(1)-state shape is what per-entity rate anomaly
    detection needs at 100 TB ingest (contrast: a quantile-based
    detector would carry unbounded per-key history)."""
    from sample_data_pipeline_project_spark.streaming.eventtime import (
        interarrival_anomaly_stateful,
        run_stream_to_table,
        stream_events,
    )

    events = stream_events(spark, sf_dir)
    out = run_stream_to_table(
        interarrival_anomaly_stateful(events), output_mode="append"
    )
    # cast the sink's TIMESTAMP back to NTZ for oracle parity (the
    # stream source casts NTZ -> TIMESTAMP for watermark eligibility)
    return out.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
