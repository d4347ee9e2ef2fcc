"""Event-time streaming (B6) — Structured Streaming forms of the batch
event workloads.

Spark's batch/streaming unification means the window expressions here are
the SAME ones `workloads/event_queries.py` runs in batch; this module wires
them to an unbounded source (`readStream`), a watermark for late data, and
incremental sinks. `run_stream_to_table` executes any of them to
completion over the finite testdata with the availableNow trigger — which
is also how the streaming result gets cross-checked against the DuckDB
batch oracle (stream-vs-batch parity is the correctness statement that
matters for an incremental engine).

Scale notes:
  - State size is bounded by the watermark: closed windows are evicted, so
    steady-state memory is (#keys x #open windows), independent of stream
    length.
  - The stateful per-user aggregator keeps O(1) state per key via
    applyInPandasWithState — the escape hatch for semantics window
    functions can't express incrementally.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from sample_data_pipeline_project_spark.functions.timeops import (
    NANOS_AS_LONG_CONF,
    ensure_ts_ntz,
)


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as an unbounded stream (file source; each parquet
    file is one micro-batch unit).

    The file source needs an explicit schema; probe it from the parquet
    footer with a (lazy, metadata-only) batch read so both event-time
    encodings the driver has shipped work: TIMESTAMP(NANOS) (BIGINT `ts`
    under the nanosAsLong conf) and TIMESTAMP(MICROS) (TIMESTAMP_NTZ)."""
    spark.conf.set(NANOS_AS_LONG_CONF, "true")
    path = f"{sf_dir.rstrip('/')}/events.parquet"
    raw_schema = spark.read.parquet(path).schema
    # The file source wants a directory basePath; the testdata table is a
    # single file, so glob it — the source then infers the parent dir as
    # basePath (a bare file path would be rejected).
    raw = (
        spark.readStream.schema(raw_schema)
        .format("parquet")
        .load(f"{sf_dir.rstrip('/')}/events.parque[t]")
    )
    # Watermarks require TIMESTAMP (not NTZ); with the engine's fixed UTC
    # session timezone the cast is wall-clock-preserving, and outputs are
    # cast back to NTZ at the sink edge for batch/oracle parity.
    return ensure_ts_ntz(raw).withColumn("ts", F.col("ts").cast("timestamp"))


def hourly_counts_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of `events_hourly_tumbling`: tumbling 1h event-time
    windows with a late-data watermark. Exact COUNT(DISTINCT) cannot run
    incrementally (unbounded per-window state) so the streaming form drops
    `n_users`; the streaming-native answer is approx_count_distinct (HLL)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_counts_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of `events_sliding_window`: 1h windows sliding every
    30 min (each event lands in 2 windows) with a late-data watermark.
    Overlapping windows multiply per-window state 2x, not per-event work —
    the window() expansion happens map-side before the keyed aggregate."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "n_events",
            "sum_value",
        )
    )


def session_counts_stream(
    events: DataFrame, gap: str = "6 hours", watermark: str = "1 hour"
) -> DataFrame:
    """Streaming sessionization via `session_window` (state = open sessions
    per user; closed by watermark passage)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("user_id"),
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            F.col("w.end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
        )
    )


def dedup_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact deduplication on event_id —
    `dropDuplicatesWithinWatermark` keeps per-key state only until the
    watermark passes the key's first-seen event time, so state is bounded
    by (duplicate-arrival spread / watermark), not by stream length. The
    batch twin is B1's `dropDuplicates`; this is the form a 100 TB
    always-on ingest pipeline runs."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    ).select(
        "event_id",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


def click_view_join_stream(
    clicks: DataFrame, views: DataFrame, lookback: str = "1 hour"
) -> DataFrame:
    """Stream-stream inner join: every click joined to the same user's
    views within the preceding `lookback`. Both sides carry watermarks and
    the join condition bounds event-time distance, so Spark can size and
    EVICT the join state — an unbounded stream-stream join without a time
    bound would buffer both streams forever."""
    c = clicks.withWatermark("ts", lookback).select(
        F.col("user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    v = views.withWatermark("ts", lookback).select(
        F.col("user_id").alias("v_user_id"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    joined = c.join(
        v,
        (F.col("user_id") == F.col("v_user_id"))
        & (F.col("view_ts") <= F.col("click_ts"))
        & (F.col("view_ts") >= F.col("click_ts") - F.expr(f"INTERVAL {lookback}")),
        "inner",
    )
    return joined.select(
        "user_id",
        "click_id",
        F.col("click_ts").cast("timestamp_ntz").alias("click_ts"),
        "view_id",
        F.col("view_ts").cast("timestamp_ntz").alias("view_ts"),
    )


def enrich_stream(events: DataFrame, dim: DataFrame, on: str) -> DataFrame:
    """Stream-static enrichment join: each streaming event picks up the
    static dimension's attributes. The static side is broadcast (marked
    explicitly), so the join is STATELESS — no watermark, no state store,
    no shuffle of the stream; each micro-batch maps through the same
    hashed dim. On a cluster the dim is re-resolved per micro-batch, so a
    slowly-changing dim written in place is picked up between batches."""
    return events.join(F.broadcast(dim), on, "inner")


_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)
_STATEFUL_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)


def user_totals_stateful(events: DataFrame) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user running
    totals with O(1) state per key — the arbitrary-stateful-processing
    escape hatch for logic windowed aggregation can't express."""

    def update(key, pdf_iter, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        import pandas as pd

        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_STATEFUL_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_stream_to_table(
    stream_df: DataFrame,
    output_mode: str = "complete",
    state_partitions: int = 8,
) -> DataFrame:
    """Execute a streaming DataFrame over the finite source with the
    availableNow trigger into a memory sink; returns the materialized
    result as a batch DataFrame.

    `state_partitions` pins `spark.sql.shuffle.partitions` for this query:
    every stateful-stream partition carries a whole state store, whose
    fixed per-batch cost (snapshot, commit, file IO) dwarfs row work on
    moderate key counts — 32 stores vs 8 was 16.4s vs 3.5s on the test
    corpus. Size it to key cardinality / executor count on a real cluster
    (the value is fixed at first start by the checkpoint, by design).

    SINK CHOICE (round-8 scale fix): append-mode output volume is
    data-scale-bound (the OOO gap stream emits ~0.95 rows per input row),
    and a MEMORY sink materializes every result row on the driver — at
    the sf10 decade that was ~9.5M JVM rows on the shared 8g heap, an
    OOM found by the probe. Append streams therefore land in a
    per-process parquet FILE sink (executor-side, spill-free) and return
    as a lazy batch scan; complete-mode aggregates stay on the memory
    sink, whose size is the (bounded) aggregate state, not the data."""
    spark = stream_df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        if output_mode == "append":
            from sample_data_pipeline_project_spark.sources.scratch import (
                scratch_dir,
            )

            root = scratch_dir(f"stream_sink_{uuid.uuid4().hex[:8]}")
            q = (
                stream_df.writeStream.format("parquet")
                .option("path", f"{root}/data")
                .option("checkpointLocation", f"{root}/ckpt")
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            q.stop()
            # An availableNow stream over an EMPTY source may execute no
            # batch at all, leaving the data dir uncreated; the memory
            # sink returned an empty table in that case, so match it
            # rather than raising PATH_NOT_FOUND.
            os.makedirs(f"{root}/data", exist_ok=True)
            return spark.read.schema(stream_df.schema).parquet(f"{root}/data")
        name = f"stream_out_{uuid.uuid4().hex[:8]}"
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)


# ---------------------------------------------------------------------------
# Streaming ledger-gap detection (the reference's A13 gap check, online)
# ---------------------------------------------------------------------------
_GAP_OUT_SCHEMA = T.StructType(
    [
        T.StructField("pipeline_name", T.StringType()),
        T.StructField("index_name", T.StringType()),
        T.StructField("day", T.DateType()),
        T.StructField("missing_from_ts", T.TimestampNTZType()),
        T.StructField("missing_until_ts", T.TimestampNTZType()),
    ]
)
# state = end_ts of the last (start_ts, run_id)-ordered row seen, as
# epoch MICROS (int64 survives every state-store codec portably)
_GAP_STATE_SCHEMA = T.StructType([T.StructField("last_end_us", T.LongType())])


def ledger_runs_stream(events: DataFrame) -> DataFrame:
    """The derived pipeline-run ledger over the event STREAM — same column
    definitions as the batch ledger (ledger/derive.py ledger_columns)."""
    from sample_data_pipeline_project_spark.ledger.derive import ledger_columns

    return ledger_columns(events)


def ledger_gaps_stateful(runs: DataFrame) -> DataFrame:
    """Online gap detection (reference semantics: snowflake_tasks.py
    385-405, partitioned for scale as in ledger/tasks.py gaps_df): per
    (pipeline, index, start_day) group, emit a gap row whenever a run's
    start_ts differs from the previous run's end_ts. State per group is
    ONE timestamp (the last end_ts) — O(1), unbounded-stream-safe.

    Ordering contract: rows are sorted (start_ts, run_id) WITHIN each
    micro-batch; across batches the ledger append stream is assumed
    chronological per group (the pipeline ledger appends runs as they
    execute). Under the availableNow trigger on a finite source this
    reproduces the batch LAG result exactly — the stream-vs-batch parity
    the oracle checks."""
    import numpy as np
    import pandas as pd

    def update(key, pdf_iter, state: GroupState):
        pdfs = [p for p in pdf_iter if len(p)]
        prev_us = state.get[0] if state.exists else None
        frames = []
        if pdfs:
            pdf = pd.concat(pdfs, ignore_index=True).sort_values(
                ["query_window_start_ts", "run_id"], kind="mergesort"
            )
            start = pdf["query_window_start_ts"].to_numpy(dtype="datetime64[us]")
            end = pdf["query_window_end_ts"].to_numpy(dtype="datetime64[us]")
            prev = np.empty(len(pdf), dtype="datetime64[us]")
            prev[0] = (
                np.datetime64(prev_us, "us") if prev_us is not None
                else np.datetime64("NaT")
            )
            prev[1:] = end[:-1]
            mask = ~np.isnat(prev) & (start != prev)
            if mask.any():
                frames.append(
                    pd.DataFrame(
                        {
                            "pipeline_name": [key[0]] * int(mask.sum()),
                            "index_name": [key[1]] * int(mask.sum()),
                            "day": [key[2]] * int(mask.sum()),
                            "missing_from_ts": prev[mask],
                            "missing_until_ts": start[mask],
                        }
                    )
                )
            state.update((int(end[-1].astype("int64")),))
        if frames:
            yield from iter(frames)

    return runs.groupBy(
        "pipeline_name", "index_name", "query_window_start_day"
    ).applyInPandasWithState(
        update,
        outputStructType=_GAP_OUT_SCHEMA,
        stateStructType=_GAP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Out-of-order-correct streaming gap detection (watermark-buffered)
# ---------------------------------------------------------------------------
# `ledger_gaps_stateful` assumes per-group chronological arrival; this
# variant buffers rows in state until the WATERMARK passes them, then
# emits gaps in true event-time order — the correct answer under
# bounded disorder, at the cost of O(pending-rows) state per group
# (bounded by delay x arrival rate; truly-late rows beyond the delay are
# dropped by the watermark upstream, standard streaming semantics).
_GAP_OOO_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_end_us", T.LongType()),
        T.StructField("starts", T.ArrayType(T.LongType())),
        T.StructField("ends", T.ArrayType(T.LongType())),
        # run_id rides in state so pending rows flush in the SAME
        # (start_ts, run_id) order the batch LAG uses — without it, two
        # runs sharing a start_ts could flush in a different relative
        # order than the batch tiebreak and break stream-vs-batch parity.
        T.StructField("run_ids", T.ArrayType(T.LongType())),
    ]
)


def ledger_gaps_ooo(runs: DataFrame, delay: str = "10 minutes") -> DataFrame:
    """Gap detection under OUT-OF-ORDER arrival: rows buffer in state and
    flush (sorted) only once the event-time watermark passes their
    start_ts — EventTimeTimeout drives flushes even when a group
    receives no further data. Emitted gaps are identical to the batch
    LAG result restricted to flushed rows."""
    import numpy as np
    import pandas as pd

    with_wm = runs.withColumn(
        "__evt", F.col("query_window_start_ts").cast("timestamp")
    ).withWatermark("__evt", delay)

    def update(key, pdf_iter, state: GroupState):
        wm_us = state.getCurrentWatermarkMs() * 1000
        if state.exists:
            last_end_us, starts, ends, run_ids = state.get
            starts, ends, run_ids = list(starts), list(ends), list(run_ids)
        else:
            last_end_us, starts, ends, run_ids = None, [], [], []
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            s = pdf["query_window_start_ts"].to_numpy(dtype="datetime64[us]")
            e = pdf["query_window_end_ts"].to_numpy(dtype="datetime64[us]")
            starts.extend(s.astype("int64").tolist())
            ends.extend(e.astype("int64").tolist())
            run_ids.extend(int(x) for x in pdf["run_id"].to_numpy())
        # (start_ts, run_id) — the batch LAG's exact sort key, so flush
        # order matches batch even when two runs share a start_ts
        order = np.lexsort((np.array(run_ids or [0]), np.array(starts or [0])))
        if starts:
            sa = np.array(starts, dtype="int64")[order]
            ea = np.array(ends, dtype="int64")[order]
            ra = np.array(run_ids, dtype="int64")[order]
        else:
            sa = np.array([], dtype="int64")
            ea = np.array([], dtype="int64")
            ra = np.array([], dtype="int64")
        ready = sa <= wm_us
        out = None
        if ready.any():
            rs, re_ = sa[ready], ea[ready]
            prev = np.empty(len(rs), dtype="int64")
            prev[0] = last_end_us if last_end_us is not None else -1
            prev[1:] = re_[:-1]
            has_prev = prev >= 0
            mask = has_prev & (rs != prev)
            if mask.any():
                out = pd.DataFrame(
                    {
                        "pipeline_name": [key[0]] * int(mask.sum()),
                        "index_name": [key[1]] * int(mask.sum()),
                        "day": [key[2]] * int(mask.sum()),
                        "missing_from_ts": prev[mask].astype("datetime64[us]"),
                        "missing_until_ts": rs[mask].astype("datetime64[us]"),
                    }
                )
            last_end_us = int(re_[-1])
        pend_s = sa[~ready]
        pend_e = ea[~ready]
        pend_r = ra[~ready]
        state.update(
            (
                last_end_us,
                pend_s.astype("int64").tolist(),
                pend_e.astype("int64").tolist(),
                pend_r.astype("int64").tolist(),
            )
        )
        if len(pend_s):
            # fire once the watermark passes the earliest pending row
            state.setTimeoutTimestamp(max(int(pend_s.min()) // 1000, wm_us // 1000 + 1))
        if out is not None:
            yield out

    return with_wm.groupBy(
        "pipeline_name", "index_name", "query_window_start_day"
    ).applyInPandasWithState(
        update,
        outputStructType=_GAP_OUT_SCHEMA,
        stateStructType=_GAP_OOO_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


# ---------------------------------------------------------------------------
# Streaming EWMA (the stream twin of workloads/timeseries_queries.py
# timeseries_ewma — same truncated kernel, same arithmetic order)
# ---------------------------------------------------------------------------
_EWMA_OUT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("ewma", T.DoubleType()),
    ]
)
# state = the last up-to-(K-1) values in time order (fixed-size tail —
# the truncated kernel is exactly what makes EWMA O(1)-state streamable)
_EWMA_STATE_SCHEMA = T.StructType(
    [T.StructField("tail", T.ArrayType(T.DoubleType()))]
)


def ewma_stateful(events: DataFrame) -> DataFrame:
    """Per-user streaming EWMA with the SAME truncated kernel as the batch
    LAG-window workload: state carries the last K-1 values per user, each
    row's smoothed value folds the kernel terms IN THE SAME j=0..K-1
    ORDER as the batch SQL's left-associative chain (missing lags add the
    same literal 0.0), so stream output is bit-identical to batch — the
    parity the workload's oracle hashes.

    Ordering contract (same as ledger_gaps_stateful): rows sort by
    (ts, event_id) within each micro-batch; across batches the event
    stream is assumed chronological per user."""
    import numpy as np
    import pandas as pd

    from sample_data_pipeline_project_spark.functions.timeops import (
        EWMA_LAGS,
        EWMA_WEIGHTS,
    )

    def update(key, pdf_iter, state: GroupState):
        tail = list(state.get[0]) if state.exists else []
        pdfs = [p for p in pdf_iter if len(p)]
        frames = []
        if pdfs:
            pdf = pd.concat(pdfs, ignore_index=True).sort_values(
                ["ts", "event_id"], kind="mergesort"
            )
            vals = pdf["value"].to_numpy(dtype="float64")
            hist = np.concatenate([np.asarray(tail, dtype="float64"), vals])
            off = len(tail)
            out = np.empty(len(vals), dtype="float64")
            for i in range(len(vals)):
                num = 0.0
                den = 0.0
                for j in range(EWMA_LAGS):
                    idx = off + i - j
                    if idx >= 0:
                        num = num + EWMA_WEIGHTS[j] * float(hist[idx])
                        den = den + EWMA_WEIGHTS[j]
                    else:
                        num = num + 0.0
                        den = den + 0.0
                out[i] = num / den
            frames.append(
                pd.DataFrame(
                    {
                        "event_id": pdf["event_id"].to_numpy(),
                        "user_id": pdf["user_id"].to_numpy(),
                        "ts": pdf["ts"].to_numpy(),
                        "value": vals,
                        "ewma": out,
                    }
                )
            )
            new_tail = hist[-(EWMA_LAGS - 1):] if len(hist) else hist
            state.update(([float(x) for x in new_tail],))
        if frames:
            yield from iter(frames)

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_EWMA_OUT_SCHEMA,
        stateStructType=_EWMA_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Streaming debounce (the batch events_debounce workload, online)
# ---------------------------------------------------------------------------
_DEBOUNCE_OUT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("dropped", T.IntegerType()),
    ]
)
# state = the previous event's timestamp in epoch MICROSECONDS — the
# stateless-form debounce compares to the previous ROW, so one int64 is
# the entire per-key state (exactly why production ingest uses this form)
_DEBOUNCE_STATE_SCHEMA = T.StructType(
    [T.StructField("last_us", T.LongType())]
)

_DEBOUNCE_GAP_US = 5 * 60 * 1_000_000


def debounce_stateful(events: DataFrame) -> DataFrame:
    """Per-(user, type) streaming DEBOUNCE: an event is flagged dropped
    when the previous same-key event (previous ROW, not previous kept
    row — the O(1)-state stateless form) is within 5 minutes. Timestamps
    are compared as exact epoch-microsecond integers, the same
    arithmetic as the batch LAG + INTERVAL predicate, so stream output
    is identical to batch and both hash against one oracle.

    Ordering contract (same as ewma_stateful): rows sort by
    (ts, event_id) within each micro-batch; across batches the stream is
    assumed chronological per key."""
    import pandas as pd

    import numpy as np

    def update(key, pdf_iter, state: GroupState):
        last_us = state.get[0] if state.exists else None
        pdfs = [p for p in pdf_iter if len(p)]
        if pdfs:
            pdf = pd.concat(pdfs, ignore_index=True).sort_values(
                ["ts", "event_id"], kind="mergesort"
            )
            us = pdf["ts"].to_numpy().astype("datetime64[us]").astype("int64")
            # "previous ROW" (not previous-kept) semantics: each row
            # compares against the row before it, so the whole batch is
            # one vectorized shift + compare — no recurrence. The
            # Python per-row loop this replaces was the sf10 decade's
            # dominant cost (10M interpreter iterations per batch).
            prev = np.empty(len(us), dtype="int64")
            prev[1:] = us[:-1]
            if last_us is None:
                # no predecessor: make the first diff exceed the gap
                prev[0] = us[0] - _DEBOUNCE_GAP_US - 1
            else:
                prev[0] = last_us
            dropped = (us - prev <= _DEBOUNCE_GAP_US).astype("int64")
            state.update((int(us[-1]),))
            yield pd.DataFrame(
                {
                    "event_id": pdf["event_id"].to_numpy(),
                    "user_id": pdf["user_id"].to_numpy(),
                    "event_type": pdf["event_type"].to_numpy(),
                    "ts": pdf["ts"].to_numpy(),
                    "dropped": dropped,
                }
            )

    return events.groupBy("user_id", "event_type").applyInPandasWithState(
        update,
        outputStructType=_DEBOUNCE_OUT_SCHEMA,
        stateStructType=_DEBOUNCE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Streaming overlap detection (the reference's A14 interval self-join,
# online)
# ---------------------------------------------------------------------------
_OVL_OUT_SCHEMA = T.StructType(
    [
        T.StructField("pipeline_name", T.StringType()),
        T.StructField("index_name", T.StringType()),
        T.StructField("source_run_id", T.LongType()),
        T.StructField("source_window_start_ts", T.TimestampNTZType()),
        T.StructField("source_window_end_ts", T.TimestampNTZType()),
        T.StructField("overlaps_with_run_id", T.LongType()),
        T.StructField("overlaps_with_start_ts", T.TimestampNTZType()),
        T.StructField("overlaps_with_end_ts", T.TimestampNTZType()),
    ]
)
# state = every interval seen so far in this (pipeline, index, start_day)
# cohort — bounded by runs-per-day (the reference's own day-banding is
# what makes per-group state finite)
_OVL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("run_ids", T.ArrayType(T.LongType())),
        T.StructField("start_us", T.ArrayType(T.LongType())),
        T.StructField("end_us", T.ArrayType(T.LongType())),
    ]
)


def ledger_overlaps_stateful(runs: DataFrame) -> DataFrame:
    """Online overlap detection (reference semantics:
    snowflake_tasks.py:488-584 — the A14 interval self-join — run as a
    stream): per (pipeline, index, start_day) cohort, each arriving run
    is tested against every interval seen so far; an overlapping pair is
    emitted the moment its LATER member arrives, as both ordered rows
    (source, overlaps_with) and (overlaps_with, source) — exactly the
    ordered-pair set the batch self-join produces, so the result is
    arrival-order-independent and one oracle covers stream and batch.

    Interval tests are exact epoch-microsecond integer compares (the
    half-open a.start < b.end AND a.end > b.start predicate). State is
    the cohort's interval list — bounded by runs-per-day, the same
    day-band that bounds the batch join's quadratic term."""
    import numpy as np
    import pandas as pd

    def update(key, pdf_iter, state: GroupState):
        if state.exists:
            ids, starts, ends = (list(x) for x in state.get)
        else:
            ids, starts, ends = [], [], []
        pdfs = [p for p in pdf_iter if len(p)]
        frames = []
        if pdfs:
            pdf = pd.concat(pdfs, ignore_index=True).sort_values(
                ["query_window_start_ts", "run_id"], kind="mergesort"
            )
            s_us = (
                pdf["query_window_start_ts"]
                .to_numpy()
                .astype("datetime64[us]")
                .astype("int64")
            )
            e_us = (
                pdf["query_window_end_ts"]
                .to_numpy()
                .astype("datetime64[us]")
                .astype("int64")
            )
            rids = pdf["run_id"].to_numpy()
            rows = []
            for i in range(len(pdf)):
                r_id, r_s, r_e = int(rids[i]), int(s_us[i]), int(e_us[i])
                if ids:
                    sa = np.asarray(starts, dtype="int64")
                    ea = np.asarray(ends, dtype="int64")
                    ia = np.asarray(ids, dtype="int64")
                    hit = (sa < r_e) & (ea > r_s) & (ia != r_id)
                    for j in np.nonzero(hit)[0]:
                        s_id, s_s, s_e = int(ia[j]), int(sa[j]), int(ea[j])
                        rows.append((s_id, s_s, s_e, r_id, r_s, r_e))
                        rows.append((r_id, r_s, r_e, s_id, s_s, s_e))
                ids.append(r_id)
                starts.append(r_s)
                ends.append(r_e)
            state.update((ids, starts, ends))
            if rows:
                arr = np.asarray(rows, dtype="int64")
                frames.append(
                    pd.DataFrame(
                        {
                            "pipeline_name": [key[0]] * len(rows),
                            "index_name": [key[1]] * len(rows),
                            "source_run_id": arr[:, 0],
                            "source_window_start_ts": arr[:, 1].astype(
                                "datetime64[us]"
                            ),
                            "source_window_end_ts": arr[:, 2].astype(
                                "datetime64[us]"
                            ),
                            "overlaps_with_run_id": arr[:, 3],
                            "overlaps_with_start_ts": arr[:, 4].astype(
                                "datetime64[us]"
                            ),
                            "overlaps_with_end_ts": arr[:, 5].astype(
                                "datetime64[us]"
                            ),
                        }
                    )
                )
        if frames:
            yield from iter(frames)

    return runs.groupBy(
        "pipeline_name", "index_name", "query_window_start_day"
    ).applyInPandasWithState(
        update,
        outputStructType=_OVL_OUT_SCHEMA,
        stateStructType=_OVL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Streaming interarrival anomaly (online z-score on exact integer moments)
# ---------------------------------------------------------------------------
_ANOM_OUT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("gap_s", T.LongType()),
        T.StructField("n_prior", T.LongType()),
        T.StructField("is_anomaly", T.BooleanType()),
    ]
)
# state = (last event's epoch-micros, count/sum/sum-of-squares of all
# PRIOR interarrival gaps in whole seconds) — four int64s per key. The
# moments are EXACT integers, which is what makes the stream, the batch
# window twin, and the DuckDB oracle hash-identical: no float recurrence
# (Welford) whose rounding would depend on batch boundaries.
_ANOM_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_us", T.LongType()),
        T.StructField("cnt", T.LongType()),
        T.StructField("sm", T.LongType()),
        T.StructField("sq", T.LongType()),
    ]
)
_ANOM_MIN_PRIOR = 3
_ANOM_Z2 = 9  # |z| > 3


def interarrival_anomaly_stateful(events: DataFrame) -> DataFrame:
    """Per-user ONLINE interarrival anomaly detector: each event's gap to
    the previous same-user event (whole seconds, floor) is z-scored
    against the mean/variance of all PRIOR gaps for that user, flagging
    |z| > 3 once >= 3 prior gaps exist. The z-test is evaluated in exact
    int64 arithmetic — (gap*cnt - sum)^2 > 9 * (cnt*sumsq - sum^2) is
    algebraically z^2 > 9 with the population variance — so stream
    output is bit-identical to the batch window form at any micro-batch
    boundary (no float state). Ordering contract as ewma_stateful:
    (ts, event_id) within batches, chronological across batches.

    Overflow bound: gaps are whole seconds (measured max ~5*10^5 on the
    testdata span) and per-user event counts are ~10^2 (~10 at the sf10
    decade, where users scale WITH events by generator design), so
    (gap*cnt - sum)^2 <= ~2.5*10^15 — three orders under int64. The
    general contract: |gap| * cnt must stay under ~3*10^9 per key; a
    corpus of years-long gaps AND 10^4+ events per key needs the same
    test in DECIMAL/int128. That bound is ENFORCED, not just narrated:
    the kernel checks |gap|*cnt + |sum| and cnt*sumsq against int64
    headroom per batch and raises OverflowError instead of silently
    wrapping to wrong is_anomaly flags (round-11 ADVICE fix)."""
    import pandas as pd

    import numpy as np

    def update(key, pdf_iter, state: GroupState):
        if state.exists:
            last_us, cnt, sm, sq = state.get
        else:
            last_us, cnt, sm, sq = None, 0, 0, 0
        pdfs = [p for p in pdf_iter if len(p)]
        if pdfs:
            pdf = pd.concat(pdfs, ignore_index=True).sort_values(
                ["ts", "event_id"], kind="mergesort"
            )
            us = pdf["ts"].to_numpy().astype("datetime64[us]").astype("int64")
            prev = np.empty(len(us), dtype="int64")
            prev[1:] = us[:-1]
            has_first_gap = last_us is not None
            prev[0] = last_us if has_first_gap else 0
            gap = (us - prev) // 1_000_000
            # prior-moment prefix: row i sees moments over gaps[0..i-1]
            # (plus carried state); the first row contributes only if a
            # previous-event timestamp existed
            valid = np.ones(len(us), dtype="int64")
            if not has_first_gap:
                valid[0] = 0
            g = gap * valid
            cnt_incl = cnt + np.cumsum(valid)
            sm_incl = sm + np.cumsum(g)
            sq_incl = sq + np.cumsum(g * g)
            cnt_pri = cnt_incl - valid
            sm_pri = sm_incl - g
            sq_pri = sq_incl - g * g
            # exact-int overflow guard: the z-test squares
            # (gap*cnt - sum), so |gap|*cnt + |sum| must stay under
            # ~3.03e9 (sqrt of int64 max) and 9*(cnt*sumsq) under int64.
            # Check magnitudes in float64 (exact for bounds this far
            # below 2^53) and REFUSE rather than wrap silently — a
            # wrapped square emits wrong is_anomaly flags while the
            # DuckDB BIGINT oracle errors or diverges.
            base_mag = (
                np.abs(gap).astype("float64") * cnt_pri
                + np.abs(sm_pri).astype("float64")
            )
            rhs_mag = cnt_pri.astype("float64") * sq_pri.astype("float64")
            if len(base_mag) and (
                base_mag.max() > 3.0e9 or rhs_mag.max() > 1.0e18
            ):
                raise OverflowError(
                    "interarrival_anomaly_stateful: int64 z-test bound "
                    "exceeded (|gap|*cnt+|sum| up to "
                    f"{base_mag.max():.3g}, cnt*sumsq up to "
                    f"{rhs_mag.max():.3g}) — this corpus needs the "
                    "DECIMAL/int128 form of the test"
                )
            lhs = (gap * cnt_pri - sm_pri) ** 2
            rhs = _ANOM_Z2 * (cnt_pri * sq_pri - sm_pri * sm_pri)
            anom = (
                (valid == 1) & (cnt_pri >= _ANOM_MIN_PRIOR) & (lhs > rhs)
            )
            # only the key's first-ever row can lack a gap — no per-row
            # Python loop needed (vectorized like the debounce kernel)
            gap_out = pd.array(gap, dtype="Int64")
            if not has_first_gap:
                gap_out[0] = None
            state.update(
                (int(us[-1]), int(cnt_incl[-1]), int(sm_incl[-1]),
                 int(sq_incl[-1]))
            )
            yield pd.DataFrame(
                {
                    "event_id": pdf["event_id"].to_numpy(),
                    "user_id": pdf["user_id"].to_numpy(),
                    "ts": pdf["ts"].to_numpy(),
                    "gap_s": gap_out,
                    "n_prior": cnt_pri,
                    "is_anomaly": anom,
                }
            )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_ANOM_OUT_SCHEMA,
        stateStructType=_ANOM_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
