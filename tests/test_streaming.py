"""Structured Streaming: stream-vs-batch parity and stateful processing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sample_data_pipeline_project_spark.sources.catalog import load_table
from sample_data_pipeline_project_spark.streaming.eventtime import (
    dedup_stream,
    hourly_counts_stream,
    run_stream_to_table,
    session_counts_stream,
    stream_events,
    user_totals_stateful,
)

_SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_stream(spark):
    df = stream_events(spark, _SF_DIR)
    assert df.isStreaming
    return df


def test_hourly_stream_equals_batch(spark, events_stream):
    got = run_stream_to_table(hourly_counts_stream(events_stream))
    batch = (
        load_table(spark, _SF_DIR, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    s = {(r["window_start"], r["event_type"]): r["n_events"] for r in got.collect()}
    b = {(r["window_start"], r["event_type"]): r["n_events"] for r in batch.collect()}
    assert s == b and len(s) > 0


def test_session_stream_total_events_conserved(spark, events_stream):
    got = run_stream_to_table(session_counts_stream(events_stream))
    rows = got.collect()
    assert sum(r["n_events"] for r in rows) == load_table(
        spark, _SF_DIR, "events"
    ).count()
    # session windows must be disjoint per user
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(
            (r["session_start"], r["session_end"])
        )
    for sessions in by_user.values():
        sessions.sort()
        for (s1, e1), (s2, e2) in zip(sessions, sessions[1:]):
            assert e1 <= s2, f"overlapping sessions {s1}-{e1} and {s2}-{e2}"


def test_stateful_user_totals_match_batch(spark, events_stream):
    got = run_stream_to_table(user_totals_stateful(events_stream), "update")
    batch = (
        load_table(spark, _SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    s = {r["user_id"]: r["n_events"] for r in got.collect()}
    b = {r["user_id"]: r["n_events"] for r in batch.collect()}
    assert s == b


def test_stream_dedup_recovers_original(spark):
    """Doubling the stream (union with itself) then streaming dedup on
    event_id must recover exactly the original events."""
    doubled = stream_events(spark, _SF_DIR).unionAll(stream_events(spark, _SF_DIR))
    got = run_stream_to_table(dedup_stream(doubled), "append")
    n_orig = load_table(spark, _SF_DIR, "events").count()
    rows = got.collect()
    assert len(rows) == n_orig
    ids = {r["event_id"] for r in rows}
    assert len(ids) == n_orig


def test_stream_minhash_dedup_equals_one_shot(spark, tmp_path):
    from pyspark.sql import functions as F

    from sample_data_pipeline_project_spark.operators.dedup import (
        minhash_lsh_candidates_incremental,
        minhash_signatures,
    )
    from sample_data_pipeline_project_spark.workloads.dedup_queries import (
        _INC_DELTA_MOD,
        _NUM_HASHES,
    )
    from sample_data_pipeline_project_spark.workloads.streaming_queries import (
        stream_minhash_dedup,
    )

    texts = ["alpha beta gamma delta", "alpha beta gamma epsilon",
             "unrelated words entirely here", "alpha beta gamma delta"]
    rows = [
        (i, texts[i % 4] + (" pad" + str(i // 4) if i % 7 == 0 else ""), "en",
         "s", 10)
        for i in range(60)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    streamed = {
        (r["a"], r["b"]) for r in stream_minhash_dedup(spark, str(tmp_path)).collect()
    }
    base = df.filter(F.col("doc_id") % _INC_DELTA_MOD != 0)
    delta = df.filter(F.col("doc_id") % _INC_DELTA_MOD == 0)
    one_shot = {
        (r["a"], r["b"])
        for r in minhash_lsh_candidates_incremental(
            minhash_signatures(base, _NUM_HASHES), delta, _NUM_HASHES
        ).collect()
    }
    assert streamed == one_shot and len(streamed) > 0


def test_ooo_gaps_batch_width_invariant(spark, monkeypatch):
    """Round-8 scale guard: stream_ledger_gaps_ooo's staging targets
    constant rows per micro-batch, so the batch COUNT scales with the
    corpus. The flushed gap set must be identical at any split width
    (ascending value ranges mean no row ever arrives below the
    watermark; the terminal availableNow batch flushes everything up to
    max - delay). Pin it: same data, default width (nb=4) vs forced
    10-batch staging -> identical rows."""
    from sample_data_pipeline_project_spark.workloads import (
        streaming_queries as sq,
    )

    sf = "/root/testdata/sf0.001"
    base = sorted(
        map(tuple, sq.stream_ledger_gaps_ooo(spark, sf).collect())
    )
    monkeypatch.setattr(sq, "_OOO_ROWS_PER_BATCH", 100)  # 1000 runs -> nb=10
    wide = sorted(
        map(tuple, sq.stream_ledger_gaps_ooo(spark, sf).collect())
    )
    assert base and base == wide


def test_run_stream_to_table_append_empty_source(spark, tmp_path):
    """An availableNow stream over a source with NO files executes no
    batch, so the file sink never creates its data directory; the
    append path must return an empty table (like the memory sink did),
    not raise PATH_NOT_FOUND."""
    src = tmp_path / "empty_src"
    src.mkdir()
    stream = (
        spark.readStream.schema("event_id long, user_id long")
        .parquet(str(src))
    )
    got = run_stream_to_table(stream, "append")
    assert got.count() == 0
    assert [f.name for f in got.schema.fields] == ["event_id", "user_id"]


def test_memory_sink_runs_leave_no_stream_view(spark, events_stream):
    from sample_data_pipeline_project_spark.workloads import load_all

    got = run_stream_to_table(hourly_counts_stream(events_stream))
    assert got.count() > 0  # the frame outlives its view
    pyds = load_all()["stream_python_datasource"].fn(spark, _SF_DIR)
    assert pyds.count() > 0
    views = [
        t.name
        for s in (spark, events_stream.sparkSession)
        for t in s.catalog.listTables()
        if t.name.startswith(("stream_out_", "pyds_stream_"))
    ]
    assert not views, views


def test_stream_state_width_rides_on_the_stream_session(spark, monkeypatch):
    """stream_debounce's stateful operator runs 8 state partitions while
    the caller's own width stays as it is for the whole run, and a second
    run reuses the stream session. Every session that starts a stream
    adds a listener to the shared bus that is never removed, so a fresh
    child session per run would grow the bus by one per run on top of
    the at most one that Spark's own per-query session clone adds."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from sample_data_pipeline_project_spark.operators.materialize import (
        materialize_scope,
    )
    from sample_data_pipeline_project_spark.workloads import load_all

    started = []
    real_start = DataStreamWriter.start

    def start(self, *args, **kwargs):
        q = real_start(self, *args, **kwargs)
        started.append((q, spark.conf.get("spark.sql.shuffle.partitions")))
        return q

    monkeypatch.setattr(DataStreamWriter, "start", start)
    w = load_all()["stream_debounce"]
    bus = spark.sparkContext._jsc.sc().listenerBus()
    conf = spark.conf.getAll
    listeners = []
    for _ in range(2):
        with materialize_scope():
            assert w.fn(spark, _SF_DIR).count() > 0
        listeners.append(bus.listeners().size())
    assert spark.conf.getAll == conf
    assert len(started) == 2
    for q, caller_width in started:
        assert caller_width == conf["spark.sql.shuffle.partitions"]
        widths = {
            op["numShufflePartitions"]
            for p in q.recentProgress
            for op in p["stateOperators"]
        }
        assert widths == {8}
    (q1, _), (q2, _) = started
    assert q1._jsq.sparkSession().equals(q2._jsq.sparkSession())
    assert listeners[1] - listeners[0] <= 1
