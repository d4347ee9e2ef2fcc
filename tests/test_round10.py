"""Round-10 operator pins: balanced-IVF cert, late-interaction MaxSim,
k-center coreset, streaming interarrival anomaly."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _py_dot(a, b) -> float:
    """The engines' left fold, replicated in Python floats exactly."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + float(x) * float(y)
    return acc


def _py_cos(a, b) -> float:
    import math

    den = math.sqrt(_py_dot(a, a)) * math.sqrt(_py_dot(b, b))
    return _py_dot(a, b) / den


def _py_d2(a, b) -> float:
    return _py_dot(a, a) - 2.0 * _py_dot(a, b) + _py_dot(b, b)


def _vectors(spark):
    from sample_data_pipeline_project_spark.sources.catalog import load_table

    return {
        r["vec_id"]: list(r["embedding"])
        for r in load_table(spark, SF, "embeddings").collect()
    }


def test_maxsim_matches_python_fold(spark):
    """Late-interaction score = sum over query vecs of max cosine,
    folded in qid order — replicated exactly in Python floats."""
    from sample_data_pipeline_project_spark.workloads.similarity_queries import (
        _LI_GROUP,
        _LI_TOPK,
        sim_late_interaction_maxsim,
    )

    vecs = _vectors(spark)
    qs = {i: v for i, v in vecs.items() if i < _LI_GROUP}
    docs: dict[int, list[list[float]]] = {}
    for i, v in vecs.items():
        if i >= _LI_GROUP:
            docs.setdefault(i // _LI_GROUP, []).append(v)
    expected = {}
    for d, dvs in docs.items():
        acc = 0.0
        for qid in sorted(qs):
            acc = acc + max(_py_cos(qs[qid], dv) for dv in dvs)
        expected[d] = acc
    top = sorted(expected.items(), key=lambda kv: (-kv[1], kv[0]))[:_LI_TOPK]

    got = sim_late_interaction_maxsim(spark, SF).collect()
    assert [(r["li_doc"], r["maxsim_score"]) for r in got] == top


def test_kcenter_matches_python_greedy(spark):
    """Greedy farthest-point selection replicated with the exact fold."""
    from sample_data_pipeline_project_spark.workloads.curation_queries import (
        _KC_K,
        _KC_SEED_ID,
        sample_kcenter_coreset,
    )

    vecs = _vectors(spark)
    chosen = [_KC_SEED_ID]
    while len(chosen) < _KC_K:
        best = None
        for vid, v in vecs.items():
            if vid in chosen:
                continue
            md = min(_py_d2(v, vecs[c]) for c in chosen)
            key = (-md, vid)
            if best is None or key < best[0]:
                best = (key, vid)
        chosen.append(best[1])

    got = sample_kcenter_coreset(spark, SF).orderBy("sel_order").collect()
    assert [r["vec_id"] for r in got] == chosen
    assert [r["sel_order"] for r in got] == list(range(1, _KC_K + 1))


def test_balanced_ivf_cert_split_engages_and_matches(spark):
    row = __import__(
        "sample_data_pipeline_project_spark.workloads.graph_linkage_queries",
        fromlist=["graph_knn_mutual_edges_ivf_balanced"],
    ).graph_knn_mutual_edges_ivf_balanced(spark, SF).collect()[0]
    assert row["split_engaged"] is True
    assert row["matches_unsplit"] is True
    assert row["nonempty"] is True


def _write_events(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp_ntz"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    return str(tmp_path)


def test_stream_anomaly_hand_computed(spark, tmp_path):
    """One user, gaps 10,10,10 then 1000: the 4th gap z-scores at
    z = (1000-10)/0 -> var 0 means lhs > rhs=0 -> anomaly; a 5th gap of
    10 against prior {10,10,10,1000} must NOT flag (large prior var)."""
    t0 = dt.datetime(2024, 1, 1)
    times = [0, 10, 20, 30, 1030, 1040]
    rows = [
        (i, 1, "view", t0 + dt.timedelta(seconds=s))
        for i, s in enumerate(times)
    ]
    sf = _write_events(spark, tmp_path, rows)
    from sample_data_pipeline_project_spark.workloads.streaming_queries import (
        stream_anomaly_interarrival,
    )

    got = {
        r["event_id"]: (r["gap_s"], r["n_prior"], r["is_anomaly"])
        for r in stream_anomaly_interarrival(spark, sf).collect()
    }
    assert got[0] == (None, 0, False)
    assert got[1] == (10, 0, False)
    assert got[2] == (10, 1, False)
    assert got[3] == (10, 2, False)
    # gap 1000 vs prior {10,10,10}: n=3, sum=30, sumsq=300
    # lhs=(1000*3-30)^2=8820900; rhs=9*(3*300-900)=0 -> anomaly
    assert got[4] == (1000, 3, True)
    # gap 10 vs prior {10,10,10,1000}: n=4, sum=1030, sumsq=1000300
    # lhs=(40-1030)^2=980100; rhs=9*(4*1000300-1060900)=18453600 -> ok
    assert got[5] == (10, 4, False)


def test_stream_anomaly_batch_boundary_invariance(spark, tmp_path):
    """Same rows split across TWO files (two micro-batches with
    maxFilesPerTrigger=1 ordering by name) produce identical output:
    the int64 moment state carries across the boundary exactly."""
    t0 = dt.datetime(2024, 1, 1)
    times = [0, 10, 20, 30, 1030, 1040, 1050, 2050]
    rows = [
        (i, 1, "view", t0 + dt.timedelta(seconds=s))
        for i, s in enumerate(times)
    ]
    one = _write_events(spark, tmp_path / "one", rows)

    two_dir = tmp_path / "two" / "events.parquet"
    two_dir.mkdir(parents=True)
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp_ntz"
    )
    df.filter(F.col("event_id") < 4).coalesce(1).write.mode("overwrite").parquet(
        str(two_dir / "part_a")
    )
    df.filter(F.col("event_id") >= 4).coalesce(1).write.mode("overwrite").parquet(
        str(two_dir / "part_b")
    )

    from sample_data_pipeline_project_spark.streaming.eventtime import (
        interarrival_anomaly_stateful,
        run_stream_to_table,
    )

    def run(src_glob, schema):
        raw = (
            spark.readStream.schema(schema).format("parquet").load(src_glob)
        )
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
        out = run_stream_to_table(
            interarrival_anomaly_stateful(raw), output_mode="append"
        )
        return sorted(
            (r["event_id"], r["gap_s"], r["n_prior"], r["is_anomaly"])
            for r in out.collect()
        )

    schema = df.schema
    got_one = run(f"{one}/events.parque[t]", schema)
    got_two = run(str(two_dir / "part_*"), schema)
    assert got_one == got_two
    assert len(got_two) == len(rows)


def test_anomaly_overflow_guard_raises(spark, tmp_path):
    """Round-11 ADVICE (medium): gaps big enough that |gap|*cnt + |sum|
    exceeds the int64 z-test headroom must RAISE, not silently wrap to
    wrong is_anomaly flags. Three events ~127 years apart trip the
    guard on the second gap (cnt_pri=1, base magnitude ~8e9 > 3e9)."""
    base = dt.datetime(2000, 1, 1)
    rows = [
        (i, 1, "click", base + dt.timedelta(seconds=i * 4_000_000_000))
        for i in range(3)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp_ntz"
    )
    src = tmp_path / "wide_gaps"
    df.coalesce(1).write.mode("overwrite").parquet(str(src))

    from sample_data_pipeline_project_spark.streaming.eventtime import (
        interarrival_anomaly_stateful,
        run_stream_to_table,
    )

    raw = (
        spark.readStream.schema(df.schema).format("parquet").load(str(src))
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    with pytest.raises(Exception, match="int64 z-test bound"):
        run_stream_to_table(
            interarrival_anomaly_stateful(raw), output_mode="append"
        ).collect()


def test_max_cell_budget_guarantees_split(spark):
    """Round-11 ADVICE: pair_budget='max-cell' derives the forced budget
    from the operator's own census (max(m)^2 - 1), so >= 1 cell splits
    on ANY corpus shape — the C232 split_engaged oracle can no longer
    flip on regenerated or perfectly uniform testdata. Edges must stay
    bit-identical to the default-budget plan."""
    from sample_data_pipeline_project_spark.operators.similarity import (
        knn_mutual_edges_ivf,
    )
    from sample_data_pipeline_project_spark.sources.catalog import load_table

    emb = load_table(spark, SF, "embeddings")
    stats: dict = {}
    forced = knn_mutual_edges_ivf(
        emb, 3, 0.1, nprobe=2, pair_budget="max-cell", split_stats=stats
    )
    assert stats["n_oversized"] >= 1
    assert stats["max_ns"] >= 2
    default = knn_mutual_edges_ivf(emb, 3, 0.1, nprobe=2)
    got = sorted(map(tuple, forced.collect()))
    want = sorted(map(tuple, default.collect()))
    assert got == want and len(want) > 0


def test_kcenter_plan_is_lazy(spark):
    """Building the coreset query launches no Spark jobs (the chained
    1-row broadcasts are all lazy) — the C231 eager-normalizer class."""
    from sample_data_pipeline_project_spark.sources.catalog import load_table
    from sample_data_pipeline_project_spark.workloads.curation_queries import (
        sample_kcenter_coreset,
    )

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    # baseline: a bare catalog load (its parquet-footer sniff may launch
    # one tiny metadata job — the accepted construction cost)
    b0 = len(tracker.getJobIdsForGroup(None) or [])
    load_table(spark, SF, "embeddings")
    b1 = len(tracker.getJobIdsForGroup(None) or [])
    baseline = b1 - b0

    before = len(tracker.getJobIdsForGroup(None) or [])
    sample_kcenter_coreset(spark, SF)
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after - before <= baseline
