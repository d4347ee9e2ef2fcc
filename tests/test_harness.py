"""The shared bench protocol: status-store stage tables, release of what
each run materialized, and the bench_subset -> bench_diff A/B loop."""

from __future__ import annotations

import importlib.util
import json
import sys
import types
from pathlib import Path

from pyspark.sql import functions as F

from sample_data_pipeline_project_spark import harness
from sample_data_pipeline_project_spark.workloads import load_all

_SF = "/root/testdata/sf0.001"
_TOOLS = Path(__file__).resolve().parents[1] / "tools"


def _tool(name: str):
    spec = importlib.util.spec_from_file_location(name, _TOOLS / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _tagged_shuffle(spark, tag: str | None) -> None:
    sc = spark.sparkContext
    if tag:
        sc.addJobTag(tag)
    try:
        spark.range(0, 200_000, numPartitions=4).groupBy(
            (F.col("id") % 50_000).alias("k")
        ).count().collect()
    finally:
        if tag:
            sc.removeJobTag(tag)


def test_stage_table_reads_only_the_tagged_jobs(spark):
    _tagged_shuffle(spark, "harness-a")
    _tagged_shuffle(spark, None)
    _tagged_shuffle(spark, "harness-b")
    a = harness.stage_table(spark, "harness-a")
    b = harness.stage_table(spark, "harness-b")
    assert a and b
    assert not {s["stage"] for s in a} & {s["stage"] for s in b}
    assert len(a) == len(b)  # the untagged run's stages joined neither
    assert sum(s["n_tasks"] for s in a) > 0
    assert sum(s["shuffle_write_mb"] for s in a) > 0
    for s in a:
        assert 0 <= s["max_task_sec"] <= s["task_sec_sum"], s
    assert harness.stage_table(spark, "harness-never-used") == []


def _stored_rdds(spark) -> set[int]:
    return {int(i.id()) for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_run_workload_releases_operator_caches(spark):
    w = load_all()["dedup_minhash_lsh"]
    before = _stored_rdds(spark)
    # the operator caches its signature tables: a bare run leaves blocks
    w.fn(spark, _SF).write.format("noop").mode("overwrite").save()
    assert _stored_rdds(spark) - before
    spark.catalog.clearCache()

    before = _stored_rdds(spark)
    assert harness.run_workload(spark, w, _SF) > 0
    assert _stored_rdds(spark) <= before


def test_run_workload_releases_iterative_checkpoints(spark):
    # kcore_peel checkpoints its edge list every round; a session-wide
    # cache clear does not drop checkpoint blocks
    before = _stored_rdds(spark)
    assert harness.run_workload(spark, load_all()["graph_kcore"], _SF) > 0
    assert _stored_rdds(spark) <= before


def test_stage_table_names_each_iterate_round(spark):
    from sample_data_pipeline_project_spark.workloads.graph_linkage_queries import (
        _KCORE_ROUNDS,
    )

    w = load_all()["graph_kcore"]
    assert harness.run_workload(spark, w, _SF, "kcore-rounds") > 0
    names = {s["name"] for s in harness.stage_table(spark, "kcore-rounds")}
    rounds = {n for n in names if n.startswith("kcore_peel round ")}
    assert rounds == {f"kcore_peel round {i}" for i in range(1, _KCORE_ROUNDS + 1)}


def test_run_workload_keeps_caches_it_did_not_create(spark):
    before = _stored_rdds(spark)
    kept = spark.range(0, 1000).selectExpr("id % 7 AS k").cache()
    assert kept.count() == 1000
    ours = _stored_rdds(spark) - before
    assert ours
    assert harness.run_workload(spark, load_all()["dedup_minhash_lsh"], _SF) > 0
    assert ours <= _stored_rdds(spark)
    kept.unpersist()


def test_bench_subset_output_feeds_bench_diff(monkeypatch, capsys, tmp_path):
    """bench_subset's stdout is a bench_diff input (pure Python: the
    session and the harness's timed calls are stubbed)."""
    from sample_data_pipeline_project_spark import engine

    fake = types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(setLogLevel=lambda level: None)
    )
    monkeypatch.setattr(engine, "get_spark", lambda **kw: fake)
    monkeypatch.setattr(harness, "warm_up", lambda spark, sf_dir: None)
    monkeypatch.setattr(harness, "stage_table", lambda spark, tag: [])
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", _SF)
    bench_subset, bench_diff = _tool("bench_subset"), _tool("bench_diff")
    names = ["tpch_q1_pricing_summary", "tpch_q6_forecast_revenue"]

    def subset(spreads: dict[str, list[float]]) -> Path:
        monkeypatch.setattr(
            harness, "spread", lambda spark, w, sf_dir: (spreads[w.name], "t")
        )
        monkeypatch.setattr(sys, "argv", ["bench_subset.py", *names])
        assert bench_subset.main() == 0
        path = tmp_path / f"{len(list(tmp_path.iterdir()))}.json"
        path.write_text(capsys.readouterr().out)
        return path

    before = subset({names[0]: [2.0, 2.1, 2.2], names[1]: [1.0, 1.1, 1.2]})
    after = subset({names[0]: [1.0, 1.1, 1.2], names[1]: [1.0, 1.5, 1.6]})
    detail = json.loads(after.read_text())
    assert {"queries", "spread", "runs", "warmup", "sf"} <= set(detail)
    assert detail["sf"] == 0.001

    monkeypatch.setattr(sys, "argv", ["bench_diff.py", str(before), str(after)])
    assert bench_diff.main() == 0
    out = capsys.readouterr().out
    assert "-1.00s     2.10 ->    1.10  REAL     tpch_q1_pricing_summary" in out
    assert "+0.40s     1.10 ->    1.50  overlap  tpch_q6_forecast_revenue" in out
