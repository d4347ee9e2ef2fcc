"""Guards for tools/scale_probe.py and the largest-remainder allocation."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_scale_probe_names_are_registered():
    """Every workload the scale probe times must exist in the registry —
    a renamed workload would otherwise break the probe at runtime."""
    import importlib.util
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "scale_probe", Path(__file__).resolve().parents[1] / "tools" / "scale_probe.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    from sample_data_pipeline_project_spark.workloads import load_all

    registry = load_all()
    missing = [n for n in mod.PROBE if n not in registry]
    assert missing == [], missing


def _hamilton(shares: list[int], total: int) -> list[int]:
    """Reference largest-remainder allocation (deterministic tiebreak by
    index ascending on equal remainders)."""
    s = sum(shares)
    floors = [(v * total) // s for v in shares]
    rems = [(v * total) % s for v in shares]
    missing = total - sum(floors)
    order = sorted(range(len(shares)), key=lambda i: (-rems[i], i))
    out = list(floors)
    for i in order[:missing]:
        out[i] += 1
    return out


def test_hamilton_reference_properties():
    import random

    rnd = random.Random(3)
    for _ in range(50):
        n = rnd.randrange(2, 8)
        shares = [rnd.randrange(1, 10_000) for _ in range(n)]
        total = rnd.randrange(10, 1_000_000)
        alloc = _hamilton(shares, total)
        s = sum(shares)
        # exact-total and quota properties (each within 1 unit of the
        # exact proportional entitlement)
        assert sum(alloc) == total
        for v, a in zip(shares, alloc):
            exact = v * total / s
            assert exact - 1 < a < exact + 1, (v, a, exact)


def test_spark_allocation_matches_reference(spark):
    """The workload's DIV/MOD + remainder-rank formulation must equal the
    sequential reference on a controlled input."""
    from pyspark.sql.window import Window as W

    shares = [7, 13, 29, 51, 100]
    total = 1_000
    rows = [(0, f"s{i}", v) for i, v in enumerate(shares)]
    rev = spark.createDataFrame(rows, "nk long, segment string, seg_cents long")
    tot = rev.groupBy("nk").agg(F.sum("seg_cents").alias("nation_cents"))
    q = rev.join(tot, "nk").select(
        "nk",
        "segment",
        F.expr(f"seg_cents * {total} DIV nation_cents").alias("floor_units"),
        ((F.col("seg_cents") * total) % F.col("nation_cents")).alias("rem"),
    )
    short = q.groupBy("nk").agg(
        (F.lit(total) - F.sum("floor_units")).alias("missing")
    )
    w = W.partitionBy("nk").orderBy(F.col("rem").desc(), F.col("segment").asc())
    ranked = q.join(short, "nk").withColumn("rr", F.row_number().over(w))
    got = {
        r["segment"]: r["alloc"]
        for r in ranked.select(
            "segment",
            (
                F.col("floor_units")
                + F.when(F.col("rr") <= F.col("missing"), 1).otherwise(0)
            ).alias("alloc"),
        ).collect()
    }
    want = dict(zip([f"s{i}" for i in range(len(shares))], _hamilton(shares, total)))
    assert got == want


def test_reap_dead_scratch_spares_shared_bucketed_tables():
    """The reaper must only match the package's actual per-pid naming
    conventions (`<name>-<pid>`, `bkt_*_<pid>`): a broad trailing-digits
    match would parse persistent shared tables like
    `orders_bucketed_sf0_25` as pid 25 and delete them out from under a
    concurrent gate/bench reader whenever 25 is not a live pid."""
    import os
    from pathlib import Path

    from sample_data_pipeline_project_spark.sources.scratch import (
        _pid_alive,
        reap_dead_scratch,
    )

    wh = Path(__file__).resolve().parents[1] / "spark-warehouse"
    wh.mkdir(exist_ok=True)
    # A pid that is certainly dead: walk down from a huge value.
    dead = next(p for p in range(2_000_000, 1_900_000, -1) if not _pid_alive(p))
    keep = [
        wh / f"orders_bucketed_sf0_{dead}",  # shared table, digit tail
        wh / "lineitem_bucketed_sf0_001",  # the real shared-name shape
        wh / f"plain_table_{dead}",  # _pid tail but NOT a bkt_* name
    ]
    reap = [
        wh / f"unit_scratch-{dead}",  # scratch_dir convention
        wh / f"bkt_orders_{dead}",  # C223 convention
    ]
    for p in keep + reap:
        p.mkdir(exist_ok=True)
    try:
        reaped = set(reap_dead_scratch())
        for p in keep:
            assert p.is_dir(), f"reaper deleted shared entry {p.name}"
            assert p.name not in reaped
        for p in reap:
            assert not p.exists(), f"reaper spared dead-pid entry {p.name}"
            assert p.name in reaped
    finally:
        for p in keep + reap:
            if p.is_dir() and not any(p.iterdir()):
                p.rmdir()
