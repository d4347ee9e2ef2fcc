"""Property tests for the round-4c..4g operator claims.

Each test pins the MATHEMATICAL identity a workload leans on against a
brute-force model, independent of the DuckDB oracle gate:
  - Skorokhod reflection solves the floor-clamped running-sum recurrence
    (window_capped_running_sum);
  - KMV bottom-k sketches are mergeable: bottom-k of a union equals the
    bottom-k of the unioned bottom-ks (sketch_kmv_distinct's
    per-partition-then-merge scale story);
  - the inverse-CDF integer thresholds reproduce the Poisson(1) pmf
    (stats_poisson_bootstrap_se);
  - the sweep-line windowed running sum equals a brute-force timeline
    scan for max interval concurrency (ledger_max_concurrency).
"""

from __future__ import annotations

import hashlib
import math
import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pyspark.sql import Window
from pyspark.sql import functions as F


# --------------------------------------------------------------------------
# Skorokhod reflection: b_t = max(0, b_{t-1}+d_t)  ==  S_t - min(0, min S_j)
# --------------------------------------------------------------------------
@given(st.lists(st.integers(min_value=-1000, max_value=1000), max_size=60))
@settings(max_examples=200, deadline=None)
def test_reflection_identity(deltas):
    bal, prefix, running_min = 0, 0, 0
    for d in deltas:
        bal = max(0, bal + d)
        prefix += d
        running_min = min(running_min, prefix)
        assert bal == prefix - min(0, running_min)


def test_capped_sum_spark_matches_sequential_loop(spark):
    rng = random.Random(41)
    rows = [
        (k, i, rng.randint(-500, 500))
        for k in range(20)
        for i in range(rng.randint(0, 30))
    ]
    df = spark.createDataFrame(rows, "k int, i int, delta long")
    w_cur = (
        Window.partitionBy("k")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    got = {
        r["k"]: r["final"]
        for r in df.withColumn("s", F.sum("delta").over(w_cur))
        .groupBy("k")
        .agg(
            (
                F.sum("delta")
                - F.least(F.lit(0).cast("long"), F.min("s"))
            ).alias("final")
        )
        .collect()
    }
    by_key: dict[int, list[int]] = {}
    for k, i, d in rows:
        by_key.setdefault(k, []).append((i, d))
    for k, seq in by_key.items():
        bal = 0
        for _, d in sorted(seq):
            bal = max(0, bal + d)
        assert got[k] == bal, k


# --------------------------------------------------------------------------
# KMV mergeability: bottom_k(A | B) == bottom_k(bottom_k(A) | bottom_k(B))
# --------------------------------------------------------------------------
def _u32(v: str) -> int:
    return int(hashlib.md5(v.encode()).hexdigest()[:8], 16)


def test_kmv_bottom_k_is_mergeable():
    k = 64
    a = {_u32(f"kmv|{i}") for i in range(0, 3000, 2)}
    b = {_u32(f"kmv|{i}") for i in range(0, 3000, 3)}
    direct = sorted(a | b)[:k]
    merged = sorted(set(sorted(a)[:k]) | set(sorted(b)[:k]))[:k]
    assert direct == merged


def test_kmv_estimate_tracks_truth():
    k = 256
    n = 20000
    hashes = sorted({_u32(f"kmv|{i}") for i in range(n)})
    kth = hashes[k - 1]
    est = (k - 1) * (1 << 32) / kth
    assert abs(est - n) <= 4 / math.sqrt(k) * n


# --------------------------------------------------------------------------
# Poisson(1) inverse-CDF thresholds reproduce the pmf
# --------------------------------------------------------------------------
def test_poisson_threshold_draw_distribution():
    from sample_data_pipeline_project_spark.workloads.stats_queries import (
        _POIS_T,
    )

    def draw(u16: int) -> int:
        for w, t in enumerate(_POIS_T):
            if u16 < t:
                return w
        return 6

    n = 1 << 16  # exhaustive over the entire u16 domain: exact fractions
    counts = [0] * 7
    for u in range(n):
        counts[draw(u)] += 1
    for w in range(6):
        expect = math.exp(-1) / math.factorial(w)
        assert abs(counts[w] / n - expect) < 1e-4, w
    # mean of the discretized distribution stays ~1 (weight cap at 6)
    mean = sum(w * c for w, c in enumerate(counts)) / n
    assert abs(mean - 1.0) < 1e-3


# --------------------------------------------------------------------------
# Sweep line vs brute-force timeline scan for max interval concurrency
# --------------------------------------------------------------------------
def test_sweepline_matches_bruteforce(spark):
    rng = random.Random(7)
    rows = []
    rid = 0
    for g in range(8):
        for _ in range(rng.randint(0, 40)):
            s = rng.randint(0, 100)
            rows.append((g, rid, s, s + rng.randint(1, 20)))
            rid += 1
    df = spark.createDataFrame(rows, "g int, rid long, s long, e long")
    pts = df.select("g", F.col("s").alias("ts"), F.lit(1).alias("d"), "rid").unionByName(
        df.select("g", F.col("e").alias("ts"), F.lit(-1).alias("d"), "rid")
    )
    w = (
        Window.partitionBy("g")
        .orderBy("ts", "d", "rid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    got = {
        r["g"]: r["mx"]
        for r in pts.withColumn("c", F.sum("d").over(w))
        .groupBy("g")
        .agg(F.max("c").alias("mx"))
        .collect()
    }
    for g in {r[0] for r in rows}:
        ivals = [(s, e) for gg, _, s, e in rows if gg == g]
        brute = max(
            sum(1 for s, e in ivals if s <= t < e) for t in range(0, 125)
        )
        assert got[g] == brute, g


# --------------------------------------------------------------------------
# Kneser-Ney: interpolated bigram probabilities form a simplex per context
# --------------------------------------------------------------------------
def test_kneser_ney_sums_to_one_per_context():
    """With absolute discount D and continuation backoff, sum over the
    FULL vocabulary of P(w2|w1) must be exactly 1 per observed context:
    sum(max(c-D,0))/c1 = (c1 - D*n1fw)/c1 and the lambda mass
    D*n1fw/c1 multiplies a distribution (sum n1bw = T). Mirrors the
    C184 formula on a toy corpus."""
    D = 0.75
    corpus = [
        "the cat sat on the mat".split(),
        "the dog sat on the log".split(),
        "a cat and a dog".split(),
    ]
    from collections import Counter

    pairs = Counter()
    for doc in corpus:
        for w1, w2 in zip(doc, doc[1:]):
            pairs[(w1, w2)] += 1
    c1 = Counter()
    n1fw = Counter()
    n1bw = Counter()
    for (w1, w2), c in pairs.items():
        c1[w1] += c
        n1fw[w1] += 1
        n1bw[w2] += 1
    T = len(pairs)
    vocab_w2 = set(n1bw)
    for w1 in c1:
        total = 0.0
        for w2 in vocab_w2:
            c = pairs.get((w1, w2), 0)
            p = max(c - D, 0.0) / c1[w1] + (D * n1fw[w1] / c1[w1]) * (
                n1bw[w2] / T
            )
            total += p
        assert abs(total - 1.0) < 1e-12, (w1, total)


# --------------------------------------------------------------------------
# det_range source: partitions are disjoint and complete
# --------------------------------------------------------------------------
def test_det_range_partitions_cover_domain():
    from sample_data_pipeline_project_spark.sources.pydatasource import (
        DetRangePartition,
        DetRangeReader,
    )

    rdr = DetRangeReader({"n": "1000", "partitions": "7"})
    seen = []
    for part in rdr.partitions():
        assert isinstance(part, DetRangePartition)
        seen.extend(i for i, _, _ in rdr.read(part))
    assert sorted(seen) == list(range(1000))


def test_det_range_stream_replay_is_exact():
    from sample_data_pipeline_project_spark.sources.pydatasource import (
        DetRangeStreamReader,
    )

    rdr = DetRangeStreamReader({"n": "2500", "chunk": "1000"})
    off = rdr.initialOffset()
    rows = []
    offsets = [off]
    while off["pos"] < 2500:
        it, off = rdr.read(off)
        rows.extend(it)
        offsets.append(off)
    assert [r[0] for r in rows] == list(range(2500))
    # replay any committed window: identical rows
    replay = list(rdr.readBetweenOffsets(offsets[1], offsets[3]))
    assert replay == rows[1000:2500][:2000][: len(replay)]
    assert [r[0] for r in replay] == list(range(1000, 2500))[: len(replay)]


if __name__ == "__main__":
    raise SystemExit(pytest.main([__file__, "-q"]))
