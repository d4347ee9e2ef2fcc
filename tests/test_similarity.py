"""Similarity operators: brute-force top-k, blocked near-dup (must equal
the naive quadratic bit-for-bit), IVF probe semantics."""

from __future__ import annotations

import math
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from sample_data_pipeline_project_spark.operators.similarity import (
    neardup_cosine_pairs,
    neardup_cosine_pairs_blocked,
    topk_cosine,
)

_REPO = Path(__file__).resolve().parents[1]


@pytest.fixture(scope="module")
def vecs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # close to 0
        (2, [0.0, 1.0, 0.0]),   # orthogonal to 0
        (3, [1.0, 0.0, 0.0]),   # identical to 0
        (4, [-1.0, 0.0, 0.0]),  # opposite
        (5, [0.5, 0.5, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_topk_order_and_tiebreak(vecs):
    q = vecs.filter("vec_id = 0").select(F.col("embedding").alias("q_emb"))
    corpus = vecs.filter("vec_id != 0")
    rows = topk_cosine(corpus, q, 3).collect()
    assert [r["vec_id"] for r in rows] == [3, 1, 5]
    assert rows[0]["cosine_sim"] == pytest.approx(1.0)
    assert rows[2]["cosine_sim"] == pytest.approx(1 / math.sqrt(2))


@pytest.mark.parametrize("threshold", [0.5, 0.9])
def test_blocked_neardup_matches_naive_bitexact(vecs, threshold):
    naive = {(r["a"], r["b"]): r["cosine_sim"] for r in neardup_cosine_pairs(vecs, threshold).collect()}
    fast = {
        (r["a"], r["b"]): r["cosine_sim"]
        for r in neardup_cosine_pairs_blocked(vecs, threshold, num_blocks=3).collect()
    }
    assert fast == naive  # exact equality: verification re-computes JVM-side
    assert len(naive) > 0


def test_blocked_neardup_no_self_or_reversed_pairs(vecs):
    rows = neardup_cosine_pairs_blocked(vecs, 0.0, num_blocks=2).collect()
    pairs = [(r["a"], r["b"]) for r in rows]
    assert len(pairs) == len(set(pairs))
    for a, b in pairs:
        assert a < b


def test_rplsh_precision_one_and_measured_recall(spark):
    from sample_data_pipeline_project_spark.operators.similarity import (
        rp_lsh_neardup_pairs,
    )
    from sample_data_pipeline_project_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    exact = {
        (r["a"], r["b"])
        for r in neardup_cosine_pairs(emb, 0.4, id_col="vec_id").collect()
    }
    lsh = {
        (r["a"], r["b"]) for r in rp_lsh_neardup_pairs(emb, 0.4).collect()
    }
    assert lsh <= exact            # precision 1.0: verification is exact
    if exact:
        recall = len(lsh) / len(exact)
        # deterministic hyperplanes -> deterministic recall on this corpus
        assert recall >= 0.3, recall


def test_lsh_topk_subset_of_corpus_with_exact_scores(spark):
    """LSH top-k: returned scores must be the exact cosine (re-rank is
    exact), results a subset of the brute-force ranking prefix-compatible
    set, and recall@k measured against brute force."""
    from sample_data_pipeline_project_spark.operators.similarity import (
        rp_lsh_topk_cosine,
    )
    from sample_data_pipeline_project_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter("vec_id = 0").select(F.col("embedding").alias("q_emb"))
    corpus = emb.filter("vec_id != 0")
    k = 10
    exact = topk_cosine(corpus, q, k).collect()
    approx = rp_lsh_topk_cosine(corpus, q, k).collect()
    assert 0 < len(approx) <= k
    exact_scores = {r["vec_id"]: r["cosine_sim"] for r in topk_cosine(corpus, q, 10_000).collect()}
    for r in approx:
        # exact re-rank: the reported score IS the true cosine
        assert r["cosine_sim"] == exact_scores[r["vec_id"]]
    # scores sorted descending with id tiebreak
    key = [(-r["cosine_sim"], r["vec_id"]) for r in approx]
    assert key == sorted(key)
    recall = len({r["vec_id"] for r in approx} & {r["vec_id"] for r in exact}) / k
    assert recall >= 0.3, recall


def test_int8_quantized_cosine_error_bound_and_recall(spark):
    """Quantized cosine tracks exact cosine within the int8 quantization
    error envelope, and quantized top-k recovers the exact top-k on the
    real testdata (recall@10)."""
    from sample_data_pipeline_project_spark.functions.vectors import (
        cosine,
        quantize_int8,
        quantized_cosine,
    )
    from sample_data_pipeline_project_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").limit(200)
    both = (
        emb.withColumn("q", quantize_int8("embedding"))
        .filter(F.col("vec_id") != 0)
        .crossJoin(
            F.broadcast(
                emb.filter("vec_id = 0").select(
                    F.col("embedding").alias("q_emb"),
                    quantize_int8("embedding").alias("qq"),
                )
            )
        )
        .select(
            "vec_id",
            cosine("embedding", "q_emb").alias("exact"),
            quantized_cosine("q", "qq").alias("approx"),
        )
        .collect()
    )
    assert both
    for r in both:
        # int8 symmetric quantization: relative element error <= 1/254 per
        # operand; 0.02 absolute on a unit-ish cosine is a loose envelope.
        assert abs(r["exact"] - r["approx"]) < 0.02, r
    exact10 = {r["vec_id"] for r in sorted(both, key=lambda r: -r["exact"])[:10]}
    approx10 = {r["vec_id"] for r in sorted(both, key=lambda r: -r["approx"])[:10]}
    assert len(exact10 & approx10) >= 8


def test_cosine_arrow_bitexact_vs_jvm_fold(spark):
    """cosine_arrow (Arrow/numpy cumsum left fold) must be BIT-identical to
    the interpreted JVM aggregate() fold on real embeddings, including the
    NULL-on-zero-norm contract — it substitutes for `cosine` on wide
    verify stages, so any divergence would silently change oracle hashes."""
    from sample_data_pipeline_project_spark.functions.vectors import (
        cosine,
        cosine_arrow,
    )
    from sample_data_pipeline_project_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    pairs = (
        emb.select(F.col("vec_id").alias("a"), F.col("embedding").alias("va"))
        .join(
            emb.select(F.col("vec_id").alias("b"), F.col("embedding").alias("vb")),
            F.col("a") + 1 == F.col("b"),
        )
    )
    rows = (
        pairs.select(
            "a",
            cosine("va", "vb").alias("jvm"),
            cosine_arrow("va", "vb").alias("arrow"),
        )
        .collect()
    )
    assert len(rows) > 50
    for r in rows:
        assert r["jvm"] == r["arrow"], (r["a"], r["jvm"], r["arrow"])

    zero = spark.createDataFrame(
        [(0, [0.0, 0.0], [1.0, 1.0]), (1, None, [1.0, 1.0])],
        "i long, va array<float>, vb array<float>",
    )
    got = zero.select("i", cosine_arrow("va", "vb").alias("c")).collect()
    assert all(r["c"] is None for r in got)


def test_ann_certification_workloads_green_at_sf0001(spark):
    """The three ANN workloads emit oracle-certifiable rows: exactly-k
    returns and recall bounds that hold with margin at every testdata
    scale (measured recall: lsh_topk 0.30, kmeans 0.70, rplsh_neardup
    0.58 at sf0.001 vs certified bounds 0.1 / 0.2 / 0.2)."""
    from sample_data_pipeline_project_spark.workloads.similarity_queries import (
        sim_kmeans_ivf_topk,
        sim_lsh_topk,
        sim_rplsh_neardup,
    )

    sf = "/root/testdata/sf0.001"
    for fn in (sim_kmeans_ivf_topk, sim_lsh_topk):
        row = fn(spark, sf).collect()[0]
        assert row["n_returned"] == 10, fn.__name__
        assert row["recall_ok"] is True, fn.__name__

    row = sim_rplsh_neardup(spark, sf).collect()[0]
    assert row["n_exact_pairs"] > 0
    assert row["n_false_positives"] == 0
    assert row["recall_ok"] is True


def test_batch_topk_matches_single_query_operator(spark):
    import random

    from sample_data_pipeline_project_spark.operators.similarity import (
        batch_topk_cosine,
        topk_cosine,
    )

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)], 0) for i in range(60)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).repartition(5)
    queries = emb.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["cosine_sim"])
        for r in batch_topk_cosine(emb, queries, 5).collect()
    }
    assert len(got) == 3 * 5
    for q in (0, 20, 40):
        single = topk_cosine(
            emb.filter(F.col("vec_id") != q),
            emb.filter(F.col("vec_id") == q).select(
                F.col("embedding").alias("q_emb")
            ),
            5,
        ).collect()
        for rank, r in enumerate(single, start=1):
            assert got[(q, rank)] == (r["vec_id"], r["cosine_sim"])


def test_knn_mutual_edges_exact_under_cutoff_ties(spark):
    """Adversarial saturation fixture (round-8 ADVICE): three hubs of 30
    scaled copies each — every hub-internal cosine is an EXACT tie at
    1.0, so each row has ~29 candidates tied at the preselection cutoff,
    far more than d + local_slack can hold. The saturation guard must
    widen those rows (select every candidate above threshold - margin)
    or BLAS tie-ordering silently drops true top-d neighbors. Oracle =
    numpy brute force with the identical cumsum fold and (score desc,
    id asc) tie-break; asserted under BOTH a zero-slack config (forces
    widening on every hub row) and the default slack."""
    import numpy as np

    from sample_data_pipeline_project_spark.operators.similarity import (
        knn_mutual_edges,
    )

    rng = np.random.default_rng(7)
    base = rng.normal(size=(3, 8))
    rows, mats = [], []
    vid = 0
    for h in range(3):
        for r in range(30):
            v = (base[h] * 2.0 ** ((r % 5) - 2)).astype(np.float32)
            rows.append((vid, [float(x) for x in v]))
            mats.append(v.astype(np.float64))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    m = np.stack(mats)
    ids = [r[0] for r in rows]

    d, threshold = 2, 0.99
    # brute-force oracle with the operator's exact arithmetic: cumsum
    # fold for dots and norms, score = dot / (na * nb)
    dots = np.cumsum(m[:, None, :] * m[None, :, :], axis=2)[:, :, -1]
    norms = np.sqrt(np.cumsum(m * m, axis=1)[:, -1])
    cos = dots / (norms[:, None] * norms[None, :])
    top: dict[int, set[int]] = {}
    for i, a in enumerate(ids):
        cand = [
            (cos[i, j], ids[j])
            for j in range(len(ids))
            if j != i and cos[i, j] >= threshold
        ]
        cand.sort(key=lambda t: (-t[0], t[1]))
        top[a] = {b for _, b in cand[:d]}
    expected = {
        (ids[i], ids[j]): cos[i, j]
        for i in range(len(ids))
        for j in range(len(ids))
        if ids[i] < ids[j] and ids[j] in top[ids[i]] and ids[i] in top[ids[j]]
    }
    assert expected, "fixture must produce mutual edges"

    for slack in (0, 8):
        got = {
            (r["a"], r["b"]): r["cosine_sim"]
            for r in knn_mutual_edges(
                emb, d, threshold, num_blocks=2, local_slack=slack
            ).collect()
        }
        assert got == expected


def test_knn_mutual_edges_ivf_structure_and_recall(spark, scoped):
    """C226 id-level pins at sf0.001: every IVF-preselected edge is a
    genuine exact-threshold pair with a bit-identical score, the degree
    bound holds HARD, and recall vs the exact mutual-kNN graph clears
    the certified floor (nprobe=6, the registered config: measured
    0.93 at sf0.001 — see RECALL_CERT.json)."""
    import collections

    from sample_data_pipeline_project_spark.operators.similarity import (
        knn_mutual_edges,
        knn_mutual_edges_ivf,
        neardup_cosine_pairs,
    )
    from sample_data_pipeline_project_spark.sources.catalog import load_table

    sf = "/root/testdata/sf0.001"
    d, threshold = 5, 0.3
    emb = load_table(spark, sf, "embeddings")
    with scoped():
        approx = knn_mutual_edges_ivf(emb, d, threshold, nprobe=6).collect()
        base = {
            (r["a"], r["b"]): r["cosine_sim"]
            for r in neardup_cosine_pairs(emb, threshold).collect()
        }
        exact = {
            (r["a"], r["b"])
            for r in knn_mutual_edges(emb, d, threshold).collect()
        }
    assert approx and all(r["a"] < r["b"] for r in approx)
    # subset of the exact threshold pairs, scores bit-identical
    assert all(base[(r["a"], r["b"])] == r["cosine_sim"] for r in approx)
    deg = collections.Counter()
    for r in approx:
        deg[r["a"]] += 1
        deg[r["b"]] += 1
    assert max(deg.values()) <= d
    found = {(r["a"], r["b"]) for r in approx}
    assert len(found & exact) >= 0.85 * len(exact)


def test_knn_mutual_edges_ivf_carries_id_type(spark, scoped):
    """The Arrow schemas must derive from the caller's id column (like
    the exact builder), not hardcode `long`: an int-keyed corpus must
    produce the identical edge set (the md5 sample and Lloyd init read
    CAST(id AS STRING) / sorted ids, both unchanged by the cast), and a
    string-keyed corpus must still satisfy the structural contract."""
    import collections

    from pyspark.sql import functions as F

    from sample_data_pipeline_project_spark.operators.similarity import (
        knn_mutual_edges_ivf,
    )
    from sample_data_pipeline_project_spark.sources.catalog import load_table

    sf = "/root/testdata/sf0.001"
    d, threshold = 5, 0.3
    emb = load_table(spark, sf, "embeddings")
    as_int = emb.withColumn("vec_id", F.col("vec_id").cast("int"))
    # String ids: different sample/init order, so only the structural
    # contract is pinned — runs, a < b, hard degree bound.
    as_str = emb.withColumn(
        "vec_id", F.format_string("id%06d", F.col("vec_id"))
    )
    with scoped():
        base = {
            (r["a"], r["b"], r["cosine_sim"])
            for r in knn_mutual_edges_ivf(emb, d, threshold, nprobe=4).collect()
        }
        got_int = {
            (r["a"], r["b"], r["cosine_sim"])
            for r in knn_mutual_edges_ivf(as_int, d, threshold, nprobe=4).collect()
        }
        rows = knn_mutual_edges_ivf(as_str, d, threshold, nprobe=4).collect()
    assert got_int == base
    assert rows and all(r["a"] < r["b"] for r in rows)
    deg = collections.Counter()
    for r in rows:
        deg[r["a"]] += 1
        deg[r["b"]] += 1
    assert max(deg.values()) <= d


def test_knn_mutual_edges_ivf_balanced_split_identical(spark, scoped):
    """Round-10 quantizer-balance lever: a `pair_budget` small enough to
    force EVERY cell onto the salted source-split path (full membership
    replicated as rerank targets) must reproduce the default run's edge
    set bit-for-bit — the lever re-schedules the straggler cell's work,
    it must never change WHAT is computed. Pinned at sf0.001 where
    scores are well-separated (no candidates inside the float margin),
    so the approximate tie corner of saturate=False cannot fire.

    At the default budget the corpus's whole sims work fits one task,
    so no stage runs wider than the cores."""
    from sample_data_pipeline_project_spark import harness
    from sample_data_pipeline_project_spark.operators.similarity import (
        knn_mutual_edges_ivf,
    )
    from sample_data_pipeline_project_spark.sources.catalog import load_table

    sf = "/root/testdata/sf0.001"
    d, threshold = 5, 0.3
    emb = load_table(spark, sf, "embeddings")
    with scoped("knn-ivf-default-budget"):
        base = {
            (r["a"], r["b"], r["cosine_sim"])
            for r in knn_mutual_edges_ivf(emb, d, threshold, nprobe=6).collect()
        }
    assert base
    widths = [s["n_tasks"] for s in harness.stage_table(spark, "knn-ivf-default-budget")]
    assert max(widths) <= spark.sparkContext.defaultParallelism
    # sf0.001 cells hold tens of vectors; budget 64 => ns >= 2 per cell
    with scoped():
        split = {
            (r["a"], r["b"], r["cosine_sim"])
            for r in knn_mutual_edges_ivf(
                emb, d, threshold, nprobe=6, pair_budget=64
            ).collect()
        }
    assert split == base


def test_ann_floor_lookup_per_scale_and_default():
    """Per-scale floor plumbing (round 10): gate dirs resolve their pinned
    floor, unknown dirs (scale probes, user corpora) fall back to the
    historical conservative default, and the floors agree with the
    committed RECALL_CERT.json artifact."""
    import json

    from sample_data_pipeline_project_spark.workloads.similarity_queries import (
        _ANN_FLOORS,
        _ann_floor,
    )

    assert _ann_floor("sim_kmeans_ivf_topk", "/root/testdata/sf0.001") == 0.6
    assert _ann_floor("sim_kmeans_ivf_topk", "/root/testdata/sf0.1/") == 0.2
    assert _ann_floor("sim_lsh_topk", str(_REPO / ".scaledata" / "sf10")) == 0.1
    assert _ann_floor("sim_pq_adc_topk", "/root/testdata/sf0.01") == 0.8
    cert = json.load(open(_REPO / "RECALL_CERT.json"))
    assert cert["topk_family"]["floors"] == _ANN_FLOORS
    # every floor sits strictly UNDER its measured value (the one-hit
    # margin contract) at every gate scale
    measured = cert["topk_family"]["measured"]
    for name, floors in _ANN_FLOORS.items():
        src = "sim_kmeans_ivf_topk" if name == "sim_ivf_index_topk" else name
        for sf in ("sf0.001", "sf0.01", "sf0.1"):
            assert floors[sf] < measured[sf][src], (name, sf)


def test_topk_certification_integer_hit_threshold(spark):
    """0.3 * 10 == 3.0000000000000004 in binary fp: a result with exactly
    3 of 10 exact hits must PASS a 0.3 floor (the threshold is rounded to
    an integer hit count before the comparison)."""
    from sample_data_pipeline_project_spark.workloads.similarity_queries import (
        _topk_certification,
    )

    approx = spark.createDataFrame(
        [(i,) for i in range(10)], "vec_id long"
    )
    # exact set overlaps approx in ids 0,1,2 only -> n_hits = 3
    exact = spark.createDataFrame(
        [(i,) for i in (0, 1, 2, 100, 101, 102, 103, 104, 105, 106)],
        "vec_id long",
    )
    row = _topk_certification(approx, exact, min_recall=0.3).collect()[0]
    assert row["recall_ok"] is True
