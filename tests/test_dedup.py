"""Dedup operator semantics: exact dedup, Jaccard (prefix-filtered vs
naive quadratic must agree exactly), MinHash-LSH guarantees."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sample_data_pipeline_project_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    jaccard_pairs_prefix,
    minhash_lsh_candidates,
    minhash_signatures,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
        (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (4, "entirely different words compose this sample text"),
        (5, "pack my box with five dozen liquor jugs"),
        (6, ""),  # empty doc: no tokens
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_keeps_min_tiebreak(docs):
    out = exact_dedup(docs.withColumn("key", F.md5("text")), ["key"], "doc_id")
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 2, 4, 5, 6]


def _pairs(df):
    return {
        (r["a"], r["b"]): (r["shared"], r["n_a"], r["n_b"], round(r["jaccard"], 12))
        for r in df.collect()
    }


@pytest.mark.parametrize("threshold", [0.5, 0.8, 1.0])
def test_prefix_filter_matches_naive(docs, threshold):
    naive = _pairs(jaccard_pairs(docs, threshold))
    fast = _pairs(jaccard_pairs_prefix(docs, threshold))
    assert fast == naive


def test_jaccard_exact_dup_pair_is_one(docs):
    out = _pairs(jaccard_pairs_prefix(docs, 1.0))
    assert out[(1, 3)][3] == 1.0


def test_prefix_filter_large_vocab_path(spark):
    # >64 distinct tokens forces the array_intersect verify branch
    rows = [
        (i, " ".join(f"tok{j}" for j in range(i, i + 40))) for i in range(10)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    naive = _pairs(jaccard_pairs(docs, 0.6))
    fast = _pairs(jaccard_pairs_prefix(docs, 0.6))
    assert fast == naive and len(naive) > 0


def test_minhash_identical_docs_identical_signatures(docs):
    sig = minhash_signatures(docs, 8).filter(F.col("doc_id").isin(1, 3))
    rows = {r["doc_id"]: tuple(r[f"mh_{i}"] for i in range(8)) for r in sig.collect()}
    assert rows[1] == rows[3]


def test_lsh_candidates_include_exact_dups(docs):
    cands = {
        (r["a"], r["b"])
        for r in minhash_lsh_candidates(docs, 12, 4).collect()
    }
    assert (1, 3) in cands  # identical docs always collide in every band
    for a, b in cands:
        assert a < b


def test_prefix_filter_distributed_rank_path(spark, monkeypatch):
    """Force the >cap vocabulary fallback (bucket-offset distributed rank)
    and require bit-identical output to the collected-rank path, with no
    single-partition window anywhere in its plan."""
    import sample_data_pipeline_project_spark.operators.dedup as dd
    from sample_data_pipeline_project_spark.plans.introspect import (
        single_partition_window_sites,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "the quick brown fox jumps over the lazy dog"),
        (4, "entirely different words compose this sample text"),
        (5, "pack my box with five dozen liquor jugs"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    collected = _pairs(jaccard_pairs_prefix(docs, 0.5))
    monkeypatch.setattr(dd, "VOCAB_COLLECT_CAP", 3)
    fallback_df = jaccard_pairs_prefix(docs, 0.5)
    assert single_partition_window_sites(fallback_df) == []
    assert _pairs(fallback_df) == collected and len(collected) > 0


def test_minhash_incremental_equals_full_minus_base_base(spark, scoped):
    """Incremental LSH (delta vs materialized base signatures) must equal
    the full-corpus candidate set restricted to pairs touching the
    delta."""
    from sample_data_pipeline_project_spark.operators.dedup import (
        minhash_lsh_candidates_incremental,
        minhash_signatures,
    )

    rows = [
        (i, f"shared tokens body {'x' if i % 3 else 'y'} tail {i % 4}")
        for i in range(12)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    base = docs.filter(F.col("doc_id") % 3 != 0)
    delta = docs.filter(F.col("doc_id") % 3 == 0)
    with scoped():
        full = {
            (r["a"], r["b"])
            for r in minhash_lsh_candidates(docs, 12, 4).collect()
        }
        got = {
            (r["a"], r["b"])
            for r in minhash_lsh_candidates_incremental(
                minhash_signatures(base, 12), delta, 12, 4
            ).collect()
        }
    want = {(a, b) for a, b in full if a % 3 == 0 or b % 3 == 0}
    assert got == want and len(want) > 0


def test_minhash_incremental_runs_no_stage_wider_than_the_cores(spark, tmp_path):
    """The delta's signatures are a few dozen rows that both band joins
    re-read. Checkpointed "capped", every read runs at most one task per
    core; a cache would keep its population width (one task more than
    the cores on the union side here, 8 x cores under the engine's wide
    AQE start)."""
    from sample_data_pipeline_project_spark import harness
    from sample_data_pipeline_project_spark.workloads import load_all

    rows = [(i, f"doc body {i % 7} shared words tail {i % 5}") for i in range(400)]
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    w = load_all()["dedup_minhash_incremental"]
    tag = "minhash-incremental-widths"
    assert harness.run_workload(spark, w, str(tmp_path), tag) > 0
    widths = [s["n_tasks"] for s in harness.stage_table(spark, tag)]
    assert widths and max(widths) <= spark.sparkContext.defaultParallelism


# --------------------------------------------------------------------------
# Containment (asymmetric) pairs
# --------------------------------------------------------------------------
def _brute_containment(docs: list[tuple[int, str]], t: float, n: int | None):
    def shingles(text):
        toks = text.lower().strip().split()
        if n is None:
            return set(toks)
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    sets = {i: shingles(tx) for i, tx in docs}
    out = {}
    from fractions import Fraction

    f = Fraction(t).limit_denominator(1_000_000)
    for a, sa in sets.items():
        for b, sb in sets.items():
            if a == b or not sa:
                continue
            shared = len(sa & sb)
            if f.denominator * shared >= f.numerator * len(sa):
                out[(a, b)] = shared
    return out


def test_containment_pairs_match_bruteforce(spark):
    from sample_data_pipeline_project_spark.operators.dedup import (
        containment_pairs_prefix,
    )

    docs = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (3, "alpha beta gamma"),
        (4, "completely different tokens here now"),
        (5, "alpha beta gamma delta epsilon zeta"),  # exact dup of 1
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["a"], r["b"]): r["shared"]
        for r in containment_pairs_prefix(df, 0.9).collect()
    }
    assert got == _brute_containment(docs, 0.9, None)
    # asymmetry: 1 is contained in 2, but 2 is not contained in 1
    assert (1, 2) in got and (2, 1) not in got


def test_containment_boundary_pair_not_lost(spark):
    """A pair at containment EXACTLY t must survive the prefix filter —
    the exact-rational threshold arithmetic guarantee."""
    from sample_data_pipeline_project_spark.operators.dedup import (
        containment_pairs_prefix,
    )

    # |A| = 10 tokens, 9 of them in B -> containment exactly 0.9
    a_text = " ".join(f"t{i}" for i in range(10))
    b_text = " ".join(f"t{i}" for i in range(9)) + " x1 x2 x3"
    df = spark.createDataFrame(
        [(1, a_text), (2, b_text)], "doc_id long, text string"
    )
    got = {(r["a"], r["b"]) for r in containment_pairs_prefix(df, 0.9).collect()}
    assert (1, 2) in got


def test_containment_random_bruteforce_parity(spark):
    import random as _random

    from sample_data_pipeline_project_spark.operators.dedup import (
        containment_pairs_prefix,
    )

    rng = _random.Random(23)
    vocab = [f"w{i}" for i in range(30)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 15))))
        for i in range(20)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for t in (0.8, 1.0):
        got = {
            (r["a"], r["b"]): r["shared"]
            for r in containment_pairs_prefix(df, t).collect()
        }
        assert got == _brute_containment(docs, t, None), t
