"""Round-11 operator pins: IVF-preselected near-dup pairs (the SemDeDup
scale path) and its certification workload."""

from __future__ import annotations

from sample_data_pipeline_project_spark import harness

SF = "/root/testdata/sf0.001"


def _pairs(df):
    return {(r["a"], r["b"]): r["cosine_sim"] for r in df.collect()}


def _widest(spark, tag):
    return max(s["n_tasks"] for s in harness.stage_table(spark, tag))


def test_pairs_ivf_is_exact_subset(spark, scoped):
    """Every pair the IVF path emits appears in the exact blocked-matmul
    set with a BIT-IDENTICAL score (preselection prunes, never invents
    or rescores), and recall clears the pinned sf0.001 floor."""
    from sample_data_pipeline_project_spark.operators.similarity import (
        neardup_cosine_pairs_blocked,
        neardup_cosine_pairs_ivf,
    )
    from sample_data_pipeline_project_spark.sources.catalog import load_table

    emb = load_table(spark, SF, "embeddings")
    with scoped():
        exact = _pairs(neardup_cosine_pairs_blocked(emb, 0.4))
        approx = _pairs(neardup_cosine_pairs_ivf(emb, 0.4, nprobe=4))
    assert set(approx) <= set(exact)
    assert all(approx[k] == exact[k] for k in approx)
    assert len(approx) >= 0.8 * len(exact)


def test_pairs_ivf_forced_split_identical(spark, scoped):
    """pair_budget='max-cell' forces >= 1 cell to salt, and the salted
    plan emits the IDENTICAL pair set (work splits, membership doesn't).

    Stage widths follow the census: at the default budget the whole
    corpus's sims work fits one task, so no stage runs wider than the
    cores; the forced plan is above its budget and keeps the
    group-count width for its scoring stage."""
    from sample_data_pipeline_project_spark.operators.similarity import (
        neardup_cosine_pairs_ivf,
    )
    from sample_data_pipeline_project_spark.sources.catalog import load_table

    emb = load_table(spark, SF, "embeddings")
    with scoped("ivf-pairs-default-budget"):
        base = _pairs(neardup_cosine_pairs_ivf(emb, 0.4, nprobe=4))
    stats: dict = {}
    with scoped("ivf-pairs-max-cell"):
        forced = _pairs(
            neardup_cosine_pairs_ivf(
                emb, 0.4, nprobe=4, pair_budget="max-cell", split_stats=stats
            )
        )
    assert stats["n_oversized"] >= 1
    assert forced == base and len(base) > 0
    cores = spark.sparkContext.defaultParallelism
    assert _widest(spark, "ivf-pairs-default-budget") <= cores
    assert _widest(spark, "ivf-pairs-max-cell") == min(
        8192, max(64, 2 * stats["n_groups"])
    )


def test_semivf_floor_applies_only_under_gate_root(tmp_path):
    """Per-scale recall pins are measured against the canonical gate
    corpora; any other directory named like one must get 'default'."""
    from sample_data_pipeline_project_spark.workloads.similarity_queries import (
        _SEMIVF_FLOORS,
        _semivf_floor,
    )

    assert _semivf_floor("/root/testdata/sf0.1") == _SEMIVF_FLOORS["sf0.1"]
    other = tmp_path / "sf0.1"
    other.mkdir()
    assert _semivf_floor(str(other)) == _SEMIVF_FLOORS["default"]


def test_semantic_dedup_ivf_certifies(spark, scoped):
    """The C236 gate workload returns all-TRUE at test scale."""
    from sample_data_pipeline_project_spark.workloads.similarity_queries import (
        sim_semantic_dedup_ivf,
    )

    with scoped():
        row = sim_semantic_dedup_ivf(spark, SF).collect()
    assert len(row) == 1
    r = row[0]
    assert r["exact_subset"] and r["recall_ok"] and r["nonempty"]
    assert r["clusters_valid"]


def _py_dot(a, b) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + float(x) * float(y)
    return acc


def _py_cos(a, b):
    import math

    den = math.sqrt(_py_dot(a, a)) * math.sqrt(_py_dot(b, b))
    return _py_dot(a, b) / den if den != 0.0 else None


def test_mmr_select_matches_python_greedy(spark):
    """C238: the full MMR pipeline (pool + k greedy rounds) replicated in
    Python floats with the engines' exact left-fold dot — selection order
    and relevance values must match exactly."""
    from sample_data_pipeline_project_spark.sources.catalog import load_table
    from sample_data_pipeline_project_spark.workloads.similarity_queries import (
        _MMR_DIV,
        _MMR_K,
        _MMR_LAM,
        _MMR_POOL,
        _MMR_QUERY_ID,
        sim_mmr_diverse_topk,
    )

    vecs = {
        r["vec_id"]: list(r["embedding"])
        for r in load_table(spark, SF, "embeddings").collect()
    }
    q = vecs[_MMR_QUERY_ID]
    rel = {
        i: _py_cos(v, q)
        for i, v in vecs.items()
        if i != _MMR_QUERY_ID and _py_cos(v, q) is not None
    }
    pool = sorted(rel, key=lambda i: (-rel[i], i))[:_MMR_POOL]
    lam, div = float(_MMR_LAM), float(_MMR_DIV)
    selected = [min(pool, key=lambda i: (-rel[i], i))]
    while len(selected) < _MMR_K:
        cands = [i for i in pool if i not in selected]
        mmr = {
            i: lam * rel[i] - div * max(_py_cos(vecs[i], vecs[s]) for s in selected)
            for i in cands
        }
        selected.append(min(cands, key=lambda i: (-mmr[i], i)))
    rows = sim_mmr_diverse_topk(spark, SF).collect()
    got = {r["sel_order"]: (r["vec_id"], r["relevance"]) for r in rows}
    assert got == {
        n + 1: (i, rel[i]) for n, i in enumerate(selected)
    }
    # greedy MMR must actually diversify here: the selection differs from
    # plain top-k relevance order (otherwise the workload pins nothing)
    assert selected != pool[:_MMR_K]
    spark.catalog.clearCache()


def test_dsir_scores_match_python_lm(spark):
    """C239: hashed-unigram LM log-ratio scores replicated in Python with
    the portable md5-u32 bucket hash; rounded scores and the top-N cut
    must match the workload exactly."""
    import hashlib
    import math

    from sample_data_pipeline_project_spark.sources.catalog import load_table
    from sample_data_pipeline_project_spark.workloads.text_queries import (
        _DSIR_B,
        _DSIR_TARGET,
        _DSIR_TOP,
        text_dsir_importance_sample,
    )

    docs = {
        r["doc_id"]: (r["source"], r["text"])
        for r in load_table(spark, SF, "documents").collect()
    }

    def bucket(tok: str) -> int:
        h = hashlib.md5(("dsir|" + tok).encode()).hexdigest()[:8]
        return int(h, 16) % _DSIR_B

    tf: dict[int, dict[int, int]] = {}
    for doc_id, (_, text) in docs.items():
        for tok in text.strip().lower().split():
            if tok:
                d = tf.setdefault(doc_id, {})
                b = bucket(tok)
                d[b] = d.get(b, 0) + 1
    cnt_r: dict[int, int] = {}
    cnt_t: dict[int, int] = {}
    n_r = n_t = 0
    for doc_id, bs in tf.items():
        is_t = docs[doc_id][0] == _DSIR_TARGET
        for b, c in bs.items():
            cnt_r[b] = cnt_r.get(b, 0) + c
            n_r += c
            if is_t:
                cnt_t[b] = cnt_t.get(b, 0) + c
                n_t += c
    lnr = {
        b: math.log(
            (float(cnt_t.get(b, 0) + 1) * float(n_r + _DSIR_B))
            / (float(cnt_r[b] + 1) * float(n_t + _DSIR_B))
        )
        for b in cnt_r
    }
    scores = {
        doc_id: round(sum(c * lnr[b] for b, c in sorted(bs.items())), 9)
        for doc_id, bs in tf.items()
    }
    top = sorted(scores, key=lambda d: (-scores[d], d))[:_DSIR_TOP]
    rows = text_dsir_importance_sample(spark, SF).collect()
    assert [r["doc_id"] for r in rows] == top
    for r in rows:
        assert r["source"] == docs[r["doc_id"]][0]
        assert abs(r["llr_score"] - scores[r["doc_id"]]) <= 1e-9
    # the target source must be over-represented in the kept set vs its
    # corpus share — the selection has to actually prefer target-like docs
    kept_t = sum(1 for d in top if docs[d][0] == _DSIR_TARGET)
    share = sum(1 for d in docs if docs[d][0] == _DSIR_TARGET) / len(docs)
    assert kept_t / len(top) > share
