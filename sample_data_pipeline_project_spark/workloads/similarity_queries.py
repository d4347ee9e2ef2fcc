"""Similarity-search workloads (B3) over `embeddings`.

Oracle parity relies on both engines computing the identical left-fold dot
product (functions/vectors.py) — cosine values are bit-identical, so even
ORDER BY score is deterministic across engines.

Binary quantization (`sim_hamming_rerank_topk`) needs no training, so
its two-stage pipeline (Hamming shortlist -> exact cosine rerank) is
deterministic and VALUE-HASHED against the DuckDB oracle. The
semantic-dedup pipeline over IVF-preselected candidates
(`sim_semantic_dedup_ivf`) exists because the exact pair stage is
Theta(N^2 d); it certifies exactness of every emitted pair (subset of the
exact set, bit-identical scores), per-scale pair recall against measured
floors, and the component-representative invariant.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sample_data_pipeline_project_spark.functions.vectors import (
    duck_cosine,
    duck_int_dot,
    duck_quantize_int8,
    duck_quantized_cosine,
    int_dot,
    quantize_int8,
    quantized_cosine,
)
from sample_data_pipeline_project_spark.functions.vectors import cosine as cosine_col
from sample_data_pipeline_project_spark.operators.materialize import materialize
from sample_data_pipeline_project_spark.operators.similarity import (
    duck_sign_pack,
    hamming_rerank_topk,
    ivf_topk_cosine,
    neardup_cosine_pairs_blocked,
    topk_cosine,
)
from sample_data_pipeline_project_spark.sources.catalog import load_table
from sample_data_pipeline_project_spark.sources.scratch import scratch_dir
from sample_data_pipeline_project_spark.workloads import workload


_K = 10
_QUERY_ID = 0
_NEARDUP_THRESHOLD = 0.4
_N_CENTROIDS = 8
_NPROBE = 2


@workload(
    "sim_topk_bruteforce",
    oracle=f"""
WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = {_QUERY_ID})
SELECT e.vec_id,
       {duck_cosine('e.embedding', 'q.q_emb')} AS cosine_sim
FROM embeddings e CROSS JOIN q
WHERE e.vec_id != {_QUERY_ID}
ORDER BY cosine_sim DESC, e.vec_id ASC
LIMIT {_K}
""",
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3 — exact cosine top-k: broadcast 1-row query x corpus scan."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == _QUERY_ID).select(
        F.col("embedding").alias("q_emb")
    )
    corpus = emb.filter(F.col("vec_id") != _QUERY_ID)
    return topk_cosine(corpus, q, _K)


@workload(
    "sim_neardup_pairs",
    oracle=f"""
SELECT a.vec_id AS a, b.vec_id AS b,
       {duck_cosine('a.embedding', 'b.embedding')} AS cosine_sim
FROM embeddings a
JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {duck_cosine('a.embedding', 'b.embedding')} >= {_NEARDUP_THRESHOLD}
""",
)
def sim_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3/B2 — embedding-cosine near-dup pairs: blocked-matmul candidate
    filter + exact JVM left-fold verification (bit-identical to the naive
    quadratic form, linear shuffle volume)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return neardup_cosine_pairs_blocked(emb, _NEARDUP_THRESHOLD)


_DUCK_IVF = f"""
WITH cents AS (
  SELECT vec_id AS centroid_id, embedding AS c_emb
  FROM embeddings WHERE vec_id < {_N_CENTROIDS}
),
q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = {_QUERY_ID}),
corpus AS (SELECT * FROM embeddings WHERE vec_id != {_QUERY_ID}),
assigned AS (
  SELECT e.vec_id, c.centroid_id,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY {duck_cosine('e.embedding', 'c.c_emb')} DESC, c.centroid_id ASC
         ) AS rn
  FROM corpus e CROSS JOIN cents c
),
a1 AS (SELECT vec_id, centroid_id FROM assigned WHERE rn = 1),
probe AS (
  SELECT centroid_id
  FROM cents CROSS JOIN q
  ORDER BY {duck_cosine('c_emb', 'q_emb')} DESC, centroid_id ASC
  LIMIT {_NPROBE}
),
bucket AS (
  SELECT e.* FROM corpus e
  JOIN a1 ON e.vec_id = a1.vec_id
  JOIN probe ON a1.centroid_id = probe.centroid_id
)
SELECT e.vec_id,
       {duck_cosine('e.embedding', 'q.q_emb')} AS cosine_sim
FROM bucket e CROSS JOIN q
ORDER BY cosine_sim DESC, e.vec_id ASC
LIMIT {_K}
"""


@workload("sim_ivf_topk", oracle=_DUCK_IVF)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3 scale path — IVF: assign vectors to nearest of 8 deterministic
    centroids (first 8 ids), probe the 2 buckets nearest the query, exact
    top-k inside them."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == _QUERY_ID).select(
        F.col("embedding").alias("q_emb")
    )
    corpus = emb.filter(F.col("vec_id") != _QUERY_ID)
    cents = emb.filter(F.col("vec_id") < _N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_emb")
    )
    return ivf_topk_cosine(corpus, q, cents, _K, _NPROBE)


def _exact_topk_ids(spark: SparkSession, sf_dir: str):
    """(corpus, query, exact brute-force top-k id set) shared by the ANN
    certification workloads."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == _QUERY_ID).select(
        F.col("embedding").alias("q_emb")
    )
    corpus = emb.filter(F.col("vec_id") != _QUERY_ID)
    exact = topk_cosine(corpus, q, _K).select("vec_id")
    return corpus, q, exact


def _topk_certification(approx: DataFrame, exact: DataFrame, min_recall: float):
    """Reduce an ANN top-k result to the columns a SQL oracle can state
    exactly: how many rows came back (= k whenever the probed buckets hold
    >= k candidates — true at every testdata scale) and a recall bound vs
    the exact top-k. The approximate ids themselves depend on hashing, so
    they stay out of the hashed projection; tests assert the full id sets.

    The hit threshold is rounded to an INTEGER before the comparison:
    `min_recall * _K` in binary floating point can land epsilon above the
    intended count (0.3 * 10 == 3.0000000000000004), which would fail a
    result that has exactly the intended number of hits."""
    min_hits = int(round(min_recall * _K))
    hits = approx.join(exact, "vec_id", "left_semi")
    return (
        approx.agg(F.count("*").alias("n_returned"))
        .crossJoin(hits.agg(F.count("*").alias("n_hits")))
        .select(
            "n_returned",
            (F.col("n_hits") >= F.lit(min_hits)).alias("recall_ok"),
        )
    )


# Per-scale recall floors for the trained/randomized ANN family — the
# C227 pattern extended (round 10) to IVF, PQ-ADC, IVFPQ and RP-LSH.
# A single flat bound decays silently across scales (round 8: a PQ 4x16
# codebook passed the sf0.01 gate at recall 0 at sf0.1; round 9: IVF
# nprobe=4 decayed 0.83 -> 0.66 over one decade). Floors are pinned one
# recall@10 step (0.1) under the values MEASURED by
# tools/measure_ann_recall.py and committed in RECALL_CERT.json, so a
# regression of more than one hit at ANY gate scale fails check_oracle.
# `default` keeps the historical conservative bound for non-gate dirs
# (scale probes on .scaledata, user-supplied corpora).
#
# sim_ivf_index_topk shares sim_kmeans_ivf_topk's floors by construction:
# its matches_inmemory cert pins the probed result bit-identical to the
# in-memory operator with the same quantizer parameters, so one
# measurement covers both.
_ANN_FLOORS: dict[str, dict[str, float]] = {
    # measured 0.7 / 0.5 / 0.3 (quantizer coverage falls as K stays 8
    # while N grows — the documented IVF decay shape; nprobe=2 of 8)
    "sim_kmeans_ivf_topk": {
        "sf0.001": 0.6, "sf0.01": 0.4, "sf0.1": 0.2, "default": 0.2,
    },
    "sim_ivf_index_topk": {
        "sf0.001": 0.6, "sf0.01": 0.4, "sf0.1": 0.2, "default": 0.2,
    },
    # measured 0.3 / 0.4 / 0.6 (band occupancy IMPROVES recall with N
    # here: more candidates per probed bucket reach exact re-rank)
    "sim_lsh_topk": {
        "sf0.001": 0.2, "sf0.01": 0.3, "sf0.1": 0.5, "default": 0.1,
    },
    # measured 1.0 / 0.9 / 0.9 (16x16 codebooks + exact refine)
    "sim_pq_adc_topk": {
        "sf0.001": 0.9, "sf0.01": 0.8, "sf0.1": 0.8, "default": 0.2,
    },
    # measured 0.6 / 0.5 / 0.3 (coarse-quantizer decay dominates, same
    # shape as kmeans IVF — the residual PQ stage is not the loss)
    "sim_ivfpq_topk": {
        "sf0.001": 0.5, "sf0.01": 0.4, "sf0.1": 0.2, "default": 0.2,
    },
    # PAIR recall (continuous, not recall@10): measured .58 / .41 / .55
    "sim_rplsh_neardup": {
        "sf0.001": 0.45, "sf0.01": 0.30, "sf0.1": 0.45, "default": 0.2,
    },
}


def _ann_floor(workload_name: str, sf_dir: str) -> float:
    """Per-scale recall floor — but ONLY for the canonical gate corpora
    under /root/testdata: the floors are pinned against those exact
    parquet files, so any other directory that merely happens to be
    named sf0.001/sf0.01/sf0.1 (scale probes, user data) gets the
    conservative 'default' bound instead of inheriting gate pins it was
    never measured against (round-11 ADVICE fix)."""
    import os

    floors = _ANN_FLOORS[workload_name]
    root = os.path.realpath(sf_dir.rstrip("/"))
    if os.path.dirname(root) == "/root/testdata":
        return floors.get(os.path.basename(root), floors["default"])
    return floors["default"]


@workload(
    "sim_kmeans_ivf_topk",
    oracle=f"SELECT CAST({_K} AS BIGINT) AS n_returned, TRUE AS recall_ok",
)
def sim_kmeans_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3 scale path with a TRAINED quantizer: Lloyd k-means (3 iters,
    deterministic id-init) -> IVF probe of the 2 nearest clusters -> exact
    top-10 cosine inside them. The k-means centroids are iterative
    summation-order-dependent doubles, so the hashed projection certifies
    the result instead of listing it: exactly k rows return and recall@10
    vs the exact brute-force top-k clears a PER-SCALE floor (_ANN_FLOORS,
    pinned one hit under the measured 0.7/0.5/0.3 at
    sf0.001/sf0.01/sf0.1 — see RECALL_CERT.json; the cross-scale decay
    is the fixed-K IVF shape). A broken quantizer or probe flips
    recall_ok and fails the hash; tests cover the id-level sets."""
    from sample_data_pipeline_project_spark.operators.kmeans import kmeans_ivf_topk

    corpus, q, exact = _exact_topk_ids(spark, sf_dir)
    approx = kmeans_ivf_topk(corpus, q, k_clusters=8, top_k=_K, nprobe=2)
    return _topk_certification(
        approx, exact, min_recall=_ann_floor("sim_kmeans_ivf_topk", sf_dir)
    )


@workload(
    "sim_ivf_index_topk",
    oracle=f"""
SELECT TRUE AS matches_inmemory, CAST({_K} AS BIGINT) AS n_returned,
       TRUE AS recall_ok
""",
)
def sim_ivf_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3 at 100 TB — the PERSISTED IVF index (operators/ann_index.py):
    train the coarse quantizer once, write centroids + the corpus
    hive-partitioned by cluster, then probe as a planning-time
    partition-pruned scan reading nprobe/k of the corpus bytes. The
    hashed projection certifies the build-once/probe-many contract:
    exactly k rows return, recall@10 vs exact brute force clears the
    per-scale _ANN_FLOORS bound (shared with sim_kmeans_ivf_topk — the
    bit-identity cert below makes one measurement cover both),
    and the probed result is BIT-IDENTICAL (same (vec_id, cosine)
    multiset) to the in-memory kmeans_ivf_topk operator with the same
    quantizer parameters — a drifted index layout or broken partition
    pruning flips matches_inmemory and fails the hash."""
    from sample_data_pipeline_project_spark.operators.ann_index import (
        build_ivf_index,
        ivf_index_topk,
    )
    from sample_data_pipeline_project_spark.operators.kmeans import kmeans_ivf_topk

    import os

    corpus, q, exact = _exact_topk_ids(spark, sf_dir)
    # under the repo's gitignored warehouse dir (absolute — the driver's
    # cwd is not guaranteed); rebuilt per invocation (the build IS part
    # of what this workload measures)
    path = scratch_dir("ivf_index_workload")
    build_ivf_index(corpus, path, k_clusters=8, max_iters=3)
    probed = ivf_index_topk(spark, path, q, _K, nprobe=2)
    inmem = kmeans_ivf_topk(
        corpus, q, k_clusters=8, top_k=_K, nprobe=2, max_iters=3
    )
    pv = probed.select("vec_id", "cosine_sim")
    iv = inmem.select("vec_id", "cosine_sim")
    diff = pv.exceptAll(iv).unionAll(iv.exceptAll(pv))
    return (
        diff.agg((F.count(F.lit(1)) == 0).alias("matches_inmemory"))
        .crossJoin(
            _topk_certification(
                probed, exact,
                min_recall=_ann_floor("sim_ivf_index_topk", sf_dir),
            )
        )
    )


@workload(
    "sim_lsh_topk",
    oracle=f"SELECT CAST({_K} AS BIGINT) AS n_returned, TRUE AS recall_ok",
)
def sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3 scale path #2 — LSH-bucketed ANN top-k: the query probes only the
    buckets sharing a whole band of hyperplane sign bits with it, then
    exact cosine re-ranks the candidates. Bucket membership is
    hyperplane-dependent, so the hashed projection certifies instead of
    listing: k rows return (the 4 probed buckets always hold >= k
    candidates at ~n/16 expected occupancy each) and recall@10 clears a
    PER-SCALE floor (_ANN_FLOORS; measured 0.3/0.4/0.6 at
    sf0.001/sf0.01/sf0.1 — occupancy IMPROVES recall with N here — see
    RECALL_CERT.json). Tests measure the sharper recall."""
    from sample_data_pipeline_project_spark.operators.similarity import (
        rp_lsh_topk_cosine,
    )

    corpus, q, exact = _exact_topk_ids(spark, sf_dir)
    approx = rp_lsh_topk_cosine(corpus, q, _K)
    return _topk_certification(
        approx, exact, min_recall=_ann_floor("sim_lsh_topk", sf_dir)
    )


@workload(
    "sim_rplsh_neardup",
    oracle=f"""
WITH exact AS (
  SELECT a.vec_id AS a, b.vec_id AS b
  FROM embeddings a
  JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE {duck_cosine('a.embedding', 'b.embedding')} >= {_NEARDUP_THRESHOLD}
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
       CAST(0 AS BIGINT) AS n_false_positives,
       TRUE AS recall_ok
FROM exact
""",
)
def sim_rplsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3/B2 — LSH-bucketed near-dup (random hyperplanes, 16 planes x 4
    bands, exact verification). The pair set is hyperplane-dependent, so
    the hashed projection certifies it against the exact blocked-matmul
    pair set the oracle recomputes: zero false positives (guaranteed — the
    LSH path exact-verifies every candidate with the same arithmetic) and
    pair recall clears a PER-SCALE floor (_ANN_FLOORS, pinned ~0.1 under
    the measured 0.58/0.41/0.55 at sf0.001/sf0.01/sf0.1 — see
    RECALL_CERT.json)."""
    from sample_data_pipeline_project_spark.operators.similarity import (
        neardup_cosine_pairs_blocked,
        rp_lsh_neardup_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    floor = _ann_floor("sim_rplsh_neardup", sf_dir)
    found = rp_lsh_neardup_pairs(emb, _NEARDUP_THRESHOLD).select("a", "b")
    exact = neardup_cosine_pairs_blocked(emb, _NEARDUP_THRESHOLD).select("a", "b")
    false_pos = found.join(exact, ["a", "b"], "left_anti")
    return (
        exact.agg(F.count("*").alias("n_exact_pairs"))
        .crossJoin(found.agg(F.count("*").alias("n_found")))
        .crossJoin(false_pos.agg(F.count("*").alias("n_false_positives")))
        .select(
            "n_exact_pairs",
            "n_false_positives",
            (F.col("n_found") >= floor * F.col("n_exact_pairs")).alias("recall_ok"),
        )
    )

_DUCK_QUANT_TOPK = f"""
WITH qv AS (
  SELECT vec_id, {duck_quantize_int8('embedding')} AS q
  FROM embeddings
),
query AS (SELECT q AS qq FROM qv WHERE vec_id = {_QUERY_ID})
SELECT v.vec_id,
       {duck_quantized_cosine('v.q', 'query.qq')} AS q_cosine
FROM qv v CROSS JOIN query
WHERE v.vec_id != {_QUERY_ID}
ORDER BY q_cosine DESC, v.vec_id ASC
LIMIT {_K}
"""


@workload("sim_quantized_int8_topk", oracle=_DUCK_QUANT_TOPK)
def sim_quantized_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3 scale path — int8 scalar quantization: per-vector symmetric
    quantize (scale = 127/max|x|), then top-k by EXACT-INTEGER dot products
    (only the final sqrt/divide touch floats). 4x less memory/shuffle than
    float32 brute force and integer SIMD on the hot path; quantized scores
    are engine-deterministic, so unlike the LSH/k-means ANN variants this
    approximate path still gets a full value-hash oracle."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "q", quantize_int8("embedding")
    )
    q = emb.filter(F.col("vec_id") == _QUERY_ID).select(F.col("q").alias("qq"))
    corpus = emb.filter(F.col("vec_id") != _QUERY_ID)
    return (
        corpus.crossJoin(F.broadcast(q))
        .select("vec_id", quantized_cosine("q", "qq").alias("q_cosine"))
        .orderBy(F.col("q_cosine").desc(), F.col("vec_id").asc())
        .limit(_K)
    )

_DUCK_CENTROID_CLASSIFY = f"""
WITH qv AS (
  SELECT vec_id, label, {duck_quantize_int8('embedding')} AS q
  FROM embeddings
),
pos AS (
  SELECT vec_id, label, t.i, q[t.i] AS val
  FROM qv, range(1, 65) AS t(i)
),
cent AS (SELECT label, i, SUM(val) AS s FROM pos GROUP BY label, i),
cents AS (SELECT label, list(s ORDER BY i) AS c FROM cent GROUP BY label),
scored AS (
  SELECT v.vec_id, v.label AS true_label, c.label AS cand,
         {duck_int_dot('v.q', 'c.c')} /
         NULLIF(SQRT({duck_int_dot('v.q', 'v.q')})
                * SQRT({duck_int_dot('c.c', 'c.c')}), 0) AS cos_sim
  FROM qv v CROSS JOIN cents c
),
ranked AS (
  SELECT vec_id, true_label, cand,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY cos_sim DESC, cand ASC) AS rn
  FROM scored
)
SELECT vec_id, true_label, cand AS predicted_label
FROM ranked WHERE rn = 1
"""


@workload("sim_label_centroid_classify", oracle=_DUCK_CENTROID_CLASSIFY)
def sim_label_centroid_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3 — nearest-class-centroid classification over labeled embeddings
    (the embedding-eval shape): per-label centroids as element-wise SUMS of
    int8-quantized vectors — posexplode + (label, position) re-aggregation,
    THE distributed way to aggregate vectors element-wise — then each
    vector scores against the 10 broadcast centroids by exact-integer dot
    cosine and takes the argmax. All-integer until the final sqrt/divide,
    so even this 'ML' workload is value-hash deterministic."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "q", quantize_int8("embedding")
    )
    pos = emb.select("label", F.posexplode("q").alias("pos", "val"))
    cents = (
        pos.groupBy("label", "pos")
        .agg(F.sum("val").alias("s"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "s"))),
                lambda x: x["s"],
            ).alias("c")
        )
        .select(F.col("label").alias("cand"), "c")
    )
    scored = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        F.col("label").alias("true_label"),
        "cand",
        (
            int_dot("q", "c")
            / F.nullif(
                F.sqrt(int_dot("q", "q")) * F.sqrt(int_dot("c", "c")),
                F.lit(0.0),
            )
        ).alias("cos_sim"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos_sim").desc(), F.col("cand").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "true_label", F.col("cand").alias("predicted_label"))
    )


# --------------------------------------------------------------------------
# Batched multi-query top-k: Q queries amortize ONE corpus scan.
# --------------------------------------------------------------------------
_BATCH_QUERY_MOD = 40


@workload(
    "sim_batch_topk",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS q_emb
  FROM embeddings WHERE vec_id % {_BATCH_QUERY_MOD} = 0
),
s AS (
  SELECT q.query_id, e.vec_id,
         {duck_cosine('e.embedding', 'q.q_emb')} AS cosine_sim
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id != q.query_id
),
r AS (
  SELECT query_id, vec_id, cosine_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine_sim DESC, vec_id ASC) AS rank
  FROM s WHERE cosine_sim IS NOT NULL
)
SELECT query_id, vec_id, cosine_sim, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= {_K}
""",
)
def sim_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCHED exact top-k: every corpus vector is scored against the whole
    query batch (vec_id % {mod} == 0) in one scan; each Arrow batch emits
    only its local per-query top-k (selection by the bit-exact cumsum
    scores, so two-stage top-k is exact, not approximately recalled), and
    the final merge is a per-query window over O(batches * k) survivors.
    The oracle ranks the full quadratic score matrix."""
    from sample_data_pipeline_project_spark.operators.similarity import (
        batch_topk_cosine,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % _BATCH_QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    return batch_topk_cosine(emb, queries, _K)


_PQ_M = 16
_PQ_K_CODES = 16
_PQ_DIM = 64
_PQ_REFINE = 10 * _K


@workload(
    "sim_pq_adc_topk",
    oracle=f"SELECT CAST({_K} AS BIGINT) AS n_returned, TRUE AS recall_ok",
)
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3 scale path — PRODUCT QUANTIZATION with ADC (operators/pq.py):
    16 subspaces x 16 codes compress each 64-dim float32 vector to 8
    bytes (32x), the query scores the whole corpus with m table lookups
    per vector, and the top-{refine} ADC candidates get an exact-cosine
    re-rank. Codebooks come from iterative Lloyd training
    (summation-order-dependent doubles), so like the other trained-ANN
    workloads the hashed projection certifies instead of listing: exactly
    k rows return and recall@10 vs exact brute force clears the
    per-scale _ANN_FLOORS bound (measured 1.0/0.9/0.9 at
    sf0.001/sf0.01/sf0.1, floors 0.9/0.8/0.8 — one hit of slack absorbs
    testdata regeneration). The budget is CALIBRATED, not
    assumed: the round-8 sf0.1 gate caught the previous 4x16 (2-byte,
    128x) configuration at recall 0 — on this corpus the query's exact
    top-10 sits at cosine 0.31-0.41, noise-level differences a 2-byte
    code cannot rank (quantization error per subspace exceeds the
    neighbor gaps); 4-dim subspaces quantize finely enough to order
    them. Codebooks train on the deterministic 1-in-4 hash-sample — the
    100 TB practice (codebooks are distribution statistics) and what
    keeps the Lloyd jobs corpus-size-independent. Tests assert the
    id-level behavior."""
    from sample_data_pipeline_project_spark.operators.pq import pq_adc_topk

    corpus, q, exact = _exact_topk_ids(spark, sf_dir)
    approx = pq_adc_topk(
        corpus,
        q,
        m=_PQ_M,
        k_codes=_PQ_K_CODES,
        dim=_PQ_DIM,
        top_k=_K,
        refine=_PQ_REFINE,
        train_sample_mod=4,
    )
    return _topk_certification(
        approx, exact, min_recall=_ann_floor("sim_pq_adc_topk", sf_dir)
    )


@workload(
    "sim_ivfpq_topk",
    oracle=f"SELECT CAST({_K} AS BIGINT) AS n_returned, TRUE AS recall_ok",
)
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3 at billion scale — IVF-PQ with RESIDUAL quantization
    (operators/pq.py:ivfpq_topk, the FAISS IVFPQ composite): the coarse
    quantizer prunes WHICH inverted lists are scanned (nprobe=2 of 8),
    PQ compresses WHAT each list stores (16 x 16-code books over the
    residual x - centroid, whose variance is far below the raw vectors',
    so the same code budget quantizes finer), ADC scores the probed
    lists via a broadcast nprobe x m x k lookup table, and the refine
    set gets an exact-cosine re-rank. Trained quantizers mean the hashed
    projection certifies (exactly-k, recall@10 above the per-scale
    _ANN_FLOORS bound: measured 0.6/0.5/0.3 at sf0.001/sf0.01/sf0.1,
    floors 0.5/0.4/0.2 — the cross-scale decay is the fixed-K coarse-
    quantizer shape, not a PQ loss); the no-pruning configuration is
    pinned bit-identical to brute force in tests/test_pq.py."""
    from sample_data_pipeline_project_spark.operators.pq import ivfpq_topk

    corpus, q, exact = _exact_topk_ids(spark, sf_dir)
    approx = ivfpq_topk(
        corpus,
        q,
        k_coarse=8,
        nprobe=2,
        m=_PQ_M,
        k_codes=_PQ_K_CODES,
        dim=_PQ_DIM,
        top_k=_K,
        refine=_PQ_REFINE,
        # 2 Lloyd iterations per quantizer: recall is re-rank-dominated
        # (certified bound unchanged), and the workload carries TWO
        # trained quantizers — iteration count is its bench cost driver
        max_iters=2,
        train_sample_mod=4,
    )
    return _topk_certification(
        approx, exact, min_recall=_ann_floor("sim_ivfpq_topk", sf_dir)
    )


# --------------------------------------------------------------------------
# Embedding dimension covariance / correlation (exact-int Gram moments)
# --------------------------------------------------------------------------
_GRAM_SCALE = 262144  # 2^18 — floor(x * 2^18) is exponent-shift exact

_DIMCOV_ORACLE = f"""
WITH q AS (
  SELECT vec_id, CAST(t.i - 1 AS INTEGER) AS i,
         CAST(FLOOR(CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE)
                    * {_GRAM_SCALE}) AS BIGINT) AS qv
  FROM embeddings, range(1, 65) AS t(i)
),
m AS (
  SELECT i, CAST(SUM(qv) AS BIGINT) AS sx,
         CAST(SUM(qv * qv) AS BIGINT) AS sxx,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM q GROUP BY i
),
p AS (
  SELECT a.i AS i, b.i AS j, CAST(SUM(a.qv * b.qv) AS BIGINT) AS sxy
  FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.i < b.i
  GROUP BY a.i, b.i
)
SELECT p.i, p.j, p.sxy,
       ROUND(
         CAST(CAST(mi.n AS HUGEINT) * p.sxy
              - CAST(mi.sx AS HUGEINT) * mj.sx AS DOUBLE)
         / SQRT(CAST(CAST(mi.n AS HUGEINT) * mi.sxx
                     - CAST(mi.sx AS HUGEINT) * mi.sx AS DOUBLE))
         / SQRT(CAST(CAST(mj.n AS HUGEINT) * mj.sxx
                     - CAST(mj.sx AS HUGEINT) * mj.sx AS DOUBLE)),
         9) AS corr
FROM p
JOIN m mi ON p.i = mi.i
JOIN m mj ON p.j = mj.i
WHERE CAST(mi.n AS HUGEINT) * mi.sxx - CAST(mi.sx AS HUGEINT) * mi.sx > 0
  AND CAST(mj.n AS HUGEINT) * mj.sxx - CAST(mj.sx AS HUGEINT) * mj.sx > 0
"""


@workload("embedding_dim_covariance", oracle=_DIMCOV_ORACLE)
def embedding_dim_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-dimension correlation matrix (operators/gram.py): each
    Arrow batch collapses map-side to a d×d exact-int Gram partial
    (Q.T @ Q over floor(x·2^18) quantized values) + first moments, the
    shuffle carries O(d²) rows per BATCH, and the reduce is an
    associative integer sum — the X^T X shape an embedding-quality
    audit runs at corpus scale, with no per-row shuffle and no float
    drift. Pearson corr per dim pair is derived from the exact moments
    in wide-int arithmetic (DECIMAL(38,0) / HUGEINT); the only float
    math is the textually-identical cast/sqrt/divide chain, ROUND(_,9)
    guarded. Zero-variance dims are filtered identically on both
    sides."""
    from sample_data_pipeline_project_spark.operators.gram import gram_moments

    emb = load_table(spark, sf_dir, "embeddings")
    agg = (
        gram_moments(emb, "embedding")
        .groupBy("i", "j")
        .agg(
            F.sum("sxy").alias("sxy"),
            F.sum("sx").alias("sx"),
            F.sum("cnt").alias("cnt"),
        )
    )
    m = agg.filter(F.col("i") == F.col("j")).select(
        F.col("i").alias("d"),
        F.col("sx").alias("msx"),
        F.col("sxy").alias("msxx"),
        F.col("cnt").alias("mn"),
    )
    p = agg.filter(F.col("i") < F.col("j")).select("i", "j", "sxy")
    wide = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    mi = m.select(
        F.col("d").alias("i"),
        F.col("msx").alias("sx_i"),
        F.col("msxx").alias("sxx_i"),
        F.col("mn").alias("n"),
    )
    mj = m.select(
        F.col("d").alias("j"),
        F.col("msx").alias("sx_j"),
        F.col("msxx").alias("sxx_j"),
    )
    joined = p.join(F.broadcast(mi), "i").join(F.broadcast(mj), "j")
    num = wide("n") * wide("sxy") - wide("sx_i") * wide("sx_j")
    den_i = wide("n") * wide("sxx_i") - wide("sx_i") * wide("sx_i")
    den_j = wide("n") * wide("sxx_j") - wide("sx_j") * wide("sx_j")
    return (
        joined.filter((den_i > 0) & (den_j > 0))
        .select(
            "i",
            "j",
            "sxy",
            F.round(
                num.cast("double")
                / F.sqrt(den_i.cast("double"))
                / F.sqrt(den_j.cast("double")),
                9,
            ).alias("corr"),
        )
    )


# --------------------------------------------------------------------------
# Class-centroid distance matrix over quantized embeddings
# --------------------------------------------------------------------------
_CENT_Q = 262144  # 2^18 quantization grid (the C79 Gram convention)
_CENT_SCALE = 10_000  # scaled-int sum grid for per-dim distance terms

_CENT_ORACLE = f"""
WITH q AS (
  SELECT label, d - 1 AS dim,
         CAST(FLOOR(CAST(embedding[d] AS DOUBLE) * {_CENT_Q}) AS BIGINT)
           AS qv
  FROM embeddings
  CROSS JOIN unnest(range(1, len(embedding) + 1)) AS r(d)
),
s AS (
  SELECT label, dim, SUM(qv) AS sq, COUNT(*) AS n
  FROM q GROUP BY label, dim
),
terms AS (
  SELECT a.label AS label_a, b.label AS label_b,
         CAST(ROUND(
           (CAST(a.sq * b.n - b.sq * a.n AS DOUBLE)
            / CAST(a.n * b.n AS DOUBLE))
           * (CAST(a.sq * b.n - b.sq * a.n AS DOUBLE)
              / CAST(a.n * b.n AS DOUBLE))
           / {_CENT_Q}.0 / {_CENT_Q}.0 * {_CENT_SCALE}.0, 0) AS BIGINT)
           AS term_scaled
  FROM s a JOIN s b ON a.dim = b.dim AND a.label < b.label
)
SELECT CAST(label_a AS BIGINT) AS label_a, CAST(label_b AS BIGINT) AS label_b,
       CAST(SUM(term_scaled) AS DOUBLE) / {_CENT_SCALE}.0 AS dist2
FROM terms GROUP BY label_a, label_b
"""


@workload("embedding_centroid_distances", oracle=_CENT_ORACLE)
def embedding_centroid_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLASS-SEPARATION audit: pairwise squared distances between label
    centroids of the embedding table — the embedding-quality screen
    ("are classes separable at all") run before spending on ANN indexes.
    Embeddings quantize to the C79 2^18 integer grid map-side (explicit
    FLOOR on both engines — never a bare float->int cast), so per-label
    per-dim sums are EXACT ints and the centroid difference
    (sa*nb - sb*na)/(na*nb) is one controlled float division; per-dim
    terms use the scaled-integer sum. Shuffles carry (label x dim) cells
    only — |labels|*dims rows, never raw vectors."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "label", F.posexplode("embedding").alias("dim", "x")
    ).select(
        "label",
        "dim",
        F.floor(F.col("x").cast("double") * _CENT_Q).cast("long").alias("qv"),
    )
    s = q.groupBy("label", "dim").agg(
        F.sum("qv").alias("sq"), F.count(F.lit(1)).alias("n")
    )
    a = s.alias("a")
    b = s.alias("b")
    diff = (
        F.col("a.sq") * F.col("b.n") - F.col("b.sq") * F.col("a.n")
    ).cast("double") / (F.col("a.n") * F.col("b.n")).cast("double")
    term = (
        F.round(
            diff * diff / _CENT_Q / _CENT_Q * _CENT_SCALE,
            0,
        )
        .cast("long")
        .alias("term_scaled")
    )
    terms = a.join(
        b,
        (F.col("a.dim") == F.col("b.dim"))
        & (F.col("a.label") < F.col("b.label")),
    ).select(
        F.col("a.label").alias("label_a"),
        F.col("b.label").alias("label_b"),
        term,
    )
    return (
        terms.groupBy("label_a", "label_b")
        .agg(
            (F.sum("term_scaled").cast("double") / _CENT_SCALE).alias("dist2")
        )
        .select(
            F.col("label_a").cast("long"),
            F.col("label_b").cast("long"),
            "dist2",
        )
    )


# --------------------------------------------------------------------------
# Simplified silhouette of the embedding labeling (centroid-based)
# --------------------------------------------------------------------------
_SIL_Q = 262144  # 2^18 quantization grid (C79/C127 convention)
_SIL_SCALE = 10_000  # per-dim scaled-int grid for distance terms

_SIL_TERM = (
    f"(CAST(qv * n - sq AS DOUBLE) / CAST(n AS DOUBLE))"
    f" * (CAST(qv * n - sq AS DOUBLE) / CAST(n AS DOUBLE))"
    f" / {_SIL_Q}.0 / {_SIL_Q}.0 * {_SIL_SCALE}.0"
)

_SIL_ORACLE = f"""
WITH q AS (
  SELECT vec_id, label, d - 1 AS dim,
         CAST(FLOOR(CAST(embedding[d] AS DOUBLE) * {_SIL_Q}) AS BIGINT) AS qv
  FROM embeddings
  CROSS JOIN unnest(range(1, len(embedding) + 1)) AS r(d)
),
s AS (
  SELECT label AS label_cand, dim, SUM(qv) AS sq, COUNT(*) AS n
  FROM q GROUP BY label, dim
),
dists AS (
  SELECT q.vec_id, q.label, s.label_cand,
         CAST(SUM(CAST(ROUND({_SIL_TERM}, 0) AS BIGINT)) AS BIGINT)
           AS dist2_scaled
  FROM q JOIN s ON q.dim = s.dim
  GROUP BY q.vec_id, q.label, s.label_cand
),
ab AS (
  SELECT vec_id, label,
         CAST(SUM(CASE WHEN label_cand = label THEN dist2_scaled ELSE 0 END)
              AS BIGINT) AS a,
         CAST(MIN(CASE WHEN label_cand != label THEN dist2_scaled END)
              AS BIGINT) AS b
  FROM dists GROUP BY vec_id, label
),
sil AS (
  SELECT vec_id, label,
         CASE WHEN a > b OR b > a OR a > 0
              THEN CAST(ROUND(CAST(b - a AS DOUBLE)
                              / CAST(CASE WHEN a > b THEN a ELSE b END
                                     AS DOUBLE) * 1000000000.0, 0) AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS s_scaled
  FROM ab
)
SELECT CAST(label AS BIGINT) AS label,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(SUM(s_scaled) AS DOUBLE) / 1000000000.0
         / CAST(COUNT(*) AS DOUBLE) AS mean_silhouette
FROM sil GROUP BY label
"""


@workload("embedding_silhouette_labels", oracle=_SIL_ORACLE)
def embedding_silhouette_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIMPLIFIED SILHOUETTE of the embedding labeling: per point,
    a = squared distance to its OWN label centroid, b = min squared
    distance to any OTHER label centroid, s = (b - a)/max(a, b) — the
    centroid-based silhouette (the O(n*k) form that replaces classic
    silhouette's O(n^2) pairwise pass), reported as per-label means.
    Labels whose points sit closer to a foreign centroid go negative —
    the embedding-quality audit that flags mislabeled or collapsed
    classes before training on them. Determinism: coordinates quantize
    to the 2^18 grid (C127 convention), per-dim distance terms are
    scaled-int ROUNDs summed exactly, a/b compare as exact integers, and
    each point's silhouette is one guarded float division re-scaled to
    an exact BIGINT before the per-label mean. Scale shape: centroid
    stats are |labels| x dims cells (broadcast); the per-point fan-out is
    a constant |labels| x dims; no window anywhere."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("dim", "x"),
    ).select(
        "vec_id",
        "label",
        "dim",
        F.floor(F.col("x").cast("double") * _SIL_Q).cast("long").alias("qv"),
    )
    s = q.groupBy(F.col("label").alias("label_cand"), "dim").agg(
        F.sum("qv").alias("sq"), F.count(F.lit(1)).alias("n")
    )
    term = (
        (F.col("qv") * F.col("n") - F.col("sq")).cast("double")
        / F.col("n").cast("double")
    ) * (
        (F.col("qv") * F.col("n") - F.col("sq")).cast("double")
        / F.col("n").cast("double")
    ) / float(_SIL_Q) / float(_SIL_Q) * float(_SIL_SCALE)
    dists = (
        q.join(F.broadcast(s), "dim")
        .groupBy("vec_id", "label", "label_cand")
        .agg(
            F.sum(F.round(term, 0).cast("long")).cast("long").alias("dist2_scaled")
        )
    )
    ab = dists.groupBy("vec_id", "label").agg(
        F.sum(
            F.when(F.col("label_cand") == F.col("label"), F.col("dist2_scaled"))
            .otherwise(0)
        )
        .cast("long")
        .alias("a"),
        F.min(
            F.when(F.col("label_cand") != F.col("label"), F.col("dist2_scaled"))
        )
        .cast("long")
        .alias("b"),
    )
    s_scaled = F.when(
        (F.col("a") > F.col("b")) | (F.col("b") > F.col("a")) | (F.col("a") > 0),
        F.round(
            (F.col("b") - F.col("a")).cast("double")
            / F.greatest(F.col("a"), F.col("b")).cast("double")
            * 1000000000.0,
            0,
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    sil = ab.select("label", s_scaled.alias("s_scaled"))
    return sil.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        (
            F.sum("s_scaled").cast("double")
            / 1000000000.0
            / F.count(F.lit(1)).cast("double")
        ).alias("mean_silhouette"),
    ).select(F.col("label").cast("long"), "n_points", "mean_silhouette")


# --------------------------------------------------------------------------
# C213 — Matryoshka two-stage retrieval (prefix-dim coarse scan, full rerank)
# --------------------------------------------------------------------------
_MRL_M = 16       # coarse prefix dimensions
_MRL_CAND = 50    # stage-1 candidate pool
_MRL_K = 10       # final top-k
_MRL_Q = 0        # query vector id


def _mrl_oracle() -> str:
    from sample_data_pipeline_project_spark.functions.vectors import duck_cosine

    coarse = duck_cosine(f"e.embedding[1:{_MRL_M}]", f"q.q_emb[1:{_MRL_M}]")
    full = duck_cosine("c.embedding", "q.q_emb")
    return f"""
WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = {_MRL_Q}),
c AS (
  SELECT e.vec_id, e.embedding, {coarse} AS coarse_sim
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id != {_MRL_Q}
  ORDER BY coarse_sim DESC, e.vec_id ASC
  LIMIT {_MRL_CAND}
)
SELECT c.vec_id, c.coarse_sim, {full} AS cosine_sim
FROM c CROSS JOIN q
ORDER BY cosine_sim DESC, c.vec_id ASC
LIMIT {_MRL_K}
"""


@workload("sim_matryoshka_two_stage", oracle=_mrl_oracle())
def sim_matryoshka_two_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATRYOSHKA two-stage retrieval: stage 1 scores only the FIRST
    {m} dimensions of every vector (the cheap prefix scan MRL-trained
    embeddings are built for — 1/{frac} of the multiply-adds of a full
    scan), keeps a {cand}-candidate pool, and stage 2 re-ranks just the
    pool with the exact full-dimension cosine. At corpus scale the full
    vectors for stage 2 are fetched for CANDIDATES ONLY, so the wide
    column never fully scans. Both stages are the bit-portable left-fold
    dot; stage-1 and stage-2 scores both surface so recall analysis can
    compare orderings. TakeOrdered bounds both stages; ties break on
    vec_id."""
    from sample_data_pipeline_project_spark.functions.vectors import cosine

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == _MRL_Q).select(
        F.col("embedding").alias("q_emb")
    )
    joined = emb.filter(F.col("vec_id") != _MRL_Q).crossJoin(F.broadcast(q))
    coarse = cosine(
        f"slice(embedding, 1, {_MRL_M})", f"slice(q_emb, 1, {_MRL_M})"
    )
    pool = (
        joined.select(
            "vec_id", "embedding", "q_emb", coarse.alias("coarse_sim")
        )
        .orderBy(F.desc("coarse_sim"), F.asc("vec_id"))
        .limit(_MRL_CAND)
    )
    return (
        pool.select(
            "vec_id", "coarse_sim", cosine("embedding", "q_emb").alias("cosine_sim")
        )
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(_MRL_K)
    )


sim_matryoshka_two_stage.__doc__ = sim_matryoshka_two_stage.__doc__.format(
    m=_MRL_M, frac=4, cand=_MRL_CAND
)


_DIM = 64
_HAM_K = 10
_HAM_SHORTLIST = 50
_HAM_QUERY_IDS = [0, 1, 2, 3]


def _hamming_oracle() -> str:
    packed_cols = ",\n       ".join(duck_sign_pack(_DIM, "embedding"))
    n_words = -(-_DIM // 32)
    qsel = ", ".join(f"w{w} AS qw{w}" for w in range(n_words))
    ham = " + ".join(f"bit_count(xor(p.w{w}, q.qw{w}))" for w in range(n_words))
    ids = ", ".join(str(i) for i in _HAM_QUERY_IDS)
    return f"""
WITH packed AS (
  SELECT vec_id,
       {packed_cols}
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, {qsel} FROM packed WHERE vec_id IN ({ids})),
scored AS (
  SELECT q.query_id, p.vec_id,
         CAST({ham} AS INTEGER) AS hamming_dist
  FROM packed p CROSS JOIN q
  WHERE p.vec_id != q.query_id
),
short AS (
  SELECT *, ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY hamming_dist ASC, vec_id ASC
         ) AS srn
  FROM scored
),
rer AS (
  SELECT s.query_id, s.vec_id, s.hamming_dist,
         {duck_cosine('e.embedding', 'qe.embedding')} AS cosine_sim
  FROM short s
  JOIN embeddings e ON e.vec_id = s.vec_id
  JOIN embeddings qe ON qe.vec_id = s.query_id
  WHERE s.srn <= {_HAM_SHORTLIST}
)
SELECT query_id, vec_id, hamming_dist, cosine_sim,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id ASC
       ) AS INTEGER) AS rank
FROM rer
QUALIFY rank <= {_HAM_K}
"""


@workload("sim_hamming_rerank_topk", oracle=_hamming_oracle())
def sim_hamming_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3 scale path (C228) — binary sign quantization + Hamming
    shortlist + exact cosine rerank (operators/similarity.py
    hamming_rerank_topk). Stage 1 scans only the packed int64 words
    (1 bit/dim); stage 2 touches float vectors for |queries| x shortlist
    rows only. Training-free, hence fully value-hashed."""
    emb = load_table(spark, sf_dir, "embeddings")
    return hamming_rerank_topk(
        emb, _DIM, _HAM_K, _HAM_SHORTLIST, _HAM_QUERY_IDS
    )


# ---------------------------------------------------------------------------
# C233 — late-interaction (multi-vector MaxSim) retrieval
# ---------------------------------------------------------------------------

_LI_GROUP = 10  # vectors per pseudo-document
_LI_TOPK = 5

_LI_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS qid, embedding AS q_emb
  FROM embeddings WHERE vec_id < {_LI_GROUP}
),
c AS (
  SELECT vec_id // {_LI_GROUP} AS li_doc, embedding
  FROM embeddings WHERE vec_id >= {_LI_GROUP}
),
perq AS (
  SELECT li_doc, qid,
         MAX({duck_cosine('c.embedding', 'q.q_emb')}) AS mx
  FROM c CROSS JOIN q
  GROUP BY li_doc, qid
),
perdoc AS (
  SELECT li_doc,
         list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE), list(mx ORDER BY qid)),
           (acc, v) -> acc + v
         ) AS maxsim_score
  FROM perq GROUP BY li_doc
)
SELECT li_doc, maxsim_score FROM perdoc
ORDER BY maxsim_score DESC, li_doc ASC
LIMIT {_LI_TOPK}
"""


@workload("sim_late_interaction_maxsim", oracle=_LI_ORACLE)
def sim_late_interaction_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C233 — ColBERT-style late-interaction scoring: documents are
    multi-VECTOR (here: consecutive groups of {_LI_GROUP} embedding rows
    = one pseudo-doc; real corpora store one row per token vector), the
    query is doc 0's vector set, and score(q, d) = sum over query
    vectors of the MAX cosine against d's vectors. Top-{_LI_TOPK} docs.

    Spark-first shape: the query's vector set is a BROADCAST (tens of
    rows at any corpus size), candidates stream through one
    narrow-shuffle groupBy pyramid (max per (doc, qvec), then a
    SORTED-FOLD sum per doc — sort_array(collect_list) + aggregate, the
    repo's deterministic-sum idiom, so the double is bit-identical to
    the oracle's ORDER BY qid list_reduce). MAX is order-free. At
    100 TB the same plan runs behind an IVF/coarse preselect exactly
    like C226 — the per-candidate work here is already the late-
    interaction re-rank stage."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _LI_GROUP).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("q_emb")
    )
    c = emb.filter(F.col("vec_id") >= _LI_GROUP).select(
        F.expr(f"vec_id DIV {_LI_GROUP}").alias("li_doc"), "embedding"
    )
    perq = (
        c.crossJoin(F.broadcast(q))
        .select(
            "li_doc",
            "qid",
            cosine_col("embedding", "q_emb").alias("sim"),
        )
        .groupBy("li_doc", "qid")
        .agg(F.max("sim").alias("mx"))
    )
    perdoc = perq.groupBy("li_doc").agg(
        F.expr(
            "aggregate(transform(sort_array(collect_list(struct(qid, mx))),"
            " x -> x.mx), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        ).alias("maxsim_score")
    )
    return (
        perdoc.orderBy(F.desc("maxsim_score"), F.asc("li_doc"))
        .limit(_LI_TOPK)
        .select(F.col("li_doc").cast("long").alias("li_doc"), "maxsim_score")
    )


# ---------------------------------------------------------------------------
# C236 — IVF-preselected semantic dedup (SemDeDup scale path), certified
# ---------------------------------------------------------------------------

_SEMIVF_THRESHOLD = 0.4  # same pair definition as sim_semantic_dedup
_SEMIVF_NPROBE = 4

# Pair recall of the IVF path vs the exact pair set, measured round 11
# at nprobe=4: 0.924 / 0.864 / 0.729 at sf0.001 / sf0.01 / sf0.1 (the
# fixed-K decay shape: threshold-0.4 pairs sit at noise-level cosine,
# so cell boundaries cut more of them as N grows). Floors pinned with
# one regeneration's slack; like _ANN_FLOORS, the per-scale pins apply
# ONLY under the canonical gate root — any other corpus gets 'default'.
_SEMIVF_FLOORS = {
    "sf0.001": 0.8,
    "sf0.01": 0.75,
    "sf0.1": 0.6,
    "default": 0.3,
}


def _semivf_floor(sf_dir: str) -> float:
    root = os.path.realpath(sf_dir.rstrip("/"))
    if os.path.dirname(root) == "/root/testdata":
        return _SEMIVF_FLOORS.get(
            os.path.basename(root), _SEMIVF_FLOORS["default"]
        )
    return _SEMIVF_FLOORS["default"]


@workload(
    "sim_semantic_dedup_ivf",
    oracle="""
SELECT TRUE AS exact_subset, TRUE AS recall_ok, TRUE AS nonempty,
       TRUE AS clusters_valid
""",
)
def sim_semantic_dedup_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C236 — SemDeDup at scale: cosine near-dup pairs from the
    IVF-preselected operator (candidates only among co-probed cell
    members, ~N^1.5 d compute vs the exact N^2 d) collapsed into
    duplicate clusters by min-label connected components, exactly like
    `sim_semantic_dedup` — plus the certification that makes the
    approximation honest, all checked INSIDE the gate every round:

      exact_subset   — every emitted pair also appears in the exact
                       blocked-matmul pair set with a bit-identical
                       score (exceptAll on (a, b, cosine_sim) empty):
                       IVF preselection prunes, never invents or
                       rescores;
      recall_ok      — pair recall >= the measured per-scale floor
                       (_SEMIVF_FLOORS; a silent recall collapse fails
                       the gate hash);
      nonempty       — the exact pair set is not trivially empty;
      clusters_valid — every component representative IS the min
                       member id (the SemDeDup keep rule holds over
                       the approximate graph too).

    Build-time jobs (quantizer training, cell census, components
    iterations) are the operators' documented bounded collects; the
    1-row certification aggregates combine via broadcast crossJoins
    (BNLJ-allowlisted, same shape as C232)."""
    from sample_data_pipeline_project_spark.operators.components import (
        connected_components,
    )
    from sample_data_pipeline_project_spark.operators.similarity import (
        neardup_cosine_pairs_blocked,
        neardup_cosine_pairs_ivf,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    approx = neardup_cosine_pairs_ivf(
        emb, _SEMIVF_THRESHOLD, nprobe=_SEMIVF_NPROBE
    )
    exact = neardup_cosine_pairs_blocked(emb, _SEMIVF_THRESHOLD).select(
        "a", "b", "cosine_sim"
    )
    fp = approx.select("a", "b", "cosine_sim").exceptAll(exact)
    subset_ok = fp.agg((F.count(F.lit(1)) == 0).alias("exact_subset"))
    recalled = exact.select("a", "b").join(approx.select("a", "b"), ["a", "b"])
    counts = recalled.agg(F.count(F.lit(1)).alias("n_rec")).crossJoin(
        exact.agg(F.count(F.lit(1)).alias("n_exact"))
    )
    comp = connected_components(
        approx.select("a", "b"), emb.select("vec_id"), id_col="vec_id"
    )
    clusters = comp.groupBy("component_id").agg(F.min("vec_id").alias("mn"))
    cv = clusters.agg(
        (F.count(F.lit(1)) == F.sum(
            F.when(F.col("mn") == F.col("component_id"), 1).otherwise(0)
        )).alias("clusters_valid")
    )
    floor = _semivf_floor(sf_dir)
    return (
        subset_ok.crossJoin(counts)
        .crossJoin(cv)
        .select(
            "exact_subset",
            (
                F.col("n_rec").cast("double")
                >= F.lit(floor) * F.col("n_exact").cast("double")
            ).alias("recall_ok"),
            (F.col("n_exact") > 0).alias("nonempty"),
            "clusters_valid",
        )
    )


# ---------------------------------------------------------------------------
# C238 — MMR diversified top-k retrieval (maximal marginal relevance)
# ---------------------------------------------------------------------------
# Weights ride as decimal STRINGS parsed once per engine: in IEEE doubles
# 1.0 - 0.7 != 0.3, so the diversity weight is its own literal, never
# derived from lam (see operators/similarity.py mmr_select).
_MMR_QUERY_ID = 0
_MMR_POOL = 24
_MMR_K = 5
_MMR_LAM = "0.7"
_MMR_DIV = "0.3"


def _mmr_oracle() -> str:
    """Unrolled greedy MMR (the C234 chained-CTE idiom): selection i
    maximizes lam*rel - div*max(cosine to s1..s{i-1}), ties -> lowest
    vec_id. Every cosine is the shared left-fold fragment, so scores are
    bit-identical to the Spark side and no rounding is needed."""
    from sample_data_pipeline_project_spark.functions.vectors import (
        duck_cosine,
    )

    lam = f"CAST('{_MMR_LAM}' AS DOUBLE)"
    div = f"CAST('{_MMR_DIV}' AS DOUBLE)"
    qcos = duck_cosine("e.embedding", "q.q_emb")
    lines = [
        "WITH q AS (SELECT embedding AS q_emb FROM embeddings"
        f" WHERE vec_id = {_MMR_QUERY_ID}),",
        "pool AS (SELECT * FROM ("
        f"SELECT e.vec_id, e.embedding, {qcos} AS rel "
        f"FROM embeddings e CROSS JOIN q WHERE e.vec_id != {_MMR_QUERY_ID}"
        ") WHERE rel IS NOT NULL "
        f"ORDER BY rel DESC, vec_id ASC LIMIT {_MMR_POOL}),",
        "s1 AS (SELECT vec_id, embedding, rel FROM pool"
        " ORDER BY rel DESC, vec_id ASC LIMIT 1)",
    ]
    for i in range(2, _MMR_K + 1):
        prev = ", ".join(f"s{j}" for j in range(1, i))
        neq = " AND ".join(f"p.vec_id != s{j}.vec_id" for j in range(1, i))
        sims = [
            duck_cosine("p.embedding", f"s{j}.embedding")
            for j in range(1, i)
        ]
        maxsim = sims[0] if len(sims) == 1 else (
            "GREATEST(" + ", ".join(sims) + ")"
        )
        lines.append(
            f", s{i} AS (SELECT p.vec_id, p.embedding, p.rel "
            f"FROM pool p, {prev} WHERE {neq} "
            f"ORDER BY {lam} * p.rel - {div} * {maxsim} DESC, "
            f"p.vec_id ASC LIMIT 1)"
        )
    sel = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS sel_order, vec_id, rel AS relevance"
        f" FROM s{i}"
        for i in range(1, _MMR_K + 1)
    )
    return "\n".join(lines) + "\n" + sel


@workload("sim_mmr_diverse_topk", oracle=_mmr_oracle())
def sim_mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C238 — diversified retrieval via Maximal Marginal Relevance: the
    top-{pool} relevance candidates for a fixed query vector, re-ranked
    by greedy MMR (lam * relevance - div * max cosine to the already
    selected set, ties to lowest vec_id) into a k-item diverse context —
    the standard don't-retrieve-five-copies primitive between ANN search
    and a RAG prompt (Carbonell & Goldstein 1998).

    Spark-first: the relevance stage is the B3 brute-force scan
    (broadcast 1-row query, TakeOrderedAndProject top-{pool}), CACHED —
    lazily, so construction launches no jobs — because the k-1 chained
    selection rounds each re-reference the pool and an uncached 24-row
    pool subtree would re-scan the corpus O(2^k) times; the selection
    chain itself is the C234 idiom (1-row broadcast crossJoins +
    1-row TakeOrderedAndProject per round, BNLJ-allowlisted). At 100 TB
    the pool stage is whichever distributed top-M the B3 family already
    provides (brute/IVF/PQ); MMR re-ranks M rows, corpus-size-free."""
    from sample_data_pipeline_project_spark.functions.vectors import cosine
    from sample_data_pipeline_project_spark.operators.similarity import (
        mmr_select,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == _MMR_QUERY_ID).select(
        F.col("embedding").alias("q_emb")
    )
    pool = materialize(
        emb.filter(F.col("vec_id") != _MMR_QUERY_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "embedding",
            cosine("embedding", "q_emb").alias("rel"),
        )
        .filter(F.col("rel").isNotNull())
        .orderBy(F.col("rel").desc(), F.col("vec_id").asc())
        .limit(_MMR_POOL),
        "cache",
    )
    return mmr_select(
        pool,
        _MMR_K,
        lam=float(_MMR_LAM),
        div_weight=float(_MMR_DIV),
    )
