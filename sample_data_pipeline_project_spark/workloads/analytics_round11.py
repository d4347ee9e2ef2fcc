"""Round-11 workloads (C236+).

C236 closes the semantic-dedup 100 TB gap the round-10 verdict marked
*watch*: the exact SemDeDup pair stage (`neardup_cosine_pairs_blocked`)
is Theta(N^2 d) compute — measured 12.2 s -> 80.1 s across the
20k -> 200k vector decade, i.e. arithmetically dead at the 2M-vector
decade — so `sim_semantic_dedup_ivf` re-expresses the pipeline over
IVF-preselected candidates (`operators/similarity.py
neardup_cosine_pairs_ivf`, sharing the round-10 straggler protections
via `_ivf_stage`) and CERTIFIES, inside the driver's oracle gate:
exactness of every emitted pair (subset of the exact set,
bit-identical scores), per-scale pair recall against measured floors,
and the component-representative invariant.

Reference scope note: the reference client (snowflake_query_client.py,
snowflake_tasks.py) has no ANN surface; this extends the B2/B3 mandate
along the round-8/10 axes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sample_data_pipeline_project_spark.operators.materialize import materialize
from sample_data_pipeline_project_spark.sources.catalog import load_table
from sample_data_pipeline_project_spark.workloads import workload

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
# C237 — quality-aware cluster collapse over LSH-banded candidates
# (the dedup-graph scale path), certified
# ---------------------------------------------------------------------------

_CC_THRESHOLD = 0.8  # same pair definition as dedup_cluster_collapse
_CC_NGRAM = 2

# Pair recall of the banded path vs the exact prefix-filter pair set,
# measured round 11 (num_hashes=12, bands=4 over bigram shingles):
# 1.000 / 1.000 / 0.996 at sf0.001 / sf0.01 / sf0.1 — at threshold 0.8
# a band of r=3 collides with P >= 0.8^3 = 0.51, and 4 bands miss a
# true pair with P <= 0.49^4 ~ 6%. Floors pinned with regeneration
# slack; gate-root-only like _SEMIVF_FLOORS.
_CC_FLOORS = {"sf0.001": 0.9, "sf0.01": 0.9, "sf0.1": 0.9, "default": 0.5}


def _cc_floor(sf_dir: str) -> float:
    root = os.path.realpath(sf_dir.rstrip("/"))
    if os.path.dirname(root) == "/root/testdata":
        return _CC_FLOORS.get(os.path.basename(root), _CC_FLOORS["default"])
    return _CC_FLOORS["default"]


def _lsh_verified_jaccard_pairs(d: DataFrame) -> DataFrame:
    """Bigram-Jaccard pairs >= threshold via MinHash-LSH banding + EXACT
    verification: banded candidates (linear shuffle, pair space bounded
    by band collisions — measured 3.7x/decade at sf100 in SCALING.md)
    joined back to the token sets for the true intersection, filtered at
    the exact threshold. Emitted pairs carry the identical jaccard the
    prefix-filter operator computes — a certified SUBSET."""
    from sample_data_pipeline_project_spark.operators.dedup import (
        minhash_lsh_candidates,
        token_sets,
    )

    cands = minhash_lsh_candidates(
        d, num_hashes=12, bands=4, ngram_n=_CC_NGRAM
    )
    toks = token_sets(d, ngram_n=_CC_NGRAM)
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tok"))
    ta = toks.select(F.col("doc_id").alias("a"), "tok")
    tb = toks.select(F.col("doc_id").alias("b"), "tok")
    shared = (
        cands.join(ta, "a")
        .join(tb, ["b", "tok"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        shared.join(
            sizes.select(F.col("doc_id").alias("a"), F.col("n_tok").alias("n_a")),
            "a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("b"), F.col("n_tok").alias("n_b")),
            "b",
        )
        .withColumn(
            "jaccard",
            F.col("shared").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("shared")),
        )
        .filter(F.col("jaccard") >= _CC_THRESHOLD)
        .select("a", "b", "jaccard")
    )


@workload(
    "dedup_cluster_collapse_lsh",
    oracle="""
SELECT TRUE AS exact_subset, TRUE AS recall_ok, TRUE AS nonempty,
       TRUE AS election_valid
""",
)
def dedup_cluster_collapse_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C237 — the SCALE PATH for `dedup_cluster_collapse` (and the whole
    bigram-Jaccard dedup-graph family): round-11 probes found the exact
    prefix-filter pair stage SUPERLINEAR at decade 3 (sf10 documents
    120 s -> sf100 did not finish inside 46 min, slope > 23x for 10x
    data), while the banded-LSH family holds a measured 3.7x/decade at
    sf100 — so the collapse pipeline re-rides MinHash-LSH banded
    candidates with EXACT Jaccard verification and certifies, inside
    the gate every round:

      exact_subset   — every verified pair also appears in the exact
                       prefix-filter pair set with an identical jaccard
                       (banding prunes, the verify join recomputes the
                       true statistic);
      recall_ok      — pair recall >= the measured per-scale floor
                       (_CC_FLOORS; measured 1.0 / 1.0 / 0.996);
      nonempty       — the exact pair set is not trivially empty;
      election_valid — in the collapsed output, every cluster's
                       canonical member has the cluster-max quality
                       score with ties to the lowest doc_id (the same
                       keep-the-best rule as the exact pipeline).

    Quality scoring and election are the exact workload's own code
    (imported), so the cert exercises the production election over the
    banded graph, not a reimplementation."""
    from sample_data_pipeline_project_spark.operators.components import (
        connected_components,
    )
    from sample_data_pipeline_project_spark.operators.dedup import (
        jaccard_pairs_prefix,
    )
    from sample_data_pipeline_project_spark.workloads.dedup_queries import (
        _quality_scored,
    )

    d = load_table(spark, sf_dir, "documents")
    approx = materialize(_lsh_verified_jaccard_pairs(d), "cache")
    exact = jaccard_pairs_prefix(d, _CC_THRESHOLD, ngram_n=_CC_NGRAM).select(
        "a", "b", "jaccard"
    )
    fp = approx.exceptAll(exact)
    subset_ok = fp.agg((F.count(F.lit(1)) == 0).alias("exact_subset"))
    recalled = exact.select("a", "b").join(approx.select("a", "b"), ["a", "b"])
    counts = recalled.agg(F.count(F.lit(1)).alias("n_rec")).crossJoin(
        exact.agg(F.count(F.lit(1)).alias("n_exact"))
    )
    comp = connected_components(
        approx.select("a", "b"), d.select("doc_id"), id_col="doc_id"
    )
    scored = _quality_scored(d)
    joined = comp.join(scored, "doc_id")
    # max_by hash-aggregate election, not a rank window (round 12, guide
    # §2.4): same rewrite + tie-break argument as dedup_cluster_collapse
    # — struct(quality_score, -doc_id) is unique per component, so its
    # argmax is exactly the old (quality DESC, doc_id ASC) head.
    canon = joined.groupBy("component_id").agg(
        F.max_by(
            F.struct(
                F.col("quality_score").alias("c_q"),
                F.col("doc_id").alias("c_id"),
            ),
            F.struct("quality_score", (-F.col("doc_id")).alias("__neg")),
        ).alias("__c")
    ).select("component_id", "__c.c_q", "__c.c_id")
    stats = joined.groupBy("component_id").agg(
        F.max("quality_score").alias("mx_q")
    )
    best_ids = (
        joined.join(stats, "component_id")
        .filter(F.col("quality_score") == F.col("mx_q"))
        .groupBy("component_id")
        .agg(F.min("doc_id").alias("best_id"))
    )
    ev = (
        canon.join(stats, "component_id")
        .join(best_ids, "component_id")
        .agg(
            (
                F.count(F.lit(1))
                == F.sum(
                    F.when(
                        (F.col("c_q") == F.col("mx_q"))
                        & (F.col("c_id") == F.col("best_id")),
                        1,
                    ).otherwise(0)
                )
            ).alias("election_valid")
        )
    )
    floor = _cc_floor(sf_dir)
    return (
        subset_ok.crossJoin(counts)
        .crossJoin(ev)
        .select(
            "exact_subset",
            (
                F.col("n_rec").cast("double")
                >= F.lit(floor) * F.col("n_exact").cast("double")
            ).alias("recall_ok"),
            (F.col("n_exact") > 0).alias("nonempty"),
            "election_valid",
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


# ---------------------------------------------------------------------------
# C239 — DSIR-style importance resampling (hashed-ngram LM log-ratio)
# ---------------------------------------------------------------------------
_DSIR_TARGET = "src7"
_DSIR_B = 256
_DSIR_TOP = 50


def _dsir_bucket_expr() -> str:
    from sample_data_pipeline_project_spark.functions.text import (
        md5_prefix_uint32_sql,
    )

    return md5_prefix_uint32_sql("'dsir|' || tok") + f" % {_DSIR_B}"


def _dsir_lnratio_expr() -> str:
    """ln of an exact integer rational: both counts and totals are exact
    BIGINTs cast to DOUBLE before one multiply/divide each side — the only
    libm call is the single ln, absorbed by the final ROUND(.., 9)."""
    return (
        f"ln((CAST(COALESCE(cnt_t, 0) + 1 AS DOUBLE)"
        f" * CAST(n_r + {_DSIR_B} AS DOUBLE))"
        f" / (CAST(cnt_r + 1 AS DOUBLE)"
        f" * CAST(n_t + {_DSIR_B} AS DOUBLE)))"
    )


def _dsir_oracle() -> str:
    from sample_data_pipeline_project_spark.workloads.text_queries import (
        _DUCK_TOKENS,
    )

    bucket = _dsir_bucket_expr()
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({_DUCK_TOKENS}) AS tok FROM documents
),
tf AS (
  SELECT doc_id, {bucket} AS bucket, COUNT(*) AS tf
  FROM toks WHERE tok != '' GROUP BY doc_id, {bucket}
),
raw AS (SELECT bucket, CAST(SUM(tf) AS BIGINT) AS cnt_r FROM tf GROUP BY bucket),
tgt AS (
  SELECT t.bucket, CAST(SUM(t.tf) AS BIGINT) AS cnt_t
  FROM tf t JOIN documents d ON t.doc_id = d.doc_id
  WHERE d.source = '{_DSIR_TARGET}'
  GROUP BY t.bucket
),
tot AS (
  SELECT CAST(SUM(t.tf) AS BIGINT) AS n_r,
         CAST(SUM(CASE WHEN d.source = '{_DSIR_TARGET}' THEN t.tf ELSE 0 END)
              AS BIGINT) AS n_t
  FROM tf t JOIN documents d ON t.doc_id = d.doc_id
),
lr AS (
  SELECT r.bucket, {_dsir_lnratio_expr()} AS lnratio
  FROM raw r LEFT JOIN tgt g ON r.bucket = g.bucket CROSS JOIN tot
)
SELECT t.doc_id, d.source AS source,
       ROUND(SUM(t.tf * lr.lnratio), 9) AS llr_score
FROM tf t JOIN lr ON t.bucket = lr.bucket
JOIN documents d ON t.doc_id = d.doc_id
GROUP BY t.doc_id, d.source
ORDER BY llr_score DESC, t.doc_id ASC
LIMIT {_DSIR_TOP}
"""


@workload("text_dsir_importance_sample", oracle=_dsir_oracle())
def text_dsir_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C239 — data selection by importance resampling (DSIR, Xie et al.
    2023): score every document by the log-likelihood ratio of a hashed
    unigram LM fit on a TARGET domain (source = {target}) vs one fit on
    the raw corpus, add-one smoothed over {b} md5 buckets, and keep the
    top-{n} — the published recipe for "select pretraining data that
    looks like my high-quality domain" without a trained classifier.

    Spark-first / 100 TB shape: the token explode is map-side; the only
    corpus-sized shuffles are keyed (doc_id, bucket) then doc_id; both
    LMs are <= {b}-row aggregates joined back by BROADCAST (the bucket
    domain is fixed, never vocabulary-sized — the hashing trick is what
    makes DSIR shuffle-free at any vocabulary); the corpus-total frame
    is a 1-row broadcast crossJoin (BNLJ-allowlisted); the final top-{n}
    is TakeOrderedAndProject. Determinism: bucket counts are exact
    integers, each bucket's log-ratio is ONE ln of an exact rational,
    and per-doc scores round to 9 dp on both engines (the
    text_bm25_search libm rule)."""
    from sample_data_pipeline_project_spark.functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    src = d.select("doc_id", "source")
    tf = (
        d.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .filter(F.col("tok") != "")
        .select("doc_id", F.expr(_dsir_bucket_expr()).alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    tf_src = tf.join(src, "doc_id")
    raw = tf.groupBy("bucket").agg(F.sum("tf").alias("cnt_r"))
    tgt = (
        tf_src.filter(F.col("source") == _DSIR_TARGET)
        .groupBy("bucket")
        .agg(F.sum("tf").alias("cnt_t"))
    )
    tot = tf_src.agg(
        F.sum("tf").alias("n_r"),
        F.sum(
            F.when(F.col("source") == _DSIR_TARGET, F.col("tf")).otherwise(0)
        ).alias("n_t"),
    )
    lr = (
        raw.join(tgt, "bucket", "left")
        .crossJoin(F.broadcast(tot))
        .select("bucket", F.expr(_dsir_lnratio_expr()).alias("lnratio"))
    )
    scored = (
        tf.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(F.col("tf") * F.col("lnratio")), 9).alias(
                "llr_score"
            )
        )
    )
    return (
        scored.join(src, "doc_id")
        .select("doc_id", "source", "llr_score")
        .orderBy(F.col("llr_score").desc(), F.col("doc_id").asc())
        .limit(_DSIR_TOP)
    )
