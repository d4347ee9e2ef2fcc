"""Round-8 workloads.

C224 closes the one `weak` row from the round-7 verdict:
`er_blocking_quality` (C198) certifies a blocking key with EXACT
all-pairs Jaccard ground truth — correct, but intrinsically
Theta(density * N^2); at sf10 its truth stage alone was measured at a
15.4x slope for 10x data. C224 registers the configuration a 100 TB
linkage job would actually run: the SAME blocking metrics with the
truth stage computed on a deterministic md5 DOC sample sized to a fixed
budget, so certification cost is bounded by the budget (~S^2 pairwise
work) no matter how large the corpus grows. The exact configuration
stays registered for sf<=1 audits.

C225 structurally certifies the engine's AQE initial-partition guard
(engine.py: coalescePartitions.initialPartitionNum = 8 x cores, 256 at
32) — the round-7 OOM fix — so a future conf regression fails a gate
instead of resurfacing as a decade-scale OOM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sample_data_pipeline_project_spark.functions.text import (
    md5_prefix_uint32_sql,
)
from sample_data_pipeline_project_spark.operators.materialize import materialize
from sample_data_pipeline_project_spark.sources.catalog import load_table
from sample_data_pipeline_project_spark.workloads import workload

# --------------------------------------------------------------------------
# C224 — ER blocking quality, sampled-truth configuration
# --------------------------------------------------------------------------
_BLK_THRESHOLD = 0.9
_BLK_WIDTH = 32  # same blocking key as the exact configuration (C198)
# Fixed doc budget for the ground-truth stage: the sample modulus is
# ceil(n_docs / budget), so ~budget docs survive at ANY corpus size and
# the exact-Jaccard truth join touches ~budget^2 candidate pairs — a
# CONSTANT certification cost. This is the scale knob the estimator
# audit (C145) already uses at the pair level, applied one level
# earlier (doc level) so candidate GENERATION is bounded too, not just
# verification.
_BLK_SAMPLE_BUDGET = 256

_DUCK_TOKS = "list_distinct(string_split_regex(lower(trim(text)), '\\s+'))"
_SAMP_U32 = md5_prefix_uint32_sql("CAST(doc_id AS STRING)")

_BLK_S_EXPRS = {
    "reduction_ratio": (
        "1.0 - CAST(candidate_pairs AS DOUBLE) / CAST(total_pairs AS DOUBLE)"
    ),
    "pair_recall": (
        "CASE WHEN n_truth = 0 THEN NULL "
        "ELSE CAST(n_captured AS DOUBLE) / CAST(n_truth AS DOUBLE) END"
    ),
}

_BLK_S_ORACLE = f"""
WITH nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
par AS (
  SELECT n_docs,
         CAST((n_docs + {_BLK_SAMPLE_BUDGET - 1}) // {_BLK_SAMPLE_BUDGET}
              AS BIGINT) AS smod
  FROM nn
),
blocks AS (
  SELECT doc_id, lang || '|' || CAST(n_chars // {_BLK_WIDTH} AS STRING) AS blk
  FROM documents
),
cand AS (
  SELECT CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS candidate_pairs
  FROM (SELECT blk, CAST(COUNT(*) AS BIGINT) AS c FROM blocks GROUP BY blk)
),
samp AS (
  SELECT d.doc_id, d.text
  FROM documents d, par
  WHERE ({_SAMP_U32}) % par.smod = 0
),
ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs_sampled FROM samp),
toks AS (
  SELECT doc_id, unnest({_DUCK_TOKS}) AS tok FROM samp
),
sizes AS (SELECT doc_id, COUNT(*) AS n_tok FROM toks GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS shared
  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
truth AS (
  SELECT s.a, s.b
  FROM shared s
  JOIN sizes sa ON s.a = sa.doc_id
  JOIN sizes sb ON s.b = sb.doc_id
  WHERE CAST(s.shared AS DOUBLE) / (sa.n_tok + sb.n_tok - s.shared)
        >= {_BLK_THRESHOLD}
),
cap AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_truth,
         CAST(COALESCE(SUM(CASE WHEN ba.blk = bb.blk THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS n_captured
  FROM truth t
  JOIN blocks ba ON t.a = ba.doc_id
  JOIN blocks bb ON t.b = bb.doc_id
),
wide AS (
  SELECT par.n_docs,
         CAST(par.n_docs * (par.n_docs - 1) // 2 AS BIGINT) AS total_pairs,
         cand.candidate_pairs, par.smod AS sample_mod, ns.n_docs_sampled,
         cap.n_truth, cap.n_captured
  FROM par CROSS JOIN cand CROSS JOIN ns CROSS JOIN cap
)
SELECT n_docs, total_pairs, candidate_pairs, sample_mod, n_docs_sampled,
       n_truth, n_captured,
       {_BLK_S_EXPRS["reduction_ratio"]} AS reduction_ratio,
       {_BLK_S_EXPRS["pair_recall"]} AS pair_recall
FROM wide
"""


@workload("er_blocking_quality_sampled", oracle=_BLK_S_ORACLE)
def er_blocking_quality_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-strategy evaluation with SAMPLED ground truth (C224) —
    the configuration that survives 100 TB. Identical blocking key and
    metrics to `er_blocking_quality` (C198): REDUCTION RATIO from exact
    per-block candidate counts (one linear grouped aggregate over the
    FULL corpus), PAIR RECALL from exact prefix-filtered Jaccard truth
    — but the truth stage runs on a deterministic md5 doc sample of
    ~256 documents (modulus ceil(N/256), stated identically in the
    oracle), so the quadratic stage is bounded by the budget at any
    corpus size. Recall over a uniform doc sample is an unbiased
    estimate of corpus pair recall (every truth pair survives with the
    same probability); the committed sample modulus and sampled-doc
    count ride in the output so the audit is self-describing. The exact
    configuration (C198) remains registered for sf<=1, where full truth
    is affordable; this one is the decade-scale certification — the
    round-7 verdict's one `weak` row, closed by running the same
    pattern the estimator audit (C145) already certifies."""
    from sample_data_pipeline_project_spark.operators.dedup import (
        jaccard_pairs_prefix,
    )

    d = load_table(spark, sf_dir, "documents")
    n_docs = d.count()
    smod = (n_docs + _BLK_SAMPLE_BUDGET - 1) // _BLK_SAMPLE_BUDGET
    blocks = d.select(
        "doc_id",
        F.concat_ws(
            "|",
            F.col("lang"),
            F.expr(f"n_chars div {_BLK_WIDTH}").cast("string"),
        ).alias("blk"),
    )
    cand = int(
        blocks.groupBy("blk")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .agg(F.sum(F.expr("c * (c - 1) div 2")).cast("long"))
        .first()[0]
    )
    samp = d.filter(F.expr(f"({_SAMP_U32}) % {smod} = 0"))
    n_sampled = samp.count()
    truth = jaccard_pairs_prefix(samp, _BLK_THRESHOLD).select("a", "b")
    ba = blocks.select(F.col("doc_id").alias("a"), F.col("blk").alias("blk_a"))
    bb = blocks.select(F.col("doc_id").alias("b"), F.col("blk").alias("blk_b"))
    cap = (
        truth.join(ba, "a")
        .join(bb, "b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_truth"),
            F.coalesce(
                F.sum(
                    F.when(F.col("blk_a") == F.col("blk_b"), 1).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("n_captured"),
        )
    )
    wide = cap.select(
        F.lit(int(n_docs)).cast("long").alias("n_docs"),
        F.lit(int(n_docs * (n_docs - 1) // 2))
        .cast("long")
        .alias("total_pairs"),
        F.lit(cand).cast("long").alias("candidate_pairs"),
        F.lit(int(smod)).cast("long").alias("sample_mod"),
        F.lit(int(n_sampled)).cast("long").alias("n_docs_sampled"),
        "n_truth",
        "n_captured",
    )
    return wide.select(
        "n_docs",
        "total_pairs",
        "candidate_pairs",
        "sample_mod",
        "n_docs_sampled",
        "n_truth",
        "n_captured",
        F.expr(_BLK_S_EXPRS["reduction_ratio"]).alias("reduction_ratio"),
        F.expr(_BLK_S_EXPRS["pair_recall"]).alias("pair_recall"),
    )

# --------------------------------------------------------------------------
# C225 — AQE wide-start / coalesce-back certification (the round-7 OOM
# guard as a hard-fail plan fact instead of an unpinned engine default)
# --------------------------------------------------------------------------
_AQE_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem
GROUP BY l_returnflag
"""


@workload("agg_aqe_wide_start_coalesce", oracle=_AQE_ORACLE)
def agg_aqe_wide_start_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE WIDE-START shuffle certification (C225): the round-7 sf10
    probe OOM'd `er_blocking_quality` because a decade of data growth
    pushed 22M-row tasks through a statically-narrow shuffle; the fix
    is the engine default
    `spark.sql.adaptive.coalescePartitions.initialPartitionNum` =
    8 x cores (256 at 32) — shuffles START wide (per-task memory bounded by partition width)
    and AQE coalesces small stages back down, so short queries pay
    nothing. That default was only verified empirically in round 7;
    this workload pins it STRUCTURALLY, the C187/C202/C221/C223
    hard-fail pattern: it runs a grouped aggregate and fails unless
    (a) the configured initial partition number exists and is what the
    exchange actually hash-partitions to, and (b) the executed adaptive
    plan coalesced the read back below the wide start. A future conf
    regression (dropping the guard, or AQE coalescing being disabled)
    fails this gate instead of resurfacing as an OOM at 100 TB. The
    3-row rollup is oracle-hashed, certifying the runtime mitigation
    never changes answers."""
    import re

    if spark.conf.get("spark.sql.adaptive.enabled", "false") != "true":
        raise AssertionError("engine contract: AQE must be enabled")
    # .conf.get raises if the guard conf was dropped entirely — exactly
    # the regression this cert exists to catch.
    init = int(
        spark.conf.get(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
        )
    )
    li = load_table(spark, sf_dir, "lineitem")
    out = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("sum_qty"),
    )
    # AQE decisions exist only on an executed plan (the C221 pattern;
    # the 3-row collect is the certification's cost, and bench counts
    # the job twice — documented in BENCH-NOTES).
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    if not re.search(rf"hashpartitioning\([^)]*,\s*{init}\)", plan):
        raise AssertionError(
            f"expected the aggregate exchange to start WIDE at the "
            f"configured initialPartitionNum={init}; plan:\n" + plan
        )
    if "AQEShuffleRead coalesced" not in plan:
        raise AssertionError(
            "expected AQE to coalesce the wide shuffle back down at "
            "this scale (coalesced AQEShuffleRead missing); plan:\n" + plan
        )
    return out

# --------------------------------------------------------------------------
# C226/C227 — mutual k-NN graph via IVF preselection (the scale path for
# C222's exact builder) + its recall certification
# --------------------------------------------------------------------------
_KNN_D = 5
_KNN_THRESHOLD = 0.3
# nprobe=6 (round 9): the round-8 nprobe=4 config was scale-UNSTABLE —
# measured recall/precision decayed 0.83/0.92 (sf0.01) -> 0.66/0.67
# (sf0.1) because K grows ~sqrt(N) so co-probe probability falls at
# fixed nprobe. nprobe=6 is scale-stable across every measured gate
# scale (see RECALL_CERT.json: 0.93/0.97 sf0.001, 0.97/0.98 sf0.01,
# 0.83/0.84 sf0.1) at identical wall cost at bench scale; the compute
# model stays ~N^1.5 (nprobe enters as a constant ~(6/4)^1.5 = 1.8x).
_KNN_NPROBE = 6
# Per-scale certification floors, pinned ~0.08 under the measured
# values committed in RECALL_CERT.json — tight enough that a silent
# regression to the nprobe=4-class quality (0.66 recall at sf0.1)
# FAILS the gate, loose enough to survive testdata regeneration.
# Unmeasured scales (decade probes) fall back to the conservative 0.5.
_KNN_FLOORS = {
    "sf0.001": (0.85, 0.90),
    "sf0.01": (0.85, 0.90),
    "sf0.1": (0.75, 0.75),
}
_KNN_FLOOR_DEFAULT = (0.5, 0.5)


def _knn_floors(sf_dir: str) -> tuple[float, float]:
    import os

    return _KNN_FLOORS.get(
        os.path.basename(sf_dir.rstrip("/")), _KNN_FLOOR_DEFAULT
    )


@workload(
    "graph_knn_mutual_edges_ivf",
    oracle="""
SELECT TRUE AS deg_bound_ok, TRUE AS scores_bitexact_ok, TRUE AS nonempty
""",
)
def graph_knn_mutual_edges_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MUTUAL k-NN graph on IVF-preselected candidates (C226) — the
    SCALE PATH for C222. Round-8 measurement: the exact blocked builder
    is Theta(N^2 d) compute and hit 14.1x for 10x vectors at the
    sf1->sf10 decade (the quadratic-regime onset); this configuration
    trains a coarse quantizer on a deterministic md5 sample
    (driver-side numpy Lloyd — the bounded-by-design collect), lands
    each vector in its `_KNN_NPROBE` nearest cells via one
    Arrow-batched pass, and
    scores only co-probed candidates with the SAME saturation-guarded
    exact-fold rescore, making compute ~N^1.5 d. Candidate ids depend
    on trained centroids, so (the kmeans-IVF oracle pattern) the hashed
    projection certifies structure instead of listing edges: degree
    bound HARD (<= d), every edge's emitted score BIT-IDENTICAL to the
    JVM fold recomputation at >= threshold, and non-emptiness; recall
    vs the exact graph is certified by the companion workload (C227)
    and pytest-pinned id-level at small sf."""
    from sample_data_pipeline_project_spark.functions.vectors import cosine
    from sample_data_pipeline_project_spark.operators.similarity import (
        knn_mutual_edges_ivf,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    edges = materialize(
        knn_mutual_edges_ivf(emb, _KNN_D, _KNN_THRESHOLD, nprobe=_KNN_NPROBE),
        "checkpoint",
    )
    deg = (
        edges.select(F.col("a").alias("v"))
        .unionAll(edges.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
        .agg(F.coalesce(F.max("deg"), F.lit(0)).alias("max_deg"))
    )
    ea = emb.select(F.col("vec_id").alias("a"), F.col("embedding").alias("va"))
    eb = emb.select(F.col("vec_id").alias("b"), F.col("embedding").alias("vb"))
    rescored = (
        edges.join(ea, "a")
        .join(eb, "b")
        .select(
            (
                (F.col("cosine_sim") == cosine("va", "vb"))
                & (F.col("cosine_sim") >= F.lit(_KNN_THRESHOLD))
            ).alias("ok")
        )
        .agg(F.coalesce(F.min("ok"), F.lit(True)).alias("all_ok"))
    )
    n = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        deg.crossJoin(rescored)
        .crossJoin(n)
        .select(
            (F.col("max_deg") <= F.lit(_KNN_D)).alias("deg_bound_ok"),
            F.col("all_ok").alias("scores_bitexact_ok"),
            (F.col("n_edges") > 0).alias("nonempty"),
        )
    )


def _knn_recall_oracle() -> str:
    from sample_data_pipeline_project_spark.workloads.analytics_round7 import (
        _knn_oracle,
    )

    return f"""
WITH exact_edges AS ({_knn_oracle()})
SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_edges,
       TRUE AS recall_ok, TRUE AS precision_ok
FROM exact_edges
"""


@workload("graph_knn_mutual_edges_ivf_recall", oracle=_knn_recall_oracle())
def graph_knn_mutual_edges_ivf_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RECALL certification for the IVF mutual-kNN builder (C227):
    computes BOTH graphs — C222's exact edges (value-hashed: the oracle
    recomputes the exact graph and its count must match) and C226's
    IVF-preselected edges — and certifies recall/precision on the
    id-pair overlap against PER-SCALE floors (_KNN_FLOORS, pinned ~0.08
    under the measured values committed in RECALL_CERT.json: at
    nprobe=6, recall/precision 0.93/0.97 sf0.001, 0.97/0.98 sf0.01,
    0.83/0.84 sf0.1). The round-8 flat 0.5 floor left a silent 40%
    recall regression inside the gate; these floors fail it. This row
    intentionally carries the quadratic exact baseline, so it certifies
    at gate/bench scale while the solo C226 row is the one to
    slope-probe and run at decade scale."""
    from sample_data_pipeline_project_spark.operators.similarity import (
        knn_mutual_edges,
        knn_mutual_edges_ivf,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    recall_floor, precision_floor = _knn_floors(sf_dir)
    exact = knn_mutual_edges(emb, _KNN_D, _KNN_THRESHOLD).select("a", "b")
    approx = knn_mutual_edges_ivf(
        emb, _KNN_D, _KNN_THRESHOLD, nprobe=_KNN_NPROBE
    ).select("a", "b")
    hits = approx.join(exact, ["a", "b"], "left_semi")
    return (
        exact.agg(F.count(F.lit(1)).alias("n_exact"))
        .crossJoin(approx.agg(F.count(F.lit(1)).alias("n_approx")))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hits")))
        .select(
            F.col("n_exact").cast("long").alias("n_exact_edges"),
            (
                F.col("n_hits")
                >= F.lit(recall_floor) * F.col("n_exact")
            ).alias("recall_ok"),
            (
                F.col("n_hits")
                >= F.lit(precision_floor) * F.col("n_approx")
            ).alias("precision_ok"),
        )
    )
