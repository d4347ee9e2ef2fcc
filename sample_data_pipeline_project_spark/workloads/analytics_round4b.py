"""Round-4b workloads: exact ML evaluation metrics and corpus/graph
structure statistics.

Determinism notes:
  - ROC-AUC is computed EXACTLY as the Mann-Whitney U statistic over
    per-value class counts: concordant pairs resolve to integer
    cross-products (2*m_pos*neg_below + m_pos*m_neg for ties), summed as
    int64, with ONE final division. The cumulative negative counts use
    the C113 PARTITIONED-CUMSUM machinery on the Spark side (fixed
    arithmetic value buckets + exclusive offsets — no single-partition
    window); the DuckDB oracle may use a plain global window
    (single-node by design).
  - k-NN runs on the 2^18-quantized integer grid (C79/C127 convention):
    squared euclidean distances are exact int64, so neighbor ranking is
    an integer sort with a vec_id tiebreak — no float comparison
    anywhere. The probe set is a deterministic md5-u32 sample, and every
    probe's neighbor rank is a probe-partitioned window over corpus-sized
    rows.
  - Assortativity and vocabulary overlap are exact-integer sufficient
    statistics with final-division doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sample_data_pipeline_project_spark.functions.text import (
    md5_prefix_uint32_sql,
    tokens,
)
from sample_data_pipeline_project_spark.operators.materialize import materialize
from sample_data_pipeline_project_spark.sources.catalog import load_table
from sample_data_pipeline_project_spark.workloads import workload

_CENTS_O = "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"

# --------------------------------------------------------------------------
# Exact ROC-AUC (Mann-Whitney U) of price as an urgency classifier
# --------------------------------------------------------------------------
_AUC_BUCKET = 1 << 20  # cents DIV 2^20: fixed arithmetic cumsum buckets

_AUC_ORACLE = f"""
WITH pts AS (
  SELECT {_CENTS_O} AS v,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
  FROM orders
),
cells AS (
  SELECT v,
         CAST(SUM(y) AS BIGINT) AS m_pos,
         CAST(SUM(1 - y) AS BIGINT) AS m_neg
  FROM pts GROUP BY v
),
n AS (SELECT SUM(m_pos) AS n_pos, SUM(m_neg) AS n_neg FROM cells),
cum AS (
  SELECT v, m_pos, m_neg,
         COALESCE(SUM(m_neg) OVER (ORDER BY v
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING), 0) AS neg_below
  FROM cells
),
u AS (
  SELECT CAST(SUM(2 * m_pos * neg_below + m_pos * m_neg) AS BIGINT) AS u2
  FROM cum
)
SELECT CAST(n.n_pos AS BIGINT) AS n_pos,
       CAST(n.n_neg AS BIGINT) AS n_neg,
       u.u2,
       CAST(u.u2 AS DOUBLE)
       / (2.0 * CAST(n.n_pos AS DOUBLE) * CAST(n.n_neg AS DOUBLE)) AS auc
FROM n CROSS JOIN u
"""


@workload("stats_roc_auc_exact", oracle=_AUC_ORACLE)
def stats_roc_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC-AUC of order price as an is-urgent classifier, computed
    as the Mann-Whitney U statistic — no threshold sweep, no trapezoid
    approximation: AUC = (concordant pos>neg pairs + half the ties) /
    (n_pos*n_neg), where every pair count collapses to integer
    cross-products over per-value class counts (2*m_pos*neg_below +
    m_pos*m_neg, summed exactly as int64; ONE final division). The
    cumulative negatives-below counts use the C113 partitioned-cumsum
    machinery: fixed cents-bucket totals (bounded collect, one row per
    occupied 2^20-cent bucket), exclusive offsets broadcast back, and
    within-bucket running sums over BUCKET-PARTITIONED windows — no
    single-partition window on the Spark side. The model-eval primitive
    every ranking/classifier pipeline reports."""
    from pyspark.sql.window import Window as W

    o = load_table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    pts = o.select(
        cents.alias("v"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("y"),
    )
    cells = pts.groupBy("v").agg(
        F.sum("y").cast("long").alias("m_pos"),
        F.sum(1 - F.col("y")).cast("long").alias("m_neg"),
    )
    cells = cells.withColumn("bkt", F.expr(f"v div {_AUC_BUCKET}"))
    btotals = sorted(
        cells.groupBy("bkt").agg(F.sum("m_neg").alias("tn"), F.sum("m_pos").alias("tp")).collect(),
        key=lambda r: r["bkt"],
    )
    offs, acc = [], 0
    n_pos = 0
    for r in btotals:
        offs.append((r["bkt"], acc))
        acc += r["tn"]
        n_pos += r["tp"]
    n_neg = acc
    off_df = F.broadcast(
        spark.createDataFrame(offs or [(0, 0)], "bkt long, off_neg long")
    )
    w = W.partitionBy("bkt").orderBy("v").rowsBetween(W.unboundedPreceding, -1)
    cum = cells.join(off_df, "bkt").select(
        "m_pos",
        "m_neg",
        (F.coalesce(F.sum("m_neg").over(w), F.lit(0)) + F.col("off_neg")).alias(
            "neg_below"
        ),
    )
    u = cum.agg(
        F.sum(
            2 * F.col("m_pos") * F.col("neg_below") + F.col("m_pos") * F.col("m_neg")
        )
        .cast("long")
        .alias("u2")
    )
    return u.select(
        F.lit(n_pos).cast("long").alias("n_pos"),
        F.lit(n_neg).cast("long").alias("n_neg"),
        "u2",
        (
            F.col("u2").cast("double")
            / (2.0 * float(n_pos) * float(n_neg))
        ).alias("auc"),
    )


# --------------------------------------------------------------------------
# k-NN label classifier on the quantized integer grid (exact distances)
# --------------------------------------------------------------------------
_KNN_K = 5
_KNN_Q = 262144  # 2^18 grid
_KNN_SAMPLE_MOD = 50  # deterministic ~2% probe sample
_KNN_U32 = md5_prefix_uint32_sql("'knn|' || CAST(vec_id AS STRING)")

_KNN_ORACLE = f"""
WITH q AS (
  SELECT vec_id, label,
         list_transform(embedding,
                        x -> CAST(FLOOR(CAST(x AS DOUBLE) * {_KNN_Q}) AS BIGINT))
           AS qv
  FROM embeddings
),
probes AS (
  SELECT vec_id AS probe_id, label AS true_label, qv AS pq
  FROM q WHERE ({_KNN_U32}) % {_KNN_SAMPLE_MOD} = 0
),
dists AS (
  SELECT p.probe_id, p.true_label, c.vec_id AS cand_id, c.label AS cand_label,
         list_sum(list_transform(range(1, len(p.pq) + 1),
                                 i -> (p.pq[i] - c.qv[i]) * (p.pq[i] - c.qv[i])))
           AS dist2
  FROM probes p CROSS JOIN q c
  WHERE p.probe_id != c.vec_id
),
nn AS (
  SELECT probe_id, true_label, cand_label FROM (
    SELECT probe_id, true_label, cand_label,
           ROW_NUMBER() OVER (PARTITION BY probe_id
                              ORDER BY dist2 ASC, cand_id ASC) AS rn
    FROM dists
  ) WHERE rn <= {_KNN_K}
),
votes AS (
  SELECT probe_id, true_label, cand_label, COUNT(*) AS nv
  FROM nn GROUP BY probe_id, true_label, cand_label
),
pred AS (
  SELECT probe_id, true_label, cand_label AS pred_label FROM (
    SELECT probe_id, true_label, cand_label,
           ROW_NUMBER() OVER (PARTITION BY probe_id
                              ORDER BY nv DESC, cand_label ASC) AS rn
    FROM votes
  ) WHERE rn = 1
)
SELECT CAST(true_label AS BIGINT) AS true_label,
       CAST(pred_label AS BIGINT) AS pred_label,
       CAST(COUNT(*) AS BIGINT) AS n_probes
FROM pred GROUP BY true_label, pred_label
"""


@workload("ml_knn_label_classifier", oracle=_KNN_ORACLE)
def ml_knn_label_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN CLASSIFIER evaluation (k={k}, leave-one-out on a deterministic
    md5-u32 ~2% probe sample): squared euclidean distances on the 2^18
    QUANTIZED integer grid are exact int64, so neighbor ranking is a pure
    integer sort (dist2 ASC, vec_id tiebreak) and majority voting an
    integer compare (count DESC, label ASC) — the whole classifier is
    RNG- and float-comparison-free, hence oracle-statable row by row.
    Confusion matrix out. Scale shape: the bounded probe set broadcasts
    against the corpus (probes x N candidate rows, each one JVM-side
    array fold — the zip_with/aggregate HOF, no explode to probes x N x
    dims); neighbor and vote ranks are probe-partitioned windows."""
    emb = load_table(spark, sf_dir, "embeddings")
    from pyspark.sql.window import Window as W

    q = emb.select(
        "vec_id",
        "label",
        F.expr(
            f"transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * {_KNN_Q}) AS BIGINT))"
        ).alias("qv"),
    )
    probes = q.filter(F.expr(f"({_KNN_U32}) % {_KNN_SAMPLE_MOD} = 0")).select(
        F.col("vec_id").alias("probe_id"),
        F.col("label").alias("true_label"),
        F.col("qv").alias("pq"),
    )
    dists = (
        F.broadcast(probes)
        .crossJoin(q)
        .filter(F.col("probe_id") != F.col("vec_id"))
        .select(
            "probe_id",
            "true_label",
            F.col("vec_id").alias("cand_id"),
            F.col("label").alias("cand_label"),
            F.expr(
                "aggregate(zip_with(pq, qv, (a, b) -> (a - b) * (a - b)),"
                " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
            ).alias("dist2"),
        )
    )
    wnn = W.partitionBy("probe_id").orderBy(
        F.col("dist2").asc(), F.col("cand_id").asc()
    )
    nn = (
        dists.withColumn("rn", F.row_number().over(wnn))
        .filter(F.col("rn") <= _KNN_K)
        .select("probe_id", "true_label", "cand_label")
    )
    votes = nn.groupBy("probe_id", "true_label", "cand_label").agg(
        F.count(F.lit(1)).alias("nv")
    )
    wv = W.partitionBy("probe_id").orderBy(
        F.col("nv").desc(), F.col("cand_label").asc()
    )
    pred = (
        votes.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select("true_label", F.col("cand_label").alias("pred_label"))
    )
    return pred.groupBy(
        F.col("true_label").cast("long").alias("true_label"),
        F.col("pred_label").cast("long").alias("pred_label"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_probes"))


# --------------------------------------------------------------------------
# Degree assortativity of the cosine near-dup graph
# --------------------------------------------------------------------------
_ASSORT_THRESHOLD = 0.3

_ASSORT_ORACLE = f"""
WITH p AS (
  SELECT a.vec_id AS a, b.vec_id AS b
  FROM embeddings a
  JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.embedding, b.embedding) >= {_ASSORT_THRESHOLD}
),
sym AS (
  SELECT a AS src, b AS dst FROM p
  UNION ALL
  SELECT b AS src, a AS dst FROM p
),
deg AS (SELECT src AS v, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY src),
ed AS (
  SELECT da.d AS du, db.d AS dv
  FROM sym s JOIN deg da ON s.src = da.v JOIN deg db ON s.dst = db.v
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m2,
         CAST(SUM(du) AS BIGINT) AS su,
         CAST(SUM(du * du) AS BIGINT) AS suu,
         CAST(SUM(du * dv) AS BIGINT) AS suv
  FROM ed
)
SELECT m2, su, suu, suv,
       (CAST(m2 AS DOUBLE) * CAST(suv AS DOUBLE)
        - CAST(su AS DOUBLE) * CAST(su AS DOUBLE))
       / (CAST(m2 AS DOUBLE) * CAST(suu AS DOUBLE)
          - CAST(su AS DOUBLE) * CAST(su AS DOUBLE)) AS assortativity
FROM stats
"""


@workload("graph_assortativity", oracle=_ASSORT_ORACLE)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEGREE ASSORTATIVITY of the near-dup graph — the Pearson
    correlation of endpoint degrees over (symmetrized) edges: positive
    means duplicate-dense documents link to each other (clique-like,
    safe to collapse), negative means hub-and-spoke template structure
    (collapse cautiously). Over the symmetric edge orientation the two
    endpoint marginals coincide, so four exact-int sufficient statistics
    (m, sum d, sum d^2, sum du*dv) give r with identical-textual-order
    doubles and no rounding guard. Everything is edge-list-sized
    equi-joins on vertex keys."""
    from sample_data_pipeline_project_spark.operators.similarity import (
        neardup_cosine_pairs_blocked,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    p = materialize(
        neardup_cosine_pairs_blocked(emb, _ASSORT_THRESHOLD)
        .select("a", "b"),
        "checkpoint",
    )
    sym = p.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        p.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    deg = sym.groupBy(F.col("src").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    ed = (
        sym.join(deg.withColumnRenamed("v", "src").withColumnRenamed("d", "du"), "src")
        .join(deg.withColumnRenamed("v", "dst").withColumnRenamed("d", "dv"), "dst")
        .select("du", "dv")
    )
    stats = ed.agg(
        F.count(F.lit(1)).cast("long").alias("m2"),
        F.sum("du").cast("long").alias("su"),
        F.sum(F.col("du") * F.col("du")).cast("long").alias("suu"),
        F.sum(F.col("du") * F.col("dv")).cast("long").alias("suv"),
    )
    return stats.select(
        "m2",
        "su",
        "suu",
        "suv",
        (
            (F.col("m2").cast("double") * F.col("suv").cast("double")
             - F.col("su").cast("double") * F.col("su").cast("double"))
            / (F.col("m2").cast("double") * F.col("suu").cast("double")
               - F.col("su").cast("double") * F.col("su").cast("double"))
        ).alias("assortativity"),
    )


# --------------------------------------------------------------------------
# Source-pair vocabulary overlap (corpus provenance structure)
# --------------------------------------------------------------------------
_VOCAB_ORACLE = """
WITH vt AS (
  SELECT DISTINCT source,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM documents
),
v AS (SELECT source, tok FROM vt WHERE tok != ''),
sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_vocab FROM v GROUP BY source),
inter AS (
  SELECT a.source AS src_a, b.source AS src_b, CAST(COUNT(*) AS BIGINT) AS n_inter
  FROM v a JOIN v b ON a.tok = b.tok AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT i.src_a, i.src_b, sa.n_vocab AS vocab_a, sb.n_vocab AS vocab_b,
       i.n_inter,
       CAST(i.n_inter AS DOUBLE)
       / CAST(sa.n_vocab + sb.n_vocab - i.n_inter AS DOUBLE) AS jaccard
FROM inter i
JOIN sizes sa ON i.src_a = sa.source
JOIN sizes sb ON i.src_b = sb.source
"""


@workload("text_source_vocab_overlap", oracle=_VOCAB_ORACLE)
def text_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROVENANCE-pair VOCABULARY overlap: Jaccard similarity between the
    distinct-token vocabularies of every source pair — the coarse "are
    these two crawls the same distribution" screen run before the
    per-document dedup machinery (cheap: vocabulary-sized, not
    corpus-sized). Exact integer intersections via a token-keyed
    equi-join of per-source vocabularies; output is |sources|^2-bounded."""
    d = load_table(spark, sf_dir, "documents")
    v = (
        d.select("source", F.explode(tokens("text")).alias("tok"))
        .filter(F.col("tok") != "")
        .distinct()
    )
    sizes = v.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_vocab"))
    a, b = v.alias("a"), v.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    return (
        inter.join(
            sizes.withColumnRenamed("source", "src_a").withColumnRenamed(
                "n_vocab", "vocab_a"
            ),
            "src_a",
        )
        .join(
            sizes.withColumnRenamed("source", "src_b").withColumnRenamed(
                "n_vocab", "vocab_b"
            ),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "vocab_a",
            "vocab_b",
            "n_inter",
            (
                F.col("n_inter").cast("double")
                / (F.col("vocab_a") + F.col("vocab_b") - F.col("n_inter")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
# Per-class precision / recall / F1 over the naive-Bayes confusion matrix
# --------------------------------------------------------------------------
def _prf_oracle() -> str:
    from sample_data_pipeline_project_spark.workloads.analytics_round4 import (
        _NB_ORACLE,
    )

    return f"""
WITH cm AS (
{_NB_ORACLE}
),
classes AS (
  SELECT lang_true AS cls FROM cm
  UNION
  SELECT lang_pred FROM cm
),
stats AS (
  SELECT c.cls,
         CAST(COALESCE(SUM(CASE WHEN cm.lang_true = c.cls
                                 AND cm.lang_pred = c.cls
                            THEN cm.n_docs END), 0) AS BIGINT) AS tp,
         CAST(COALESCE(SUM(CASE WHEN cm.lang_pred = c.cls
                                 AND cm.lang_true != c.cls
                            THEN cm.n_docs END), 0) AS BIGINT) AS fp,
         CAST(COALESCE(SUM(CASE WHEN cm.lang_true = c.cls
                                 AND cm.lang_pred != c.cls
                            THEN cm.n_docs END), 0) AS BIGINT) AS fn
  FROM classes c LEFT JOIN cm ON cm.lang_true = c.cls OR cm.lang_pred = c.cls
  GROUP BY c.cls
)
SELECT cls, tp, fp, fn,
       CASE WHEN tp + fp > 0
            THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS precision_,
       CASE WHEN tp + fn > 0
            THEN CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS recall_,
       CASE WHEN 2 * tp + fp + fn > 0
            THEN CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE)
       END AS f1
FROM stats
"""


@workload("stats_precision_recall_f1", oracle=_prf_oracle())
def stats_precision_recall_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-CLASS precision / recall / F1 for the naive-Bayes language
    classifier (C137) — the metric sheet on top of its confusion matrix,
    completing the eval family (confusion C45, kappa C106, AUC C161).
    Everything reduces to exact tp/fp/fn integers per class; each metric
    is ONE guarded division (F1 as 2tp/(2tp+fp+fn) rather than the
    p-r harmonic mean, so no divisions stack). The Spark side reuses the
    C137 pipeline and aggregates its cells; the oracle nests the
    identical NB oracle as a CTE — drift between them is impossible by
    construction."""
    from sample_data_pipeline_project_spark.workloads.analytics_round4 import (
        ml_naive_bayes_langid,
    )

    cm = materialize(ml_naive_bayes_langid(spark, sf_dir), "checkpoint")
    classes = (
        cm.select(F.col("lang_true").alias("cls"))
        .unionByName(cm.select(F.col("lang_pred").alias("cls")))
        .distinct()
    )
    joined = classes.join(
        cm,
        (cm["lang_true"] == classes["cls"]) | (cm["lang_pred"] == classes["cls"]),
        "left",
    )
    stats = joined.groupBy("cls").agg(
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("lang_true") == F.col("cls"))
                    & (F.col("lang_pred") == F.col("cls")),
                    F.col("n_docs"),
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("tp"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("lang_pred") == F.col("cls"))
                    & (F.col("lang_true") != F.col("cls")),
                    F.col("n_docs"),
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("fp"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("lang_true") == F.col("cls"))
                    & (F.col("lang_pred") != F.col("cls")),
                    F.col("n_docs"),
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("fn"),
    )
    return stats.select(
        "cls",
        "tp",
        "fp",
        "fn",
        F.when(
            F.col("tp") + F.col("fp") > 0,
            F.col("tp").cast("double") / (F.col("tp") + F.col("fp")).cast("double"),
        ).alias("precision_"),
        F.when(
            F.col("tp") + F.col("fn") > 0,
            F.col("tp").cast("double") / (F.col("tp") + F.col("fn")).cast("double"),
        ).alias("recall_"),
        F.when(
            2 * F.col("tp") + F.col("fp") + F.col("fn") > 0,
            (2 * F.col("tp")).cast("double")
            / (2 * F.col("tp") + F.col("fp") + F.col("fn")).cast("double"),
        ).alias("f1"),
    )


# --------------------------------------------------------------------------
# Seasonal strength of daily revenue (weekday-component variance share)
# --------------------------------------------------------------------------
_SEAS_ORACLE = """
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS d,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
              // 100 AS BIGINT) AS v
  FROM orders GROUP BY 1
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(v) AS BIGINT) AS sv,
         CAST(SUM(v * v) AS BIGINT) AS svv
  FROM daily
),
bywd AS (
  SELECT d % 7 AS wd, CAST(SUM(v) AS BIGINT) AS s_w,
         CAST(COUNT(*) AS BIGINT) AS n_w
  FROM daily GROUP BY d % 7
),
seas AS (
  SELECT CAST(SUM(CAST(ROUND(CAST(s_w AS DOUBLE) * CAST(s_w AS DOUBLE)
                             / CAST(n_w AS DOUBLE), 0) AS BIGINT))
              AS BIGINT) AS t
  FROM bywd
)
SELECT tot.n AS n_days,
       ROUND(1.0 - (CAST(tot.svv AS DOUBLE) - CAST(seas.t AS DOUBLE))
                   / (CAST(tot.svv AS DOUBLE)
                      - CAST(tot.sv AS DOUBLE) * CAST(tot.sv AS DOUBLE)
                        / CAST(tot.n AS DOUBLE)), 9) AS seasonal_strength
FROM tot CROSS JOIN seas
"""


@workload("timeseries_seasonal_strength", oracle=_SEAS_ORACLE)
def timeseries_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEASONAL STRENGTH of daily revenue: the share of variance the
    weekday component explains, 1 - SS_residual/SS_total with the
    weekday means as the seasonal model — the decision metric for
    whether the seasonal-naive forecaster (C50) is even applicable.
    Sufficient statistics are exact int64 in floor-DOLLARS (the C84
    headroom convention: v^2 sums stay in range through sf10); the seven
    per-weekday S^2/n terms go through the scaled-int ROUND so their sum
    is order-independent; two divisions total, ROUND(9)-guarded. Epoch
    mod-7 weekday keying (dialect-portable, C50/C92 convention)."""
    o = load_table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    daily = (
        o.groupBy(
            F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")).alias("d")
        )
        .agg(F.expr(f"CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) div 100 AS BIGINT)").alias("v"))
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("sv"),
        F.sum(F.col("v") * F.col("v")).cast("long").alias("svv"),
    )
    bywd = daily.groupBy((F.col("d") % 7).alias("wd")).agg(
        F.sum("v").cast("long").alias("s_w"),
        F.count(F.lit(1)).cast("long").alias("n_w"),
    )
    seas = bywd.agg(
        F.sum(
            F.round(
                F.col("s_w").cast("double")
                * F.col("s_w").cast("double")
                / F.col("n_w").cast("double"),
                0,
            ).cast("long")
        )
        .cast("long")
        .alias("t")
    )
    return tot.crossJoin(F.broadcast(seas)).select(
        F.col("n").alias("n_days"),
        F.round(
            1.0
            - (F.col("svv").cast("double") - F.col("t").cast("double"))
            / (
                F.col("svv").cast("double")
                - F.col("sv").cast("double")
                * F.col("sv").cast("double")
                / F.col("n").cast("double")
            ),
            9,
        ).alias("seasonal_strength"),
    )


# --------------------------------------------------------------------------
# Classifier calibration bins (reliability-diagram sufficient statistics)
# --------------------------------------------------------------------------
_CAL_BAND = 2_500_000  # $25,000 price bands in cents
_CAL_MAX_BAND = 20

_CAL_ORACLE = f"""
WITH pts AS (
  SELECT LEAST({_CENTS_O} // {_CAL_BAND}, {_CAL_MAX_BAND}) AS band,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
  FROM orders
)
SELECT CAST(band AS BIGINT) AS band,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(y) AS BIGINT) AS n_pos,
       CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS observed_rate
FROM pts GROUP BY band
"""


@workload("ml_calibration_bins", oracle=_CAL_ORACLE)
def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALIBRATION (reliability-diagram) bins for the price-as-urgency
    score that C161 grades by rank: fixed $25k price bands (top-capped),
    each with its exact positive count and observed rate — if AUC says
    the ranking discriminates, calibration says whether the score's
    LEVELS mean anything. Exact integers plus one division per band;
    a single keyed aggregate over a capped, bounded band domain."""
    o = load_table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    pts = o.select(
        F.least(F.expr(f"{_CENTS_O} div {_CAL_BAND}"), F.lit(_CAL_MAX_BAND)).alias(
            "band"
        ),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("y"),
    )
    return pts.groupBy(F.col("band").cast("long").alias("band")).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("y").cast("long").alias("n_pos"),
        (F.sum("y").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "observed_rate"
        ),
    )
