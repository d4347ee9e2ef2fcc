"""Machine-learning workloads: logistic regression, OLS and k-fold
cross-validation, naive Bayes, PCA power iteration, k-NN classification,
calibration bins, decision stumps, and recommendation (co-purchase
cosine, association rules).

Determinism notes:
  - The CV workload never re-scans training data per fold: train-side
    sufficient statistics are TOTALS MINUS FOLD (one pass + a 5-row
    broadcast), and every model coefficient / error metric is a FIXED
    double expression over exact integer (or DECIMAL(38,0)) sums — the
    identical formula text is fed to Spark via F.expr and to DuckDB in
    the oracle, so both engines execute the same IEEE operation sequence.
  - sqrt is correctly rounded under IEEE-754 on both engines, so
    RMSE = sqrt(exact-expression) is hash-stable.
  - The decision stump ranks candidate splits by a weighted-Gini double
    from exact int64 cumulative class counts (partitioned cumsum on the
    Spark side; single-node window in the oracle) and picks the argmin
    via ORDER BY + LIMIT 1 with a threshold tiebreak — no global window.
  - k-NN runs on the 2^18-quantized integer grid: squared euclidean
    distances are exact int64, so neighbor ranking is an integer sort with
    a vec_id tiebreak. The probe set is a deterministic md5-u32 sample.
  - Association-rule metrics (support / confidence / lift) are fixed
    double expressions over exact basket counts; the minimum-support
    filter is pure integer arithmetic (n_both * 200 >= n_orders).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sample_data_pipeline_project_spark.functions.text import (
    md5_prefix_uint32_sql,
    tokens,
)
from sample_data_pipeline_project_spark.operators.materialize import (
    iterate,
    materialize,
)
from sample_data_pipeline_project_spark.sources.catalog import load_table
from sample_data_pipeline_project_spark.workloads import workload
from sample_data_pipeline_project_spark.workloads.relational import _CENTS_O


# --------------------------------------------------------------------------
# Item-item co-purchase cosine (brand affinity)
# --------------------------------------------------------------------------
_COS_MIN_BOTH = 5

_RECO_ORACLE = f"""
WITH baskets AS (
  SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
sizes AS (SELECT brand, COUNT(*) AS n FROM baskets GROUP BY brand),
co AS (
  SELECT a.brand AS brand_a, b.brand AS brand_b, COUNT(*) AS n_both
  FROM baskets a JOIN baskets b
    ON a.okey = b.okey AND a.brand < b.brand
  GROUP BY a.brand, b.brand
)
SELECT co.brand_a, co.brand_b,
       CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
       CAST(co.n_both AS BIGINT) AS n_both,
       CAST(co.n_both AS DOUBLE)
       / SQRT(CAST(sa.n AS DOUBLE) * CAST(sb.n AS DOUBLE)) AS cosine
FROM co
JOIN sizes sa ON co.brand_a = sa.brand
JOIN sizes sb ON co.brand_b = sb.brand
WHERE co.n_both >= {_COS_MIN_BOTH}
"""


@workload("reco_brand_copurchase_cosine", oracle=_RECO_ORACLE)
def reco_brand_copurchase_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ITEM-ITEM collaborative-filtering similarity: cosine affinity
    between part brands from order co-membership (the "customers who
    bought X also bought Y" kernel, on sets not ratings:
    cos = n_both / sqrt(n_a * n_b), all exact integers until one final
    division). The basket table is DISTINCT (order, brand) so pair
    fan-out per order is bounded by the squared per-order brand count
    (~7 lineitems), never raw lineitem count; the pair aggregate is
    item-domain-bounded output. Complements C55's lift over event types
    with the cosine normalization on the order/part relation."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), F.col("p_brand").alias("brand")
    )
    baskets = (
        li.join(F.broadcast(p), "l_partkey")
        .select(F.col("l_orderkey").alias("okey"), "brand")
        .distinct()
    )
    sizes = baskets.groupBy("brand").agg(F.count(F.lit(1)).alias("n"))
    a = baskets.alias("a")
    b = baskets.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.okey") == F.col("b.okey"))
            & (F.col("a.brand") < F.col("b.brand")),
        )
        .groupBy(
            F.col("a.brand").alias("brand_a"), F.col("b.brand").alias("brand_b")
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
        .filter(F.col("n_both") >= _COS_MIN_BOTH)
    )
    sa = F.broadcast(sizes.withColumnsRenamed({"brand": "brand_a", "n": "n_a"}))
    sb = F.broadcast(sizes.withColumnsRenamed({"brand": "brand_b", "n": "n_b"}))
    cosine = F.col("n_both").cast("double") / F.sqrt(
        F.col("n_a").cast("double") * F.col("n_b").cast("double")
    )
    return (
        co.join(sa, "brand_a")
        .join(sb, "brand_b")
        .select(
            "brand_a",
            "brand_b",
            F.col("n_a").cast("long"),
            F.col("n_b").cast("long"),
            F.col("n_both").cast("long"),
            cosine.alias("cosine"),
        )
    )


# --------------------------------------------------------------------------
# Logistic regression, 3 fixed gradient-descent iterations (scaled-int sums)
# --------------------------------------------------------------------------
_LR_ITERS = 3

_LR_FEAT = f"""
feat AS (
  SELECT CAST({_CENTS_O} AS DOUBLE) / 10000000.0 AS x1,
         (CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS DOUBLE) - 9237.0) / 1200.0 AS x2,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1.0 ELSE 0.0 END AS y
  FROM orders
)"""


def _lr_oracle() -> str:
    parts = [_LR_FEAT + ",", "n AS (SELECT COUNT(*) AS n FROM feat),",
             "w0cte AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2)"]
    prev = "w0cte"
    for i in range(1, _LR_ITERS + 1):
        err = f"(1.0 / (1.0 + exp(-(w.w0 + w.w1 * f.x1 + w.w2 * f.x2))) - f.y)"
        parts.append(f""",
it{i} AS (
  SELECT CAST(SUM(CAST(ROUND({err} * 1000000000.0, 0) AS BIGINT)) AS BIGINT) AS s0,
         CAST(SUM(CAST(ROUND({err} * f.x1 * 1000000000.0, 0) AS BIGINT)) AS BIGINT) AS s1,
         CAST(SUM(CAST(ROUND({err} * f.x2 * 1000000000.0, 0) AS BIGINT)) AS BIGINT) AS s2
  FROM feat f CROSS JOIN {prev} w
),
w{i}cte AS (
  SELECT w.w0 - CAST(it{i}.s0 AS DOUBLE) / 1000000000.0 / CAST(n.n AS DOUBLE) AS w0,
         w.w1 - CAST(it{i}.s1 AS DOUBLE) / 1000000000.0 / CAST(n.n AS DOUBLE) AS w1,
         w.w2 - CAST(it{i}.s2 AS DOUBLE) / 1000000000.0 / CAST(n.n AS DOUBLE) AS w2
  FROM {prev} w CROSS JOIN it{i} CROSS JOIN n
)""")
        prev = f"w{i}cte"
    parts.append(f"""
SELECT CAST(n.n AS BIGINT) AS n, w.w0, w.w1, w.w2,
       (SELECT CAST(SUM(CASE WHEN ((w.w0 + w.w1 * f.x1 + w.w2 * f.x2) >= 0.0)
                              = (f.y = 1.0)
                        THEN 1 ELSE 0 END) AS BIGINT) FROM feat f) AS n_correct
FROM {prev} w CROSS JOIN n""")
    return "WITH " + "".join(parts)


@workload("ml_logistic_regression_gd", oracle=_lr_oracle())
def ml_logistic_regression_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTED ML TRAINING STEP: logistic regression (urgent-order
    propensity from price + order date) trained by {k} fixed full-batch
    gradient-descent iterations. Each iteration is ONE map-side-combinable
    keyed aggregate: the per-row gradient terms (sigmoid(w.x) - y) * x_j
    are pre-scaled to exact BIGINTs (ROUND(.*1e9) — the scaled-integer
    term-sum tactic, absorbing exp() libm ulps), so the reduction is
    order-independent int64 arithmetic and the updated weights are
    bit-identical doubles on both engines. The driver carries only the
    3-float weight vector between iterations (the MLlib shape: O(dims)
    driver state, O(n) work distributed); the oracle unrolls the same
    {k} iterations as chained CTEs. Final row: n, weights, and the
    training-set accuracy count under the sign rule w.x >= 0."""
    o = load_table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    day = F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01"))
    feat = o.select(
        (cents.cast("double") / 10000000.0).alias("x1"),
        ((day.cast("double") - 9237.0) / 1200.0).alias("x2"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1.0).otherwise(0.0).alias("y"),
    )
    # cached: feat backs the 3 eager iteration jobs AND the returned
    # DataFrame
    feat = materialize(feat, "cache")
    n = feat.count()
    w = [0.0, 0.0, 0.0]
    for _ in range(_LR_ITERS):
        z = F.lit(w[0]) + F.lit(w[1]) * F.col("x1") + F.lit(w[2]) * F.col("x2")
        err = 1.0 / (1.0 + F.exp(-z)) - F.col("y")
        row = feat.agg(
            F.sum(F.round(err * 1000000000.0, 0).cast("long")).alias("s0"),
            F.sum(F.round(err * F.col("x1") * 1000000000.0, 0).cast("long")).alias("s1"),
            F.sum(F.round(err * F.col("x2") * 1000000000.0, 0).cast("long")).alias("s2"),
        ).collect()[0]
        # identical textual order to the oracle: (s / 1e9) / n, all doubles
        w = [
            w[j] - float(row[f"s{j}"]) / 1000000000.0 / float(n)
            for j in range(3)
        ]
    z = F.lit(w[0]) + F.lit(w[1]) * F.col("x1") + F.lit(w[2]) * F.col("x2")
    correct = F.when((z >= 0.0) == (F.col("y") == 1.0), 1).otherwise(0)
    return feat.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.lit(w[0]).alias("w0"),
        F.lit(w[1]).alias("w1"),
        F.lit(w[2]).alias("w2"),
        F.sum(correct).cast("long").alias("n_correct"),
    )


# --------------------------------------------------------------------------
# Multinomial naive Bayes language classifier (add-one smoothing)
# --------------------------------------------------------------------------
_NB_LN = (
    "ln(CAST(c_wl + 1 AS DOUBLE) / CAST(n_l + v AS DOUBLE))"
)

_NB_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM documents
),
tk AS (SELECT doc_id, lang, tok FROM toks WHERE tok != ''),
doc_toks AS (
  SELECT doc_id, ANY_VALUE(lang) AS lang_true, tok, COUNT(*) AS c_dt
  FROM tk GROUP BY doc_id, tok
),
stats AS (
  SELECT lang, tok, COUNT(*) AS c_wl FROM tk GROUP BY lang, tok
),
lang_tot AS (SELECT lang, COUNT(*) AS n_l FROM tk GROUP BY lang),
vocab AS (SELECT COUNT(DISTINCT tok) AS v FROM tk),
doc_langs AS (SELECT DISTINCT lang FROM documents),
prior AS (
  SELECT lang, COUNT(*) AS nd_l FROM documents GROUP BY lang
),
nd AS (SELECT COUNT(*) AS nd FROM documents),
prior_scaled AS (
  SELECT lang,
         CAST(ROUND(ln(CAST(nd_l AS DOUBLE) / CAST(nd AS DOUBLE))
                    * 1000000000.0, 0) AS BIGINT) AS p_scaled
  FROM prior CROSS JOIN nd
),
cells AS (
  SELECT doc_id, lang_true, lang_cand,
         c_dt * CAST(ROUND({_NB_LN} * 1000000000.0, 0) AS BIGINT) AS term
  FROM (
    SELECT d.doc_id, d.lang_true, l.lang AS lang_cand, d.c_dt,
           COALESCE(s.c_wl, 0) AS c_wl, t.n_l, vocab.v
    FROM doc_toks d
    CROSS JOIN doc_langs l
    LEFT JOIN stats s ON s.lang = l.lang AND s.tok = d.tok
    JOIN lang_tot t ON t.lang = l.lang
    CROSS JOIN vocab
  )
),
scores AS (
  SELECT c.doc_id, c.lang_true, c.lang_cand,
         CAST(SUM(c.term) AS BIGINT) + p.p_scaled AS score
  FROM cells c JOIN prior_scaled p ON p.lang = c.lang_cand
  GROUP BY c.doc_id, c.lang_true, c.lang_cand, p.p_scaled
),
pred AS (
  SELECT doc_id, lang_true, lang_cand AS lang_pred FROM (
    SELECT doc_id, lang_true, lang_cand,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, lang_cand ASC) AS rn
    FROM scores
  ) WHERE rn = 1
)
SELECT lang_true, lang_pred, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM pred GROUP BY lang_true, lang_pred
"""


@workload("ml_naive_bayes_langid", oracle=_NB_ORACLE)
def ml_naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTINOMIAL NAIVE BAYES text classifier trained and evaluated on
    the labeled corpus (the learned counterpart of the heuristic lang-ID
    filter, C45): per-language token likelihoods with add-one smoothing,
    per-doc log-posterior argmax, confusion matrix out. Every ln() term
    is pre-scaled to an exact BIGINT (ROUND(.*1e9)) and multiplied by the
    integer in-doc count AFTER scaling, so per-(doc, lang) scores are
    exact int64 sums — argmax is an integer compare with a deterministic
    (score DESC, lang ASC) tiebreak. Scale shape: training stats are
    (lang, token)-keyed aggregates; scoring joins the doc-token table to
    the |langs|-bounded candidate grid (constant fan-out) on the token
    key; the per-doc argmax window is doc-partitioned over |langs| rows.
    Train-on-test resubstitution is intentional (certifies the pipeline,
    not generalization)."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    tk = (
        d.select("doc_id", "lang", F.explode(tokens("text")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    doc_toks = tk.groupBy("doc_id", "tok").agg(
        F.first("lang").alias("lang_true"), F.count(F.lit(1)).alias("c_dt")
    )
    stats = tk.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("c_wl"))
    lang_tot = tk.groupBy("lang").agg(F.count(F.lit(1)).alias("n_l"))
    vocab = tk.agg(F.countDistinct("tok").alias("v"))
    doc_langs = d.select("lang").distinct().withColumnRenamed("lang", "lang_cand")
    nd = d.agg(F.count(F.lit(1)).alias("nd"))
    prior_scaled = (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("nd_l"))
        .crossJoin(F.broadcast(nd))
        .select(
            F.col("lang").alias("lang_cand"),
            F.round(
                F.log(F.col("nd_l").cast("double") / F.col("nd").cast("double"))
                * 1000000000.0,
                0,
            )
            .cast("long")
            .alias("p_scaled"),
        )
    )
    cells = (
        doc_toks.crossJoin(F.broadcast(doc_langs))
        .join(
            stats.withColumnRenamed("lang", "lang_cand"),
            ["lang_cand", "tok"],
            "left",
        )
        .join(F.broadcast(lang_tot.withColumnRenamed("lang", "lang_cand")), "lang_cand")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            "lang_true",
            "lang_cand",
            (
                F.col("c_dt")
                * F.round(
                    F.log(
                        (F.coalesce(F.col("c_wl"), F.lit(0)) + 1).cast("double")
                        / (F.col("n_l") + F.col("v")).cast("double")
                    )
                    * 1000000000.0,
                    0,
                ).cast("long")
            ).alias("term"),
        )
    )
    scores = (
        cells.groupBy("doc_id", "lang_true", "lang_cand")
        .agg(F.sum("term").cast("long").alias("s"))
        .join(F.broadcast(prior_scaled), "lang_cand")
        .select(
            "doc_id",
            "lang_true",
            "lang_cand",
            (F.col("s") + F.col("p_scaled")).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("lang_cand").asc()
    )
    pred = (
        scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("lang_true", F.col("lang_cand").alias("lang_pred"))
    )
    return pred.groupBy("lang_true", "lang_pred").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


# --------------------------------------------------------------------------
# Two-feature OLS via normal equations (exact-decimal sufficient statistics)
# --------------------------------------------------------------------------
_OLS_SOLVE = """
  SELECT n,
         (sy / n) - (((sx1y - sx1 * sy / n) * (sx2x2 - sx2 * sx2 / n)
                      - (sx2y - sx2 * sy / n) * (sx1x2 - sx1 * sx2 / n))
                     / ((sx1x1 - sx1 * sx1 / n) * (sx2x2 - sx2 * sx2 / n)
                        - (sx1x2 - sx1 * sx2 / n) * (sx1x2 - sx1 * sx2 / n)))
                    * (sx1 / n)
                  - (((sx2y - sx2 * sy / n) * (sx1x1 - sx1 * sx1 / n)
                      - (sx1y - sx1 * sy / n) * (sx1x2 - sx1 * sx2 / n))
                     / ((sx1x1 - sx1 * sx1 / n) * (sx2x2 - sx2 * sx2 / n)
                        - (sx1x2 - sx1 * sx2 / n) * (sx1x2 - sx1 * sx2 / n)))
                    * (sx2 / n) AS b0,
         ((sx1y - sx1 * sy / n) * (sx2x2 - sx2 * sx2 / n)
          - (sx2y - sx2 * sy / n) * (sx1x2 - sx1 * sx2 / n))
         / ((sx1x1 - sx1 * sx1 / n) * (sx2x2 - sx2 * sx2 / n)
            - (sx1x2 - sx1 * sx2 / n) * (sx1x2 - sx1 * sx2 / n)) AS b1,
         ((sx2y - sx2 * sy / n) * (sx1x1 - sx1 * sx1 / n)
          - (sx1y - sx1 * sy / n) * (sx1x2 - sx1 * sx2 / n))
         / ((sx1x1 - sx1 * sx1 / n) * (sx2x2 - sx2 * sx2 / n)
            - (sx1x2 - sx1 * sx2 / n) * (sx1x2 - sx1 * sx2 / n)) AS b2,
         sx1y - sx1 * sy / n AS sx1yc,
         sx2y - sx2 * sy / n AS sx2yc,
         syy - sy * sy / n AS sstc
  FROM __ols_statsd
"""

_OLS_ORACLE = f"""
WITH feat AS (
  SELECT o.o_orderkey,
         CAST(date_diff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE))
              AS BIGINT) AS x1,
         CAST(l.n_items AS BIGINT) AS x2,
         {_CENTS_O} AS y
  FROM orders o
  JOIN (SELECT l_orderkey, COUNT(*) AS n_items
        FROM lineitem GROUP BY l_orderkey) l
    ON l.l_orderkey = o.o_orderkey
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x1) AS DECIMAL(38,0)) AS sx1,
         CAST(SUM(x2) AS DECIMAL(38,0)) AS sx2,
         CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
         CAST(SUM(x1 * x1) AS DECIMAL(38,0)) AS sx1x1,
         CAST(SUM(x2 * x2) AS DECIMAL(38,0)) AS sx2x2,
         CAST(SUM(x1 * x2) AS DECIMAL(38,0)) AS sx1x2,
         CAST(SUM(x1 * y) AS DECIMAL(38,0)) AS sx1y,
         CAST(SUM(x2 * y) AS DECIMAL(38,0)) AS sx2y,
         CAST(SUM(y * y) AS DECIMAL(38,0)) AS syy
  FROM feat
),
__ols_statsd AS (
  SELECT CAST(n AS DOUBLE) AS n,
         CAST(sx1 AS DOUBLE) AS sx1, CAST(sx2 AS DOUBLE) AS sx2,
         CAST(sy AS DOUBLE) AS sy,
         CAST(sx1x1 AS DOUBLE) AS sx1x1, CAST(sx2x2 AS DOUBLE) AS sx2x2,
         CAST(sx1x2 AS DOUBLE) AS sx1x2,
         CAST(sx1y AS DOUBLE) AS sx1y, CAST(sx2y AS DOUBLE) AS sx2y,
         CAST(syy AS DOUBLE) AS syy
  FROM stats
),
solved AS (
{_OLS_SOLVE}
)
SELECT CAST(n AS BIGINT) AS n, b0, b1, b2,
       ROUND(1.0 - (sstc - b1 * sx1yc - b2 * sx2yc) / sstc, 9) AS r2
FROM solved
"""


@workload("ml_ols_two_features", oracle=_OLS_ORACLE)
def ml_ols_two_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTIPLE LINEAR REGRESSION in closed form: order value (cents)
    regressed on order date and line-item count, solved by the 2-feature
    normal equations — ONE distributed pass collects ten exact sufficient
    statistics (sums of products as DECIMAL(38,0), overflow-proof far
    past sf10), then Cramer's rule on the centered 2x2 system runs as
    identical-textual-order double expressions over the single stats row,
    so coefficients are bit-identical cross-engine (R2 carries one
    ROUND(9) guard since it stacks two extra divisions). The feature join
    (per-order line-item counts) is the feature-engineering equi-join;
    everything after the stats aggregate is O(1). The iterative twin is
    C136's gradient descent — same model family, opposite compute
    shape."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    n_items = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n_items"))
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    feat = (
        o.join(n_items, o["o_orderkey"] == n_items["l_orderkey"])
        .select(
            F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01"))
            .cast("long")
            .alias("x1"),
            F.col("n_items").cast("long").alias("x2"),
            cents.alias("y"),
        )
    )
    d38 = "decimal(38,0)"
    stats = feat.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("x1").cast(d38)).alias("sx1"),
        F.sum(F.col("x2").cast(d38)).alias("sx2"),
        F.sum(F.col("y").cast(d38)).alias("sy"),
        F.sum((F.col("x1") * F.col("x1")).cast(d38)).alias("sx1x1"),
        F.sum((F.col("x2") * F.col("x2")).cast(d38)).alias("sx2x2"),
        F.sum((F.col("x1") * F.col("x2")).cast(d38)).alias("sx1x2"),
        F.sum((F.col("x1") * F.col("y")).cast(d38)).alias("sx1y"),
        F.sum((F.col("x2") * F.col("y")).cast(d38)).alias("sx2y"),
        F.sum((F.col("y") * F.col("y")).cast(d38)).alias("syy"),
    )
    statsd = stats.select(
        F.col("n").cast("double").alias("n"),
        *[
            F.col(c).cast("double").alias(c)
            for c in (
                "sx1", "sx2", "sy", "sx1x1", "sx2x2", "sx1x2",
                "sx1y", "sx2y", "syy",
            )
        ],
    )
    statsd.createOrReplaceTempView("__ols_statsd")
    solved = spark.sql(_OLS_SOLVE)
    return solved.select(
        F.col("n").cast("long").alias("n"),
        "b0",
        "b1",
        "b2",
        F.round(
            1.0
            - (F.col("sstc") - F.col("b1") * F.col("sx1yc") - F.col("b2") * F.col("sx2yc"))
            / F.col("sstc"),
            9,
        ).alias("r2"),
    )


# --------------------------------------------------------------------------
# PCA power iteration (dominant eigenvector of the second-moment matrix)
# --------------------------------------------------------------------------
_PCA_Q = 262144  # 2^18 (gram_moments QUANT_SCALE)
_PCA_DIM = 64
_PCA_ITERS = 3
_PCA_VSCALE = 1_000_000

_PCA_TERM = (
    f"CAST(ROUND(CAST(g AS DOUBLE) / CAST(n AS DOUBLE)"
    f" / {_PCA_Q}.0 / {_PCA_Q}.0 * CAST(v AS DOUBLE), 0) AS BIGINT)"
)


def _pca_oracle() -> str:
    iters = []
    prev = "v0"
    for t in range(1, _PCA_ITERS + 1):
        iters.append(f""",
w{t} AS (
  SELECT sym.j AS k, CAST(SUM({_PCA_TERM}) AS BIGINT) AS w
  FROM sym JOIN {prev} ON sym.i = {prev}.k CROSS JOIN nn
  GROUP BY sym.j
),
mx{t} AS (SELECT MAX(ABS(w)) AS mx FROM w{t}),
v{t} AS (
  SELECT k, CAST(ROUND(CAST(w AS DOUBLE) / CAST(mx AS DOUBLE)
                       * {_PCA_VSCALE}.0, 0) AS BIGINT) AS v
  FROM w{t} CROSS JOIN mx{t}
)""")
        prev = f"v{t}"
    return f"""
WITH q AS (
  SELECT vec_id, d - 1 AS dim,
         CAST(FLOOR(CAST(embedding[d] AS DOUBLE) * {_PCA_Q}) AS BIGINT) AS qv
  FROM embeddings
  CROSS JOIN unnest(range(1, len(embedding) + 1)) AS r(d)
),
cells AS (
  SELECT a.dim AS i, b.dim AS j, CAST(SUM(a.qv * b.qv) AS BIGINT) AS g
  FROM q a JOIN q b ON a.vec_id = b.vec_id
  WHERE a.dim <= b.dim
  GROUP BY a.dim, b.dim
),
sym AS (
  SELECT i, j, g FROM cells
  UNION ALL
  SELECT j AS i, i AS j, g FROM cells WHERE i < j
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
v0 AS (
  SELECT unnest(range(0, {_PCA_DIM})) AS k, CAST({_PCA_VSCALE} AS BIGINT) AS v
){"".join(iters)}
SELECT CAST(k AS BIGINT) AS dim, CAST(v AS BIGINT) AS v_scaled
FROM {prev}
"""


@workload("ml_pca_power_iteration", oracle=_pca_oracle())
def ml_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTED PCA: the dominant eigenvector of the embeddings'
    second-moment matrix by {t} fixed power iterations. The d x d moment
    matrix comes from `operators/gram.py:gram_moments` — per-Arrow-batch
    exact-int Gram partials on the 2^18 grid (one numpy matmul per
    batch), merged by a (i, j)-keyed sum: the ONLY stage that touches
    raw vectors, map-side combinable, O(d^2) shuffle rows per batch. The
    iteration then runs on the d^2-cell table: matvec as an equi-join +
    keyed sum with each term pre-scaled to an exact BIGINT, and a
    ROUND-normalize by max|w| (symmetric half-away-from-zero on both
    engines, so NEGATIVE components stay portable — integer DIV would
    floor vs truncate differently). Every iterate is exact integers; the
    oracle unrolls identical iterations. Fixed-iteration contract (no
    convergence test) per the pagerank/k-core family."""
    from sample_data_pipeline_project_spark.operators.gram import gram_moments

    emb = load_table(spark, sf_dir, "embeddings")
    cells = materialize(
        gram_moments(emb)
        .groupBy("i", "j")
        .agg(F.sum("sxy").alias("g"), F.sum("cnt").alias("cnt")),
        "checkpoint",
    )
    n = cells.filter((F.col("i") == 0) & (F.col("j") == 0)).select(
        F.col("cnt").cast("long").alias("n")
    )
    sym = cells.select("i", "j", "g").unionByName(
        cells.filter(F.col("i") < F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "g"
        )
    )
    spark_df = spark.createDataFrame(
        [(k, _PCA_VSCALE) for k in range(_PCA_DIM)], "k int, v long"
    )
    term = F.round(
        F.col("g").cast("double")
        / F.col("n").cast("double")
        / float(_PCA_Q)
        / float(_PCA_Q)
        * F.col("v").cast("double"),
        0,
    ).cast("long")

    def matvec(v: DataFrame) -> DataFrame:
        w = (
            sym.join(v, sym["i"] == v["k"])
            .crossJoin(F.broadcast(n))
            .groupBy(sym["j"].alias("k2"))
            .agg(F.sum(term).cast("long").alias("w"))
        )
        mx = w.agg(F.max(F.abs(F.col("w"))).alias("mx"))
        return w.crossJoin(F.broadcast(mx)).select(
            F.col("k2").alias("k"),
            F.round(
                F.col("w").cast("double") / F.col("mx").cast("double")
                * float(_PCA_VSCALE),
                0,
            )
            .cast("long")
            .alias("v"),
        )

    v = iterate(spark_df, matvec, _PCA_ITERS, name="ml_pca_power_iteration")
    return v.select(
        F.col("k").cast("long").alias("dim"), F.col("v").cast("long").alias("v_scaled")
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


# --------------------------------------------------------------------------
# C177 — k-fold cross-validated OLS from complement sufficient statistics
# --------------------------------------------------------------------------

_K_FOLDS = 5
_FOLD_U32 = md5_prefix_uint32_sql("'fold|' || CAST(o_orderkey AS STRING)")
_FOLD_EXPR = f"{_FOLD_U32} % {_K_FOLDS}"

# Shared formula text (Spark F.expr == DuckDB SQL): every operand is an
# exact int64 / DECIMAL(38,0) aggregate cast to DOUBLE at a fixed point,
# so both engines run the identical IEEE operation sequence.
_B1_EXPR = (
    "(CAST(n_tr AS DOUBLE) * CAST(sxy_tr AS DOUBLE)"
    " - CAST(sx_tr AS DOUBLE) * CAST(sy_tr AS DOUBLE))"
    " / (CAST(n_tr AS DOUBLE) * CAST(sxx_tr AS DOUBLE)"
    " - CAST(sx_tr AS DOUBLE) * CAST(sx_tr AS DOUBLE))"
)
_B0_EXPR = "(CAST(sy_tr AS DOUBLE) - b1 * CAST(sx_tr AS DOUBLE)) / CAST(n_tr AS DOUBLE)"
# syy (cents^2 sums) exceeds 2^53 at sf >= 0.1, and DECIMAL -> DOUBLE
# conversion above 2^53 is NOT identically rounded across engines (the
# round-8 sf0.1 gate caught a 1-ulp divergence in exactly this cast).
# Each pipeline therefore ships syy as TWO exact int64 halves
# (hi = syy div 2^32, lo = syy mod 2^32 — both < 2^53, so their DOUBLE
# casts are exact) and the shared formula reassembles them with one
# IEEE multiply-add both engines execute identically.
_SYY_DBL = (
    "(CAST(syy_te_hi AS DOUBLE) * 4294967296.0 + CAST(syy_te_lo AS DOUBLE))"
)
_SSE_EXPR = (
    f"{_SYY_DBL} - 2 * b0 * CAST(sy_te AS DOUBLE)"
    " - 2 * b1 * CAST(sxy_te AS DOUBLE) + CAST(n_te AS DOUBLE) * b0 * b0"
    " + 2 * b0 * b1 * CAST(sx_te AS DOUBLE) + b1 * b1 * CAST(sxx_te AS DOUBLE)"
)
_RMSE_EXPR = f"sqrt(GREATEST(CAST(0 AS DOUBLE), ({_SSE_EXPR}) / CAST(n_te AS DOUBLE)))"

_CV_ORACLE = f"""
WITH xy AS (
  SELECT o.o_orderkey,
         CAST({_FOLD_EXPR} AS BIGINT) AS fold,
         COALESCE(li.x, 0) AS x,
         CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
  FROM orders o
  LEFT JOIN (
    SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS x
    FROM lineitem GROUP BY l_orderkey
  ) li ON o.o_orderkey = li.l_orderkey
),
per_fold AS (
  SELECT fold,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS HUGEINT)
              // 4294967296 AS BIGINT) AS syy_hi,
         CAST(CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS HUGEINT)
              % 4294967296 AS BIGINT) AS syy_lo
  FROM xy GROUP BY fold
),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n_all,
         CAST(SUM(sx) AS BIGINT) AS sx_all,
         CAST(SUM(sy) AS BIGINT) AS sy_all,
         CAST(SUM(sxy) AS BIGINT) AS sxy_all,
         CAST(SUM(sxx) AS BIGINT) AS sxx_all
  FROM per_fold
),
split AS (
  SELECT fold,
         n AS n_te, sx AS sx_te, sy AS sy_te, sxy AS sxy_te,
         sxx AS sxx_te, syy_hi AS syy_te_hi, syy_lo AS syy_te_lo,
         n_all - n AS n_tr, sx_all - sx AS sx_tr, sy_all - sy AS sy_tr,
         sxy_all - sxy AS sxy_tr, sxx_all - sxx AS sxx_tr
  FROM per_fold CROSS JOIN tot
),
with_b1 AS (SELECT *, {_B1_EXPR} AS b1 FROM split),
with_b0 AS (SELECT *, {_B0_EXPR} AS b0 FROM with_b1)
SELECT fold, n_tr AS n_train, n_te AS n_test, b1, b0,
       {_RMSE_EXPR} AS rmse_test
FROM with_b0
"""


@workload("ml_kfold_cv_ols", oracle=_CV_ORACLE)
def ml_kfold_cv_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold cross-validated simple OLS (order price ~ lineitem count)
    WITHOUT re-scanning training data per fold: one pass computes exact
    per-fold sufficient statistics (counts, sums, cross-products; the
    y^2 sum in DECIMAL(38,0) because cents-squared overflows int64 at
    scale), and each fold's TRAINING statistics are totals-minus-fold —
    a 5-row broadcast instead of k passes over the data, the trick that
    makes k-fold CV a single-shuffle operation at 100 TB. Coefficients
    and test RMSE come from fixed shared-text double formulas over those
    exact aggregates (sqrt is IEEE-correctly-rounded on both engines).
    Folds are deterministic md5-u32 hashes of the order key."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    xcnt = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).cast("long").alias("x"))
    xy = (
        o.join(xcnt, o["o_orderkey"] == xcnt["l_orderkey"], "left")
        .select(
            F.expr(_FOLD_EXPR).cast("long").alias("fold"),
            F.coalesce(F.col("x"), F.lit(0).cast("long")).alias("x"),
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("y"),
        )
    )
    per_fold = (
        xy.groupBy("fold")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x").cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
            F.sum(F.col("y").cast("decimal(38,0)") * F.col("y"))
            .cast("decimal(38,0)")
            .alias("syy"),
        )
        # two exact int64 halves — see the _SYY_DBL note above
        .withColumn(
            "syy_hi", F.expr("CAST(syy div 4294967296 AS BIGINT)")
        )
        .withColumn("syy_lo", F.expr("CAST(syy % 4294967296 AS BIGINT)"))
        .drop("syy")
    )
    tot = per_fold.agg(
        F.sum("n").cast("long").alias("n_all"),
        F.sum("sx").cast("long").alias("sx_all"),
        F.sum("sy").cast("long").alias("sy_all"),
        F.sum("sxy").cast("long").alias("sxy_all"),
        F.sum("sxx").cast("long").alias("sxx_all"),
    )
    split = per_fold.join(F.broadcast(tot)).select(
        "fold",
        F.col("n").alias("n_te"),
        F.col("sx").alias("sx_te"),
        F.col("sy").alias("sy_te"),
        F.col("sxy").alias("sxy_te"),
        F.col("sxx").alias("sxx_te"),
        F.col("syy_hi").alias("syy_te_hi"),
        F.col("syy_lo").alias("syy_te_lo"),
        (F.col("n_all") - F.col("n")).alias("n_tr"),
        (F.col("sx_all") - F.col("sx")).alias("sx_tr"),
        (F.col("sy_all") - F.col("sy")).alias("sy_tr"),
        (F.col("sxy_all") - F.col("sxy")).alias("sxy_tr"),
        (F.col("sxx_all") - F.col("sxx")).alias("sxx_tr"),
    )
    out = (
        split.withColumn("b1", F.expr(_B1_EXPR))
        .withColumn("b0", F.expr(_B0_EXPR))
        .select(
            "fold",
            F.col("n_tr").alias("n_train"),
            F.col("n_te").alias("n_test"),
            "b1",
            "b0",
            F.expr(_RMSE_EXPR).alias("rmse_test"),
        )
    )
    return out


# --------------------------------------------------------------------------
# C178 — exact decision stump (best Gini split) via partitioned cumsum
# --------------------------------------------------------------------------

_STUMP_BUCKET = 1 << 20

_H_EXPR = (
    "CAST(pos_le * pos_le + neg_le * neg_le AS DOUBLE) / CAST(n_l AS DOUBLE)"
    " + CAST(pos_r * pos_r + neg_r * neg_r AS DOUBLE) / CAST(n_r AS DOUBLE)"
)
_GINI_EXPR = f"(CAST(n_all AS DOUBLE) - ({_H_EXPR})) / CAST(n_all AS DOUBLE)"

_STUMP_ORACLE = f"""
WITH pts AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
  FROM orders
),
cells AS (
  SELECT v, CAST(SUM(y) AS BIGINT) AS pos, CAST(SUM(1 - y) AS BIGINT) AS neg
  FROM pts GROUP BY v
),
cum AS (
  SELECT v,
         SUM(pos) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS pos_le,
         SUM(neg) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS neg_le,
         CAST(SUM(pos) OVER () AS BIGINT) AS p_all,
         CAST(SUM(neg) OVER () AS BIGINT) AS n_neg_all
  FROM cells
),
scored AS (
  SELECT v AS threshold_cents,
         CAST(pos_le + neg_le AS BIGINT) AS n_l,
         CAST(pos_le AS BIGINT) AS pos_le,
         CAST(neg_le AS BIGINT) AS neg_le,
         CAST(p_all + n_neg_all - pos_le - neg_le AS BIGINT) AS n_r,
         CAST(p_all - pos_le AS BIGINT) AS pos_r,
         CAST(n_neg_all - neg_le AS BIGINT) AS neg_r,
         CAST(p_all + n_neg_all AS BIGINT) AS n_all
  FROM cum
),
ranked AS (
  SELECT threshold_cents, n_l AS n_left, pos_le AS pos_left,
         n_r AS n_right, pos_r AS pos_right,
         {_GINI_EXPR} AS weighted_gini
  FROM scored WHERE n_r > 0
)
SELECT * FROM ranked
ORDER BY weighted_gini ASC, threshold_cents ASC
LIMIT 1
"""


@workload("ml_decision_stump", oracle=_STUMP_ORACLE)
def ml_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact decision-stump induction: the single price threshold that
    minimizes weighted Gini impurity for the is-urgent label, over ALL
    distinct feature values. Cumulative class counts per candidate split
    use the C113 partitioned cumsum (bounded per-value-bucket totals ->
    exclusive offsets -> bucket-partitioned windows), so no global
    window touches the value table at any scale; the split score is a
    fixed double expression over exact int64 counts, and the argmin is
    ORDER BY + LIMIT 1 (TakeOrderedAndProject) with a deterministic
    threshold tiebreak. This is one boosting-round / one tree-node of
    exact greedy tree induction, the shape distributed GBDT kernels
    (XGBoost-on-Spark histogram mode) approximate."""
    o = load_table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    pts = o.select(
        cents.alias("v"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("y"),
    )
    cells = pts.groupBy("v").agg(
        F.sum("y").cast("long").alias("pos"),
        F.sum(1 - F.col("y")).cast("long").alias("neg"),
    )
    cells = cells.withColumn("bkt", F.expr(f"v div {_STUMP_BUCKET}"))
    btotals = sorted(
        cells.groupBy("bkt")
        .agg(F.sum("pos").alias("tp"), F.sum("neg").alias("tn"))
        .collect(),
        key=lambda r: r["bkt"],
    )
    offs, acc_p, acc_n = [], 0, 0
    for r in btotals:
        offs.append((r["bkt"], acc_p, acc_n))
        acc_p += r["tp"]
        acc_n += r["tn"]
    p_all, n_neg_all = acc_p, acc_n
    off_df = F.broadcast(
        spark.createDataFrame(offs or [(0, 0, 0)], "bkt long, off_p long, off_n long")
    )
    w = (
        Window.partitionBy("bkt")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = cells.join(off_df, "bkt").select(
        "v",
        (F.sum("pos").over(w) + F.col("off_p")).cast("long").alias("pos_le"),
        (F.sum("neg").over(w) + F.col("off_n")).cast("long").alias("neg_le"),
    )
    scored = cum.select(
        F.col("v").alias("threshold_cents"),
        (F.col("pos_le") + F.col("neg_le")).alias("n_l"),
        "pos_le",
        "neg_le",
        (F.lit(p_all + n_neg_all) - F.col("pos_le") - F.col("neg_le")).alias("n_r"),
        (F.lit(p_all) - F.col("pos_le")).alias("pos_r"),
        (F.lit(n_neg_all) - F.col("neg_le")).alias("neg_r"),
        F.lit(p_all + n_neg_all).cast("long").alias("n_all"),
    )
    ranked = scored.filter(F.col("n_r") > 0).select(
        "threshold_cents",
        F.col("n_l").alias("n_left"),
        F.col("pos_le").alias("pos_left"),
        F.col("n_r").alias("n_right"),
        F.col("pos_r").alias("pos_right"),
        F.expr(_GINI_EXPR).alias("weighted_gini"),
    )
    return ranked.orderBy("weighted_gini", "threshold_cents").limit(1)


# --------------------------------------------------------------------------
# C191 — brand-level association rules (support / confidence / lift)
# --------------------------------------------------------------------------

_AR_EXPRS = {
    "support": "CAST(n_both AS DOUBLE) / CAST(n_orders AS DOUBLE)",
    "confidence": "CAST(n_both AS DOUBLE) / CAST(n_a AS DOUBLE)",
    "lift": (
        "CAST(n_both AS DOUBLE) * CAST(n_orders AS DOUBLE)"
        " / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))"
    ),
}

_AR_ORACLE = f"""
WITH baskets AS (
  SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS brand
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
nn AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM baskets),
items AS (SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_item FROM baskets GROUP BY brand),
pairs AS (
  SELECT a.brand AS a, b.brand AS b, CAST(COUNT(*) AS BIGINT) AS n_both
  FROM baskets a JOIN baskets b ON a.ok = b.ok AND a.brand <> b.brand
  GROUP BY a.brand, b.brand
),
scored AS (
  SELECT p.a, p.b, p.n_both, ia.n_item AS n_a, ib.n_item AS n_b, nn.n_orders
  FROM pairs p
  JOIN items ia ON p.a = ia.brand
  JOIN items ib ON p.b = ib.brand
  CROSS JOIN nn
  WHERE p.n_both * 200 >= nn.n_orders
)
SELECT a, b, n_both, n_a, n_b,
       {_AR_EXPRS["support"]} AS support,
       {_AR_EXPRS["confidence"]} AS confidence,
       {_AR_EXPRS["lift"]} AS lift
FROM scored
"""


@workload("reco_association_rules", oracle=_AR_ORACLE)
def reco_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-antecedent association rules X -> Y over order baskets at
    the brand level: support, confidence and lift for every DIRECTED
    brand pair clearing a 0.5% minimum support (an integer-arithmetic
    filter, n_both*200 >= n_orders — no float threshold). The basket
    table is DISTINCT (order, brand) so per-order pair fan-out is
    bounded by the squared basket width, and the rule table is
    item-domain-bounded (|brands|^2) — the Apriori L2 step, which is
    the part of market-basket mining that matters at warehouse scale
    because L1/L2 prune everything downstream. Metrics are fixed double
    expressions over exact counts; C55 (event-type lift) and C118
    (co-purchase cosine) cover the undirected normalizations."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), F.col("p_brand").alias("brand")
    )
    baskets = (
        li.join(F.broadcast(p), "l_partkey")
        .select(F.col("l_orderkey").alias("ok"), "brand")
        .distinct()
    )
    n_orders = baskets.select("ok").distinct().count()
    items = baskets.groupBy("brand").agg(
        F.count(F.lit(1)).cast("long").alias("n_item")
    )
    a, b = baskets.alias("a"), baskets.alias("b")
    pairs = (
        a.join(b, (F.col("a.ok") == F.col("b.ok")) & (F.col("a.brand") != F.col("b.brand")))
        .groupBy(F.col("a.brand").alias("a"), F.col("b.brand").alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    ia = items.select(F.col("brand").alias("a"), F.col("n_item").alias("n_a"))
    ib = items.select(F.col("brand").alias("b"), F.col("n_item").alias("n_b"))
    scored = (
        pairs.join(F.broadcast(ia), "a")
        .join(F.broadcast(ib), "b")
        .withColumn("n_orders", F.lit(int(n_orders)).cast("long"))
        .filter(F.col("n_both") * 200 >= F.col("n_orders"))
    )
    return scored.select(
        "a",
        "b",
        "n_both",
        "n_a",
        "n_b",
        F.expr(_AR_EXPRS["support"]).alias("support"),
        F.expr(_AR_EXPRS["confidence"]).alias("confidence"),
        F.expr(_AR_EXPRS["lift"]).alias("lift"),
    )
