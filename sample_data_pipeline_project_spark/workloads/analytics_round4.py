"""Round-4 workloads: robust statistics, mergeable exact sketches,
collocation mining, and the correlated-subquery (decorrelation) surface.

Scale notes (per the repo-wide plan contract):
  - Theil-Sen runs its quadratic pair machinery over a CALENDAR-BOUNDED
    daily aggregate (one month of days — at most 31 rows at any scale
    factor), never over raw rows: the O(m^2) rank comparisons are bounded
    by construction, the same tactic as C84's ACF and C123's triangular
    joins. The only unbounded-input stage is the daily SUM, a keyed
    aggregate.
  - The bitmap-distinct blocks are mergeable exact sketches: 62 users per
    BIGINT block, bit_or as the (commutative, map-side-combinable) merge.
    Shuffle rows are |types| x |user_id_domain|/62 — a 62x reduction over
    shuffling raw ids, and the roaring-bitmap shape for exact COUNT
    DISTINCT at 100 TB.
  - PMI top-k follows the C15 pattern exactly: TakeOrderedAndProject for
    the global top-k (no global window), rank via a bounded k x k
    self-join, with the ln() score pre-scaled to an exact BIGINT
    (ROUND(.*1e9)) so library ulps cannot flip the sort order.
  - The correlated-subquery workload feeds Catalyst's decorrelation
    rewrites (RewriteCorrelatedScalarSubquery / RewritePredicateSubquery):
    both scalar subqueries and the EXISTS become aggregate+join plans —
    the optimizer surface itself is what the row certifies, with the
    comparison kept in exact integer cross-products (cents*count vs sum)
    so no AVG-typing divergence between engines can move the boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sample_data_pipeline_project_spark.functions.text import tokens
from sample_data_pipeline_project_spark.operators.materialize import materialize
from sample_data_pipeline_project_spark.sources.catalog import (
    load_table,
    register_views,
)
from sample_data_pipeline_project_spark.workloads import workload

_CENTS_O = "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"

# --------------------------------------------------------------------------
# Theil-Sen robust slope (median of pairwise slopes, exact rational rank)
# --------------------------------------------------------------------------
_TS_START = "1995-01-01"
_TS_END = "1995-02-01"

_TS_ORACLE = f"""
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS d,
         CAST(SUM({_CENTS_O}) AS BIGINT) AS v
  FROM orders
  WHERE CAST(o_orderdate AS DATE) >= DATE '{_TS_START}'
    AND CAST(o_orderdate AS DATE) <  DATE '{_TS_END}'
  GROUP BY 1
),
p AS (
  SELECT a.d AS d1, b.d AS d2, b.v - a.v AS num, b.d - a.d AS den
  FROM daily a JOIN daily b ON a.d < b.d
),
m AS (SELECT COUNT(*) AS n_pairs FROM p),
nd AS (SELECT COUNT(*) AS n_days FROM daily),
r AS (
  SELECT p.d1, p.d2, p.num, p.den,
         (SELECT COUNT(*) FROM p q
           WHERE q.num * p.den < p.num * q.den
              OR (q.num * p.den = p.num * q.den
                  AND (q.d1 < p.d1 OR (q.d1 = p.d1 AND q.d2 < p.d2)))
         ) AS cnt_less
  FROM p
)
SELECT CAST(nd.n_days AS BIGINT) AS n_days,
       CAST(m.n_pairs AS BIGINT) AS n_pairs,
       CAST(r.d1 AS BIGINT) AS med_d1,
       CAST(r.d2 AS BIGINT) AS med_d2,
       CAST(r.num AS BIGINT) AS med_num,
       CAST(r.den AS BIGINT) AS med_den,
       CAST(r.num AS DOUBLE) / CAST(r.den AS DOUBLE) AS slope_cents_per_day
FROM r CROSS JOIN m CROSS JOIN nd
WHERE r.cnt_less = (m.n_pairs + 1) // 2 - 1
"""


@workload("stats_theil_sen_slope", oracle=_TS_ORACLE)
def stats_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL-SEN robust slope of daily revenue over January 1995: the
    median of all pairwise slopes (v2-v1)/(d2-d1) — the estimator with a
    29% breakdown point that one outlier day cannot move (unlike the OLS
    slope of C38). The median is selected EXACTLY, with no floats: slopes
    compare as rationals by integer cross-multiplication (dens are
    positive day gaps), ties broken by (d1, d2), and the lower median is
    the pair whose strictly-less count equals (m+1)//2 - 1. The pair set
    is calendar-bounded (<= 31 daily rows -> <= 465 pairs at ANY scale
    factor), so the quadratic rank comparison is O(1) at 100 TB; only the
    daily SUM touches raw rows."""
    o = load_table(spark, sf_dir, "orders")
    day = F.to_date("o_orderdate")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    daily = (
        o.filter((day >= F.lit(_TS_START)) & (day < F.lit(_TS_END)))
        .groupBy(F.datediff(day, F.lit("1970-01-01")).alias("d"))
        .agg(F.sum(cents).cast("long").alias("v"))
    )
    a, b = daily.alias("a"), daily.alias("b")
    p = a.join(b, F.col("a.d") < F.col("b.d")).select(
        F.col("a.d").alias("d1"),
        F.col("b.d").alias("d2"),
        (F.col("b.v") - F.col("a.v")).alias("num"),
        (F.col("b.d") - F.col("a.d")).alias("den"),
    )
    m = p.agg(F.count(F.lit(1)).alias("n_pairs"))
    nd = daily.agg(F.count(F.lit(1)).alias("n_days"))
    lhs, rhs = p.alias("l"), p.alias("q")
    less = (F.col("q.num") * F.col("l.den") < F.col("l.num") * F.col("q.den")) | (
        (F.col("q.num") * F.col("l.den") == F.col("l.num") * F.col("q.den"))
        & (
            (F.col("q.d1") < F.col("l.d1"))
            | ((F.col("q.d1") == F.col("l.d1")) & (F.col("q.d2") < F.col("l.d2")))
        )
    )
    ranked = (
        lhs.join(rhs, less, "left")
        .groupBy(
            F.col("l.d1").alias("d1"),
            F.col("l.d2").alias("d2"),
            F.col("l.num").alias("num"),
            F.col("l.den").alias("den"),
        )
        .agg(F.count(F.col("q.d1")).alias("cnt_less"))
    )
    return (
        ranked.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(nd))
        .filter(F.col("cnt_less") == F.expr("(n_pairs + 1) div 2") - 1)
        .select(
            F.col("n_days").cast("long"),
            F.col("n_pairs").cast("long"),
            F.col("d1").cast("long").alias("med_d1"),
            F.col("d2").cast("long").alias("med_d2"),
            F.col("num").cast("long").alias("med_num"),
            F.col("den").cast("long").alias("med_den"),
            (F.col("num").cast("double") / F.col("den").cast("double")).alias(
                "slope_cents_per_day"
            ),
        )
    )


# --------------------------------------------------------------------------
# Bitmap-block exact distinct (roaring-bitmap shape, mergeable)
# --------------------------------------------------------------------------
_BM_ORACLE = """
WITH blocks AS (
  SELECT event_type,
         user_id // 62 AS blk,
         bit_or(CAST(1 AS BIGINT) << CAST(user_id % 62 AS INTEGER)) AS bits
  FROM events
  GROUP BY event_type, user_id // 62
),
agg AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_blocks,
         CAST(SUM(bit_count(bits)) AS BIGINT) AS distinct_bitmap
  FROM blocks GROUP BY event_type
),
exact AS (
  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
  FROM events GROUP BY event_type
)
SELECT a.event_type, a.n_blocks, a.distinct_bitmap,
       a.distinct_bitmap = e.exact_distinct AS matches_exact
FROM agg a JOIN exact e ON a.event_type = e.event_type
"""


@workload("sketch_bitmap_distinct", oracle=_BM_ORACLE)
def sketch_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct users per event type via mergeable BITMAP BLOCKS
    (the roaring-bitmap layout): each BIGINT block holds membership bits
    for 62 consecutive user ids (positions 0-61 — the sign bit and bit 62
    stay clear so shifted values never go negative on either engine), and
    bit_or is the commutative map-side-combinable merge. The shuffle
    carries |types| x ceil(|users|/62) block rows instead of raw
    (type, user) pairs — the exact-COUNT-DISTINCT shape that scales where
    HLL (C77/C130) trades exactness for even less state. The workload
    certifies the sketch against the engine's COUNT(DISTINCT) in the same
    row (matches_exact stated TRUE by both engines)."""
    e = load_table(spark, sf_dir, "events")
    blocks = e.groupBy(
        "event_type", F.expr("user_id div 62").alias("blk")
    ).agg(
        F.expr(
            "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(user_id % 62 AS INT)))"
        ).alias("bits")
    )
    agg = blocks.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.sum(F.bit_count("bits")).cast("long").alias("distinct_bitmap"),
    )
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_distinct")
    )
    return agg.join(exact, "event_type").select(
        "event_type",
        "n_blocks",
        "distinct_bitmap",
        (F.col("distinct_bitmap") == F.col("exact_distinct")).alias("matches_exact"),
    )


# --------------------------------------------------------------------------
# PMI collocations (pointwise mutual information over adjacent bigrams)
# --------------------------------------------------------------------------
_PMI_TOP_K = 25
_PMI_MIN_PAIR = 5

_PMI_SCORE = (
    "ln((CAST(n_pair AS DOUBLE) * CAST(n_uni AS DOUBLE) * CAST(n_uni AS DOUBLE))"
    " / (CAST(n_big AS DOUBLE) * CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE)))"
)

_PMI_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
  FROM documents
),
uni AS (
  SELECT unnest(t) AS w FROM toks
),
c_uni AS (SELECT w, COUNT(*) AS c FROM uni WHERE w != '' GROUP BY w),
n_uni AS (SELECT CAST(SUM(c) AS BIGINT) AS n_uni FROM c_uni),
bigrams AS (
  SELECT unnest(t[1:len(t) - 1]) AS w1, unnest(t[2:len(t)]) AS w2
  FROM toks
),
pair_counts AS (
  SELECT w1, w2, COUNT(*) AS n_pair FROM bigrams
  WHERE w1 != '' AND w2 != ''
  GROUP BY w1, w2
),
n_big AS (SELECT CAST(SUM(n_pair) AS BIGINT) AS n_big FROM pair_counts),
scored AS (
  SELECT w1, w2, n_pair,
         CAST(ROUND({_PMI_SCORE} * 1000000000.0, 0) AS BIGINT) AS pmi_scaled
  FROM (
    SELECT p.w1, p.w2, p.n_pair, u1.c AS c1, u2.c AS c2,
           n_uni.n_uni, n_big.n_big
    FROM pair_counts p
    JOIN c_uni u1 ON p.w1 = u1.w
    JOIN c_uni u2 ON p.w2 = u2.w
    CROSS JOIN n_uni CROSS JOIN n_big
    WHERE p.n_pair >= {_PMI_MIN_PAIR}
  )
),
ranked AS (
  SELECT w1, w2, n_pair, pmi_scaled,
         ROW_NUMBER() OVER (ORDER BY pmi_scaled DESC, w1 ASC, w2 ASC) AS rnk
  FROM scored
)
SELECT w1, w2, CAST(n_pair AS BIGINT) AS n_pair, pmi_scaled,
       CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= {_PMI_TOP_K}
"""


@workload("text_pmi_collocations", oracle=_PMI_ORACLE)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLLOCATION mining by pointwise mutual information: PMI(w1,w2) =
    ln(p(w1,w2) / (p(w1)p(w2))) over adjacent in-order bigrams — the
    classic phrase detector (Church & Hanks 1990; the word2vec phrase
    pass uses the same statistic). Counts are exact integers; the ln()
    score is pre-scaled to BIGINT (ROUND(.*1e9)) so the top-k ORDER is an
    exact integer sort no libm ulp can flip. Top-{k} via
    TakeOrderedAndProject + bounded k x k rank join (the C15 pattern —
    no global window over the vocabulary^2 pair table); unigram marginals
    join on the word key (vocabulary-sized, broadcast)."""
    from sample_data_pipeline_project_spark.functions.text import word_bigrams

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(tokens("text").alias("__t"))
    uni = (
        toks.select(F.explode("__t").alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_uni = uni.agg(F.sum("c").cast("long").alias("n_uni"))
    pair_counts = (
        toks.select(F.explode(word_bigrams("__t")).alias("b"))
        .select("b.w1", "b.w2")
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    n_big = pair_counts.agg(F.sum("n_pair").cast("long").alias("n_big"))
    scored = (
        pair_counts.filter(F.col("n_pair") >= _PMI_MIN_PAIR)
        .join(F.broadcast(uni.withColumnRenamed("w", "w1").withColumnRenamed("c", "c1")), "w1")
        .join(F.broadcast(uni.withColumnRenamed("w", "w2").withColumnRenamed("c", "c2")), "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_big))
        .select(
            "w1",
            "w2",
            "n_pair",
            F.round(F.expr(_PMI_SCORE) * 1000000000.0, 0)
            .cast("long")
            .alias("pmi_scaled"),
        )
    )
    top = scored.orderBy(
        F.col("pmi_scaled").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(_PMI_TOP_K)
    lhs, rhs = top.alias("l"), top.alias("r")
    ahead = (
        (F.col("r.pmi_scaled") > F.col("l.pmi_scaled"))
        | (
            (F.col("r.pmi_scaled") == F.col("l.pmi_scaled"))
            & (F.col("r.w1") < F.col("l.w1"))
        )
        | (
            (F.col("r.pmi_scaled") == F.col("l.pmi_scaled"))
            & (F.col("r.w1") == F.col("l.w1"))
            & (F.col("r.w2") < F.col("l.w2"))
        )
    )
    return (
        lhs.join(rhs, ahead, "left")
        .groupBy(
            F.col("l.w1").alias("w1"),
            F.col("l.w2").alias("w2"),
            F.col("l.n_pair").alias("n_pair"),
            F.col("l.pmi_scaled").alias("pmi_scaled"),
        )
        .agg((F.count(F.col("r.w1")) + 1).cast("long").alias("rnk"))
        .select(
            "w1", "w2", F.col("n_pair").cast("long"), "pmi_scaled", "rnk"
        )
    )


# --------------------------------------------------------------------------
# Correlated subqueries (decorrelation surface): EXISTS + 2 scalar subqueries
# --------------------------------------------------------------------------
_CORR_SQL = f"""
SELECT o.o_custkey AS custkey, COUNT(*) AS n_above_own_avg
FROM orders o
WHERE CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      * (SELECT COUNT(*) FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
      > (SELECT CAST(SUM(CAST(CAST(o3.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
         FROM orders o3 WHERE o3.o_custkey = o.o_custkey)
  AND EXISTS (SELECT 1 FROM customer c
              WHERE c.c_custkey = o.o_custkey AND c.c_mktsegment = 'BUILDING')
GROUP BY o.o_custkey
"""


@workload("subquery_correlated_exists", oracle=_CORR_SQL)
def subquery_correlated_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORRELATED-SUBQUERY surface: per BUILDING-segment customer, how
    many of their orders exceed their OWN average order value — written
    with two correlated scalar subqueries plus a correlated EXISTS, the
    exact SQL text DuckDB runs as the oracle. Catalyst DECORRELATES both:
    the scalar subqueries become a per-custkey aggregate joined back, the
    EXISTS becomes a left-semi join — no per-row re-execution anywhere in
    the physical plan (the optimizer rewrite is what this row certifies).
    "Above own average" is compared in exact integer cross-products
    (cents * count > sum_cents), so no AVG-typing difference between the
    engines can move a boundary row."""
    register_views(spark, sf_dir)
    return spark.sql(_CORR_SQL)


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
# Holt linear trend (double exponential smoothing) via portable left folds
# --------------------------------------------------------------------------
_HOLT_A = "CAST('0.5' AS DOUBLE)"   # level smoothing alpha
_HOLT_B = "CAST('0.3' AS DOUBLE)"   # trend smoothing beta
_HOLT_B1 = "CAST('0.7' AS DOUBLE)"  # 1 - beta

# NOTE: the oracle unrolls the fold as a RECURSIVE CTE rather than
# DuckDB's list_reduce: with a struct accumulator, DuckDB 1.0 evaluates
# struct_pack fields SEQUENTIALLY against the accumulator (the second
# field sees the first field's NEW value), which silently changes the
# recurrence — pinned by hand-fold comparison during development. The
# recursive form keeps both old (l, b) addressable, textually identical
# to the Spark lambda.
_HOLT_ORACLE = f"""
WITH RECURSIVE daily AS (
  SELECT o_orderpriority AS priority,
         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) // 7 AS d,
         CAST(SUM({_CENTS_O}) AS BIGINT) AS v
  FROM orders GROUP BY 1, 2
),
ord AS (
  SELECT priority, v,
         ROW_NUMBER() OVER (PARTITION BY priority ORDER BY d) AS t
  FROM daily
),
n AS (SELECT priority, COUNT(*) AS n_days FROM ord GROUP BY priority),
rec AS (
  SELECT priority, t, CAST(v AS DOUBLE) AS l, CAST('0.0' AS DOUBLE) AS b
  FROM ord WHERE t = 1
  UNION ALL
  SELECT o.priority, o.t,
         {_HOLT_A} * CAST(o.v AS DOUBLE) + {_HOLT_A} * (r.l + r.b),
         {_HOLT_B} * (({_HOLT_A} * CAST(o.v AS DOUBLE)
                       + {_HOLT_A} * (r.l + r.b)) - r.l) + {_HOLT_B1} * r.b
  FROM rec r JOIN ord o ON o.priority = r.priority AND o.t = r.t + 1
)
SELECT r.priority, CAST(n.n_days AS BIGINT) AS n_weeks,
       r.l AS level, r.b AS trend, r.l + r.b AS forecast_next
FROM rec r JOIN n ON n.priority = r.priority AND r.t = n.n_days
"""

_HOLT_STEP_SPARK = (
    f"(acc, e) -> named_struct("
    f"'a', {_HOLT_A} * e.a + {_HOLT_A} * (acc.a + acc.b), "
    f"'b', {_HOLT_B} * (({_HOLT_A} * e.a + {_HOLT_A} * (acc.a + acc.b)) - acc.a)"
    f" + {_HOLT_B1} * acc.b)"
)


@workload("timeseries_holt_linear", oracle=_HOLT_ORACLE)
def timeseries_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOLT LINEAR TREND (double exponential smoothing) of weekly revenue
    per order priority: level and trend carried through the recurrence
    l_t = a*y_t + (1-a)*(l+b), b_t = beta*(l_t - l) + (1-beta)*b with
    l_1 = y_1, b_1 = 0 — the one-step-ahead forecaster whose recursion
    LOOKS inherently sequential. It runs as a per-group LEFT FOLD over
    the calendar-bounded weekly aggregate (array fold via the `aggregate`
    higher-order function; DuckDB's list_reduce folds the identical
    step), with every float constant riding as CAST('repr' AS DOUBLE)
    and the step expression textually identical on both engines — so
    level/trend/forecast are bit-identical doubles, hashed raw with no
    rounding guard. Scale shape: raw rows collapse to (priority, epoch-week)
    keyed sums first; only the bounded weekly series is collected into an
    array, per group, map-side."""
    o = load_table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    day = F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01"))
    daily = (
        o.groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.expr("datediff(to_date(o_orderdate), DATE'1970-01-01') div 7").alias("d"),
        )
        .agg(F.sum(cents).cast("long").alias("v"))
    )
    ser = daily.groupBy("priority").agg(
        F.count(F.lit(1)).cast("long").alias("n_weeks"),
        F.expr(
            "transform(array_sort(collect_list(struct(d, CAST(v AS DOUBLE) AS y))),"
            " x -> named_struct('a', x.y, 'b', CAST('0.0' AS DOUBLE)))"
        ).alias("ys"),
    )
    return ser.select(
        "priority",
        "n_weeks",
        F.expr(
            "aggregate("
            " slice(ys, 2, greatest(size(ys) - 1, 0)),"
            " named_struct('a', element_at(ys, 1).a, 'b', CAST('0.0' AS DOUBLE)),"
            f" {_HOLT_STEP_SPARK})"
        ).alias("st"),
    ).select(
        "priority",
        "n_weeks",
        F.col("st.a").alias("level"),
        F.col("st.b").alias("trend"),
        (F.col("st.a") + F.col("st.b")).alias("forecast_next"),
    )


# --------------------------------------------------------------------------
# NULL-semantics aggregate surface (COUNT/SUM/MIN over NULL-bearing groups)
# --------------------------------------------------------------------------
_NULLS_ORACLE = f"""
WITH t AS (
  SELECT l_returnflag AS flag,
         CASE WHEN l_quantity < 10 THEN 'low' ELSE 'high' END AS band,
         CASE WHEN l_quantity < 10 THEN NULL
              ELSE CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
         END AS maybe_cents
  FROM lineitem
)
SELECT flag, band,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(maybe_cents) AS BIGINT) AS n_nonnull,
       CAST(COUNT(DISTINCT maybe_cents) AS BIGINT) AS n_distinct,
       CAST(COALESCE(SUM(maybe_cents), -1) AS BIGINT) AS sum_or_sentinel,
       SUM(maybe_cents) IS NULL AS sum_is_null,
       CAST(COALESCE(MIN(maybe_cents), -1) AS BIGINT) AS min_or_sentinel
FROM t GROUP BY flag, band
"""


@workload("agg_null_semantics", oracle=_NULLS_ORACLE)
def agg_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-SEMANTICS certification for the aggregate surface: groups are
    engineered so some are entirely NULL on the measure ('low' quantity
    band), pinning the ANSI contracts cross-engine — COUNT(*) counts
    rows, COUNT(col) skips NULLs, COUNT(DISTINCT) ignores NULLs entirely,
    and SUM/MIN over an all-NULL group return NULL (surfaced both as an
    explicit boolean and through a COALESCE sentinel). These are the
    boundary rules every downstream aggregate in the engine silently
    relies on; one conditional projection + one keyed aggregate, nothing
    non-scalable."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
    t = li.select(
        F.col("l_returnflag").alias("flag"),
        F.when(F.col("l_quantity") < 10, "low").otherwise("high").alias("band"),
        F.when(F.col("l_quantity") < 10, F.lit(None).cast("long"))
        .otherwise(cents)
        .alias("maybe_cents"),
    )
    return t.groupBy("flag", "band").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count("maybe_cents").cast("long").alias("n_nonnull"),
        F.countDistinct("maybe_cents").cast("long").alias("n_distinct"),
        F.coalesce(F.sum("maybe_cents"), F.lit(-1)).cast("long").alias("sum_or_sentinel"),
        F.sum("maybe_cents").isNull().alias("sum_is_null"),
        F.coalesce(F.min("maybe_cents"), F.lit(-1)).cast("long").alias("min_or_sentinel"),
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
    v = spark_df
    term = F.round(
        F.col("g").cast("double")
        / F.col("n").cast("double")
        / float(_PCA_Q)
        / float(_PCA_Q)
        * F.col("v").cast("double"),
        0,
    ).cast("long")
    for _ in range(_PCA_ITERS):
        w = (
            sym.join(v, sym["i"] == v["k"])
            .crossJoin(F.broadcast(n))
            .groupBy(sym["j"].alias("k2"))
            .agg(F.sum(term).cast("long").alias("w"))
        )
        mx = w.agg(F.max(F.abs(F.col("w"))).alias("mx"))
        v = materialize(
            w.crossJoin(F.broadcast(mx))
            .select(
                F.col("k2").alias("k"),
                F.round(
                    F.col("w").cast("double") / F.col("mx").cast("double")
                    * float(_PCA_VSCALE),
                    0,
                )
                .cast("long")
                .alias("v"),
            ),
            "checkpoint",
        )
    return v.select(
        F.col("k").cast("long").alias("dim"), F.col("v").cast("long").alias("v_scaled")
    )


# --------------------------------------------------------------------------
# Markov stationary distribution (power iteration on the transition matrix)
# --------------------------------------------------------------------------
_MKV_ITERS = 3
_MKV_SCALE = 1_000_000

_MKV_TERM = (
    "CAST(ROUND(CAST(p AS DOUBLE) * CAST(c AS DOUBLE) / CAST(r AS DOUBLE), 0)"
    " AS BIGINT)"
)


def _mkv_oracle() -> str:
    iters = []
    prev = "p0"
    for t in range(1, _MKV_ITERS + 1):
        iters.append(f""",
w{t} AS (
  SELECT cells.nxt AS typ, CAST(SUM({_MKV_TERM}) AS BIGINT) AS w
  FROM cells JOIN {prev} ON cells.prv = {prev}.typ
  JOIN rows_ ON cells.prv = rows_.prv
  GROUP BY cells.nxt
),
sw{t} AS (SELECT SUM(w) AS sw FROM w{t}),
p{t} AS (
  SELECT typ, CAST(ROUND(CAST(w AS DOUBLE) / CAST(sw AS DOUBLE)
                         * {_MKV_SCALE}.0, 0) AS BIGINT) AS p
  FROM w{t} CROSS JOIN sw{t}
)""")
        prev = f"p{t}"
    return f"""
WITH seq AS (
  SELECT user_id, event_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events
),
cells AS (
  SELECT event_type AS prv, next_type AS nxt, CAST(COUNT(*) AS BIGINT) AS c
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY event_type, next_type
),
rows_ AS (SELECT prv, CAST(SUM(c) AS BIGINT) AS r FROM cells GROUP BY prv),
p0 AS (
  SELECT prv AS typ, CAST({_MKV_SCALE} AS BIGINT) AS p FROM rows_
){"".join(iters)}
SELECT typ AS event_type, CAST(p AS BIGINT) AS p_scaled
FROM {prev}
"""


@workload("events_markov_stationary", oracle=_mkv_oracle())
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATIONARY DISTRIBUTION of the event-type Markov chain (the
    long-run visit share the C3 transition matrix implies): {k} fixed
    power iterations p <- pP with every term pre-scaled to an exact
    BIGINT (p_i * c_ij / r_i ROUNDed) and a ROUND sum-normalize back to
    the 1e6 grid — integer state end to end, oracle unrolls identical
    iterations (the PCA/HITS fixed-point family, applied to the
    row-stochastic matrix). The only unbounded stage is the LEAD-window
    transition count, user-partitioned; the iteration runs on the
    |types|^2-cell table."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("prv"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    cells = seq.groupBy("prv", "nxt").agg(F.count(F.lit(1)).alias("c"))
    cells = materialize(cells, "checkpoint")
    rows_ = cells.groupBy("prv").agg(F.sum("c").alias("r"))
    p = rows_.select(F.col("prv").alias("typ"), F.lit(_MKV_SCALE).cast("long").alias("p"))
    term = F.round(
        F.col("p").cast("double") * F.col("c").cast("double")
        / F.col("r").cast("double"),
        0,
    ).cast("long")
    for _ in range(_MKV_ITERS):
        wdf = (
            cells.join(p, cells["prv"] == p["typ"])
            .join(rows_.withColumnRenamed("prv", "rprv"), cells["prv"] == F.col("rprv"))
            .groupBy(cells["nxt"].alias("typ2"))
            .agg(F.sum(term).cast("long").alias("w"))
        )
        sw = wdf.agg(F.sum("w").alias("sw"))
        p = materialize(
            wdf.crossJoin(F.broadcast(sw))
            .select(
                F.col("typ2").alias("typ"),
                F.round(
                    F.col("w").cast("double") / F.col("sw").cast("double")
                    * float(_MKV_SCALE),
                    0,
                )
                .cast("long")
                .alias("p"),
            ),
            "checkpoint",
        )
    return p.select(F.col("typ").alias("event_type"), F.col("p").cast("long").alias("p_scaled"))


# --------------------------------------------------------------------------
# Centered rolling mean (ROWS BETWEEN n PRECEDING AND n FOLLOWING)
# --------------------------------------------------------------------------
_CRM_HALF = 3

_CRM_ORACLE = f"""
WITH daily AS (
  SELECT o_orderpriority AS priority,
         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS d,
         CAST(SUM({_CENTS_O}) AS BIGINT) AS v
  FROM orders GROUP BY 1, 2
)
SELECT priority, CAST(d AS BIGINT) AS d,
       CAST(SUM(v) OVER w AS BIGINT) AS win_sum,
       CAST(COUNT(*) OVER w AS BIGINT) AS win_n,
       CAST(SUM(v) OVER w AS DOUBLE) / CAST(COUNT(*) OVER w AS DOUBLE)
         AS centered_mean
FROM daily
WINDOW w AS (PARTITION BY priority ORDER BY d
             ROWS BETWEEN {_CRM_HALF} PRECEDING AND {_CRM_HALF} FOLLOWING)
"""


@workload("window_centered_rolling_mean", oracle=_CRM_ORACLE)
def window_centered_rolling_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CENTERED rolling mean — the symmetric ROWS BETWEEN n PRECEDING AND
    n FOLLOWING frame (the smoother that needs FUTURE rows, which the
    trailing-frame workloads C118/C13 never exercise): +-{h}-row window
    over per-priority daily revenue, edges naturally narrower (no
    padding). Sum and count ride as exact integers with ONE final
    division. The window is priority-partitioned over the
    calendar-bounded daily aggregate — never raw rows, never a global
    sort."""
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    daily = (
        o.groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")).alias("d"),
        )
        .agg(F.sum(cents).cast("long").alias("v"))
    )
    w = (
        Window.partitionBy("priority")
        .orderBy("d")
        .rowsBetween(-_CRM_HALF, _CRM_HALF)
    )
    return daily.select(
        "priority",
        F.col("d").cast("long"),
        F.sum("v").over(w).cast("long").alias("win_sum"),
        F.count(F.lit(1)).over(w).cast("long").alias("win_n"),
        (
            F.sum("v").over(w).cast("double")
            / F.count(F.lit(1)).over(w).cast("double")
        ).alias("centered_mean"),
    )
