"""Round-3 statistics + graph-traversal workloads: autocorrelation of the
daily revenue series, a Welch two-sample t-test, multi-source BFS hop
counts, item-item co-purchase cosine, and local clustering coefficients.

Determinism notes (the repo-wide cross-engine hash contract):
  - All sufficient statistics are EXACT integers. Money is floor-dollars
    (cents DIV 100) where squared sums would overflow int64 in cents
    (daily-revenue squares reach ~6e21 in cents^2 at sf0.1 — dollars^2
    keeps 5 decimal orders of headroom through sf10); per-value floor
    division is exact integer arithmetic on both engines.
  - Correlations / t-statistics combine the exact integer sums as doubles
    in the identical textual order on both sides, so every intermediate
    IEEE value is bit-identical (the OLS/corr pattern); SQRT is correctly
    rounded per IEEE-754 on both engines, so no ROUND() guard is needed.
  - BFS hop counts and co-purchase counts are pure integers end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sample_data_pipeline_project_spark.functions.vectors import duck_cosine
from sample_data_pipeline_project_spark.operators.graph import (
    bfs_hops,
    triangle_counts,
)
from sample_data_pipeline_project_spark.operators.materialize import materialize
from sample_data_pipeline_project_spark.operators.similarity import (
    neardup_cosine_pairs_blocked,
)
from sample_data_pipeline_project_spark.sources.catalog import load_table
from sample_data_pipeline_project_spark.workloads import workload

_DOLLARS = "CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 100 AS BIGINT)"

# --------------------------------------------------------------------------
# Autocorrelation function (ACF) of the daily-revenue series, lags 1..7
# --------------------------------------------------------------------------
_ACF_MAX_LAG = 7

_ACF_ORACLE = f"""
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS d,
         SUM({_DOLLARS}) AS y
  FROM orders GROUP BY 1
),
lags AS (SELECT unnest(range(1, {_ACF_MAX_LAG + 1})) AS lag),
pairs AS (
  SELECT l.lag, a.y AS x, b.y AS y
  FROM daily a
  JOIN lags l ON TRUE
  JOIN daily b ON b.d = a.d + l.lag
),
s AS (
  SELECT lag, COUNT(*) AS n,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
  FROM pairs GROUP BY lag
)
SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       / SQRT(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       / SQRT(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) AS acf
FROM s
"""


@workload("timeseries_acf_daily_revenue", oracle=_ACF_ORACLE)
def timeseries_acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUTOCORRELATION of the daily-revenue series at lags 1..7 — the
    seasonality detector behind the weekday forecast (C50): a weekly cycle
    shows up as an acf peak at lag 7. NO window functions: the lagged
    pairing is an equi-join of the daily aggregate against itself on
    d = d + lag (7-way lag fan-out is map-side over the calendar-bounded
    daily table), and the per-lag Pearson correlation is one keyed
    aggregate of six exact integer sufficient statistics in floor-dollars
    (dollars^2 sums stay ~5 orders under int64 through sf10). Daily table
    is broadcast on the probe side — zero shuffle beyond the first
    day-keyed aggregate."""
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
            )
            .cast("long")
            .alias("d"),
            ((F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long") / 100)
            .cast("long")
            .alias("dollars"),
        )
        .groupBy("d")
        .agg(F.sum("dollars").alias("y"))
    )
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(F.col("id").alias("lag"))
    a = daily.alias("a").crossJoin(F.broadcast(lags))
    b = F.broadcast(daily.alias("b"))
    pairs = a.join(
        b, F.col("b.d") == F.col("a.d") + F.col("lag")
    ).select("lag", F.col("a.y").alias("x"), F.col("b.y").alias("y"))
    s = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    acf = (
        (
            F.col("n").cast("double") * F.col("sxy").cast("double")
            - F.col("sx").cast("double") * F.col("sy").cast("double")
        )
        / F.sqrt(
            F.col("n").cast("double") * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double")
        )
        / F.sqrt(
            F.col("n").cast("double") * F.col("syy").cast("double")
            - F.col("sy").cast("double") * F.col("sy").cast("double")
        )
    )
    return s.select(
        F.col("lag").cast("long"),
        F.col("n").cast("long"),
        acf.alias("acf"),
    )


# --------------------------------------------------------------------------
# Welch two-sample t-test: order value, BUILDING vs MACHINERY customers
# --------------------------------------------------------------------------
_TT_SEG_A = "BUILDING"
_TT_SEG_B = "MACHINERY"

# Sample variance from exact sums: var = (n*sxx - sx*sx) / (n*(n-1)),
# written once here and reused verbatim on both engines.
_TT_ORACLE = f"""
WITH pts AS (
  SELECT c.c_mktsegment AS segment, {_DOLLARS} AS y
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_mktsegment IN ('{_TT_SEG_A}', '{_TT_SEG_B}')
),
s AS (
  SELECT segment, COUNT(*) AS n, SUM(y) AS sx, SUM(y * y) AS sxx
  FROM pts GROUP BY segment
),
m AS (
  SELECT segment, n, sx, sxx,
         CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
         (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS var
  FROM s
),
w AS (
  SELECT a.n AS n_a, b.n AS n_b, a.mean AS mean_a, b.mean AS mean_b,
         a.var / CAST(a.n AS DOUBLE) AS se2_a,
         b.var / CAST(b.n AS DOUBLE) AS se2_b
  FROM m a JOIN m b ON a.segment = '{_TT_SEG_A}' AND b.segment = '{_TT_SEG_B}'
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       mean_a, mean_b,
       (mean_a - mean_b) / SQRT(se2_a + se2_b) AS t_stat,
       ((se2_a + se2_b) * (se2_a + se2_b))
       / (se2_a * se2_a / CAST(n_a - 1 AS DOUBLE)
          + se2_b * se2_b / CAST(n_b - 1 AS DOUBLE)) AS welch_df
FROM w
"""


@workload("stats_welch_ttest_segments", oracle=_TT_ORACLE)
def stats_welch_ttest_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WELCH two-sample t-test (unequal variances) on order value between
    two customer segments — the A/B-significance primitive. One keyed
    aggregate builds both samples' exact integer sufficient statistics
    (n, Sx, Sxx in floor-dollars); the t statistic and Welch-Satterthwaite
    degrees of freedom are driver-free float expressions over the 2-row
    aggregate, written in identical textual order on both engines. Scale
    shape: a broadcast dim join + one map-side-combinable groupBy; output
    is one row at any data size."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_mktsegment").alias("segment"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        ((F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long") / 100)
        .cast("long")
        .alias("y"),
    )
    s = (
        o.join(F.broadcast(c), "o_custkey")
        .filter(F.col("segment").isin(_TT_SEG_A, _TT_SEG_B))
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").alias("sx"),
            F.sum(F.col("y") * F.col("y")).alias("sxx"),
        )
    )
    mean = F.col("sx").cast("double") / F.col("n").cast("double")
    var = (
        F.col("n").cast("double") * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    ) / (F.col("n").cast("double") * (F.col("n") - 1).cast("double"))
    m = s.select(
        "segment", "n", mean.alias("mean"), (var / F.col("n").cast("double")).alias("se2")
    )
    a = m.filter(F.col("segment") == _TT_SEG_A).alias("a")
    b = m.filter(F.col("segment") == _TT_SEG_B).alias("b")
    w = a.crossJoin(F.broadcast(b)).select(
        F.col("a.n").alias("n_a"),
        F.col("b.n").alias("n_b"),
        F.col("a.mean").alias("mean_a"),
        F.col("b.mean").alias("mean_b"),
        F.col("a.se2").alias("se2_a"),
        F.col("b.se2").alias("se2_b"),
    )
    t_stat = (F.col("mean_a") - F.col("mean_b")) / F.sqrt(
        F.col("se2_a") + F.col("se2_b")
    )
    welch_df = (
        (F.col("se2_a") + F.col("se2_b")) * (F.col("se2_a") + F.col("se2_b"))
    ) / (
        F.col("se2_a") * F.col("se2_a") / (F.col("n_a") - 1).cast("double")
        + F.col("se2_b") * F.col("se2_b") / (F.col("n_b") - 1).cast("double")
    )
    return w.select(
        F.col("n_a").cast("long"),
        F.col("n_b").cast("long"),
        "mean_a",
        "mean_b",
        t_stat.alias("t_stat"),
        welch_df.alias("welch_df"),
    )


# --------------------------------------------------------------------------
# Multi-source BFS hop counts over the cosine near-dup graph
# --------------------------------------------------------------------------
_BFS_THRESHOLD = 0.3
_BFS_ROUNDS = 4
_BFS_SEED_MOD = 50

_BFS_SYM = f"""
p AS (
  SELECT a.vec_id AS a, b.vec_id AS b
  FROM embeddings a
  JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE {duck_cosine('a.embedding', 'b.embedding')} >= {_BFS_THRESHOLD}
),
sym AS (
  SELECT a AS src, b AS dst FROM p
  UNION ALL SELECT b, a FROM p
),
d0 AS (
  SELECT vec_id AS vertex, CAST(0 AS BIGINT) AS hops
  FROM embeddings WHERE vec_id % {_BFS_SEED_MOD} = 0
)
"""

_BFS_ROUND_TMPL = """
d{i} AS (
  SELECT vertex, MIN(hops) AS hops FROM (
    SELECT vertex, hops FROM d{j}
    UNION ALL
    SELECT s.dst AS vertex, d{j}.hops + 1 AS hops
    FROM d{j} JOIN sym s ON s.src = d{j}.vertex
  ) GROUP BY vertex
)
"""

_BFS_ORACLE = (
    "WITH "
    + _BFS_SYM
    + ","
    + ",".join(
        _BFS_ROUND_TMPL.format(i=i, j=i - 1) for i in range(1, _BFS_ROUNDS + 1)
    )
    + f"\nSELECT vertex, CAST(hops AS BIGINT) AS hops FROM d{_BFS_ROUNDS}"
)


@workload("graph_bfs_contamination_hops", oracle=_BFS_ORACLE)
def graph_bfs_contamination_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the cosine near-dup graph: exact minimum hop
    counts from a deterministic seed set (vec_id % {mod} == 0) within
    {rounds} relaxation rounds — the contamination-blast-radius question
    ("how many near-dup links from a known-bad document is each doc").
    Candidate edges come from the blocked-matmul near-dup operator
    (linear shuffle volume); each BFS round is one edge-sized equi-join +
    keyed MIN with lineage truncation (operators/graph.py:bfs_hops). The
    oracle unrolls the identical rounds over the exact quadratic pair
    set."""
    emb = load_table(spark, sf_dir, "embeddings")
    edges = neardup_cosine_pairs_blocked(emb, _BFS_THRESHOLD).select("a", "b")
    seeds = emb.filter(F.col("vec_id") % _BFS_SEED_MOD == 0).select(
        F.col("vec_id").alias("vertex")
    )
    return bfs_hops(edges, seeds, _BFS_ROUNDS).select(
        F.col("vertex").cast("long"), F.col("hops").cast("long")
    )


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
# Local clustering coefficient over the cosine near-dup graph
# --------------------------------------------------------------------------
_LCC_THRESHOLD = 0.3

_LCC_ORACLE = f"""
WITH p AS (
  SELECT a.vec_id AS a, b.vec_id AS b
  FROM embeddings a
  JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE {duck_cosine('a.embedding', 'b.embedding')} >= {_LCC_THRESHOLD}
),
deg AS (
  SELECT vertex, COUNT(*) AS degree FROM (
    SELECT a AS vertex FROM p UNION ALL SELECT b FROM p
  ) GROUP BY vertex
),
tri AS (
  SELECT p1.a AS x, p1.b AS y, p2.b AS z
  FROM p p1
  JOIN p p2 ON p1.b = p2.a
  JOIN p p3 ON p3.a = p1.a AND p3.b = p2.b
),
tcnt AS (
  SELECT vertex, COUNT(*) AS n_triangles FROM (
    SELECT x AS vertex FROM tri
    UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri
  ) GROUP BY vertex
)
SELECT d.vertex, CAST(d.degree AS BIGINT) AS degree,
       CAST(COALESCE(t.n_triangles, 0) AS BIGINT) AS n_triangles,
       CAST(2 * COALESCE(t.n_triangles, 0) AS DOUBLE)
       / (CAST(d.degree AS DOUBLE) * CAST(d.degree - 1 AS DOUBLE)) AS lcc
FROM deg d LEFT JOIN tcnt t ON d.vertex = t.vertex
WHERE d.degree >= 2
"""


@workload("graph_clustering_coefficient", oracle=_LCC_ORACLE)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCAL CLUSTERING COEFFICIENT per vertex of the cosine near-dup
    graph: lcc = 2*T / (d*(d-1)) over degree->=2 vertices — the
    clique-vs-star discriminator that decides whether a near-dup cluster
    is safe to collapse (lcc ~ 1) or a hub of weak false positives
    (lcc ~ 0). Reuses the skew-bounded oriented triangle counter
    (operators/graph.py); degrees and triangle counts join on the
    vertex-sized tables, and the ratio is exact ints under one final
    division."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = materialize(
        neardup_cosine_pairs_blocked(emb, _LCC_THRESHOLD)
        .select(
            F.least(F.col("a"), F.col("b")).alias("a"),
            F.greatest(F.col("a"), F.col("b")).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct(),
        "checkpoint",
    )
    deg = (
        e.select(F.col("a").alias("vertex"))
        .unionByName(e.select(F.col("b").alias("vertex")))
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    tri = triangle_counts(e)
    lcc = (2 * F.col("n_triangles")).cast("double") / (
        F.col("degree").cast("double") * (F.col("degree") - 1).cast("double")
    )
    return (
        deg.join(tri, "vertex", "left")
        .withColumn("n_triangles", F.coalesce(F.col("n_triangles"), F.lit(0)))
        .filter(F.col("degree") >= 2)
        .select(
            F.col("vertex").cast("long"),
            F.col("degree").cast("long"),
            F.col("n_triangles").cast("long"),
            lcc.alias("lcc"),
        )
    )


# --------------------------------------------------------------------------
# Weekly spectrum: DFT power of the daily-revenue series at fixed periods
# --------------------------------------------------------------------------
import math as _math

_SPECTRUM_PERIODS = (7, 5)
_SPECTRUM_SCALE = 1_000_000  # micro-dollar projection grid

# (period, residue) -> cos/sin of 2*pi*k/p as shortest-round-trip literals.
# The literals ride as CAST('...' AS DOUBLE): string->double parses are
# correctly rounded (identical) on both engines, whereas a BARE decimal
# literal like -0.9009688679024191 is parsed by DuckDB as DECIMAL(17,16)
# and its decimal->double conversion can land 1 ulp off the string parse —
# which moved a ROUND(x, 0) across an exact .5 boundary in testing.
_SPECTRUM_CONSTS = [
    (p, k, repr(_math.cos(2 * _math.pi * k / p)), repr(_math.sin(2 * _math.pi * k / p)))
    for p in _SPECTRUM_PERIODS
    for k in range(p)
]

_SPECTRUM_VALUES = ",\n         ".join(
    f"({p}, {k}, CAST('{c}' AS DOUBLE), CAST('{s}' AS DOUBLE))"
    for p, k, c, s in _SPECTRUM_CONSTS
)

_SPECTRUM_ORACLE = f"""
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS d,
         SUM({_DOLLARS}) AS y
  FROM orders GROUP BY 1
),
consts(period, k, c, s) AS (
  VALUES {_SPECTRUM_VALUES}
),
res AS (
  SELECT cn.period, cn.k, cn.c, cn.s, SUM(dy.y) AS sk
  FROM daily dy
  JOIN consts cn ON dy.d % cn.period = cn.k
  GROUP BY cn.period, cn.k, cn.c, cn.s
),
proj AS (
  SELECT period,
         SUM(CAST(ROUND(CAST(sk AS DOUBLE) * c * {_SPECTRUM_SCALE}.0, 0)
             AS BIGINT)) AS sc,
         SUM(CAST(ROUND(CAST(sk AS DOUBLE) * s * {_SPECTRUM_SCALE}.0, 0)
             AS BIGINT)) AS ss,
         COUNT(*) AS n_residues
  FROM res GROUP BY period
)
SELECT CAST(period AS BIGINT) AS period,
       CAST(n_residues AS BIGINT) AS n_residues,
       (CAST(sc AS DOUBLE) / {_SPECTRUM_SCALE}.0)
       * (CAST(sc AS DOUBLE) / {_SPECTRUM_SCALE}.0)
       + (CAST(ss AS DOUBLE) / {_SPECTRUM_SCALE}.0)
       * (CAST(ss AS DOUBLE) / {_SPECTRUM_SCALE}.0) AS power
FROM proj
"""


@workload("timeseries_weekly_spectrum", oracle=_SPECTRUM_ORACLE)
def timeseries_weekly_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERIODICITY detection by direct DFT projection: the daily-revenue
    series' spectral power at the weekly frequency (period 7) vs a
    non-calendar control period (5) — the frequency-domain twin of the
    lag-7 ACF peak (C84). Exact shape: residue sums S_k = SUM(y | d%p = k)
    collapse the series to p integers per period BEFORE any float math
    (map-side-combinable, calendar-length-independent state), then the
    cos/sin projections use repr(float) literal constants and the
    scaled-integer term sum (micro-dollar grid), so the p-term reductions
    are exact int64 sums. All joins broadcast (constants are 12 rows)."""
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
            )
            .cast("long")
            .alias("d"),
            ((F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long") / 100)
            .cast("long")
            .alias("dollars"),
        )
        .groupBy("d")
        .agg(F.sum("dollars").alias("y"))
    )
    consts = spark.createDataFrame(
        [(p, k, float(c), float(s)) for p, k, c, s in _SPECTRUM_CONSTS],
        "period long, k long, c double, s double",
    )
    res = (
        daily.crossJoin(F.broadcast(consts))
        .filter(F.pmod(F.col("d"), F.col("period")) == F.col("k"))
        .groupBy("period", "k", "c", "s")
        .agg(F.sum("y").alias("sk"))
    )
    proj = res.groupBy("period").agg(
        F.sum(
            F.round(F.col("sk").cast("double") * F.col("c") * _SPECTRUM_SCALE, 0)
            .cast("long")
        ).alias("sc"),
        F.sum(
            F.round(F.col("sk").cast("double") * F.col("s") * _SPECTRUM_SCALE, 0)
            .cast("long")
        ).alias("ss"),
        F.count(F.lit(1)).alias("n_residues"),
    )
    power = (F.col("sc").cast("double") / _SPECTRUM_SCALE) * (
        F.col("sc").cast("double") / _SPECTRUM_SCALE
    ) + (F.col("ss").cast("double") / _SPECTRUM_SCALE) * (
        F.col("ss").cast("double") / _SPECTRUM_SCALE
    )
    return proj.select(
        F.col("period").cast("long"),
        F.col("n_residues").cast("long"),
        power.alias("power"),
    )


# --------------------------------------------------------------------------
# Cross-correlation (lead-lag) between view and click daily volumes
# --------------------------------------------------------------------------
_CCF_MAX_LAG = 3
_CCF_X = "view"
_CCF_Y = "click"

_CCF_ORACLE = f"""
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
         COUNT(*) AS cnt
  FROM events
  WHERE event_type IN ('{_CCF_X}', '{_CCF_Y}')
  GROUP BY event_type, 2
),
lags AS (SELECT unnest(range(-{_CCF_MAX_LAG}, {_CCF_MAX_LAG + 1})) AS lag),
pairs AS (
  SELECT l.lag, a.cnt AS x, b.cnt AS y
  FROM daily a
  JOIN lags l ON TRUE
  JOIN daily b ON b.d = a.d + l.lag
  WHERE a.event_type = '{_CCF_X}' AND b.event_type = '{_CCF_Y}'
),
s AS (
  SELECT lag, COUNT(*) AS n,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
  FROM pairs GROUP BY lag
)
SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       / NULLIF(SQRT(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * SQRT(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)), 0.0) AS ccf
FROM s
"""


@workload("timeseries_ccf_view_click", oracle=_CCF_ORACLE)
def timeseries_ccf_view_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-CORRELATION lead-lag analysis between daily view volume and
    daily click volume at lags -3..+3 — "does one metric lead the other"
    (positive-lag peak = views lead clicks). Same scale shape as the ACF
    (C84): per-type daily aggregate, 7-way lag fan-out by equi-join (no
    windows), per-lag Pearson from six exact int64 sufficient statistics,
    identical-textual-order float finish."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type").isin(_CCF_X, _CCF_Y))
        .select(
            "event_type",
            F.datediff(
                F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
            )
            .cast("long")
            .alias("d"),
        )
        .groupBy("event_type", "d")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    lags = spark.range(-_CCF_MAX_LAG, _CCF_MAX_LAG + 1).select(
        F.col("id").alias("lag")
    )
    a = daily.filter(F.col("event_type") == _CCF_X).alias("a")
    b = daily.filter(F.col("event_type") == _CCF_Y).alias("b")
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(
            F.broadcast(b),
            F.col("b.d") == F.col("a.d") + F.col("lag"),
        )
        .select("lag", F.col("a.cnt").alias("x"), F.col("b.cnt").alias("y"))
    )
    s = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    ccf = (
        F.col("n").cast("double") * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / F.nullif(
        F.sqrt(
            F.col("n").cast("double") * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double")
        )
        * F.sqrt(
            F.col("n").cast("double") * F.col("syy").cast("double")
            - F.col("sy").cast("double") * F.col("sy").cast("double")
        ),
        F.lit(0.0),
    )
    return s.select(
        F.col("lag").cast("long"),
        F.col("n").cast("long"),
        ccf.alias("ccf"),
    )


# --------------------------------------------------------------------------
# Maximum drawdown of cumulative revenue per priority class
# --------------------------------------------------------------------------
_DRAWDOWN_ORACLE = f"""
WITH daily AS (
  SELECT o_orderpriority AS priority,
         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS d,
         SUM({_DOLLARS}) AS y
  FROM orders GROUP BY 1, 2
),
cum AS (
  SELECT priority, d,
         SUM(y) OVER (PARTITION BY priority ORDER BY d
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS c
  FROM daily
),
dd AS (
  SELECT priority, d,
         MAX(c) OVER (PARTITION BY priority ORDER BY d
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c
           AS drawdown
  FROM cum
),
best AS (
  SELECT priority, MAX(drawdown) AS max_drawdown FROM dd GROUP BY priority
)
SELECT b.priority, CAST(b.max_drawdown AS BIGINT) AS max_drawdown,
       CAST(MIN(d.d) AS BIGINT) AS first_day_at_max
FROM best b JOIN dd d
  ON d.priority = b.priority AND d.drawdown = b.max_drawdown
GROUP BY b.priority, b.max_drawdown
"""


@workload("timeseries_max_drawdown", oracle=_DRAWDOWN_ORACLE)
def timeseries_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAXIMUM DRAWDOWN of the cumulative daily-revenue curve per order
    priority — the running-peak-to-trough metric (largest slump below the
    best day so far). Pure integer arithmetic end-to-end in floor-dollars:
    running SUM then running MAX ride priority-partitioned windows over
    the CALENDAR-BOUNDED daily aggregate (the C49 CUSUM shape — windows
    never touch raw order rows), and the argmax day is made deterministic
    by taking the EARLIEST day attaining the max (MIN-day join, no rank
    window)."""
    from pyspark.sql.window import Window as W

    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.col("o_orderpriority").alias("priority"),
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
            )
            .cast("long")
            .alias("d"),
            ((F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long") / 100)
            .cast("long")
            .alias("dollars"),
        )
        .groupBy("priority", "d")
        .agg(F.sum("dollars").alias("y"))
    )
    w = (
        W.partitionBy("priority")
        .orderBy("d")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = daily.select("priority", "d", F.sum("y").over(w).alias("c"))
    dd = cum.select(
        "priority", "d", (F.max("c").over(w) - F.col("c")).alias("drawdown")
    )
    best = (
        dd.groupBy("priority")
        .agg(F.max("drawdown").alias("max_drawdown"))
        .withColumnRenamed("priority", "b_priority")
    )
    return (
        dd.join(
            F.broadcast(best),
            (F.col("priority") == F.col("b_priority"))
            & (F.col("drawdown") == F.col("max_drawdown")),
        )
        .groupBy("b_priority", "max_drawdown")
        .agg(F.min("d").alias("first_day_at_max"))
        .select(
            F.col("b_priority").alias("priority"),
            F.col("max_drawdown").cast("long"),
            F.col("first_day_at_max").cast("long"),
        )
    )
