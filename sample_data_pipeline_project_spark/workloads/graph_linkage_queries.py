"""Round-3 graph-analytics and record-linkage workloads.

Graph tier: per-vertex triangle counts over the embedding near-dup graph
(`operators/graph.py`) — local clustering structure that separates
collapse-safe duplicate cliques from star-shaped false-positive hubs.

Linkage tier: cross-source record linkage (entity resolution) — the
near-dup machinery pointed ACROSS provenance boundaries instead of within
one corpus, the shape of "did crawl source A re-publish source B's
documents" questions a curation pipeline answers before mixing sources.

Oracle parity notes: the quadratic pair CTEs in the oracles are DuckDB's
exact baseline; the Spark side uses the bucketed/prefix-filtered operators
(linear shuffle volume) whose outputs are proven equal to the quadratic
form by these very value-hash comparisons.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sample_data_pipeline_project_spark.functions.vectors import duck_cosine
from sample_data_pipeline_project_spark.operators.graph import kcore_peel, triangle_counts
from sample_data_pipeline_project_spark.operators.materialize import materialize
from sample_data_pipeline_project_spark.operators.similarity import (
    neardup_cosine_pairs_blocked,
)
from sample_data_pipeline_project_spark.sources.catalog import load_table
from sample_data_pipeline_project_spark.workloads import workload

_TRI_THRESHOLD = 0.3

_TRI_ORACLE = f"""
WITH p AS (
  SELECT a.vec_id AS a, b.vec_id AS b
  FROM embeddings a
  JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE {duck_cosine('a.embedding', 'b.embedding')} >= {_TRI_THRESHOLD}
),
tri AS (
  SELECT p1.a AS x, p1.b AS y, p2.b AS z
  FROM p p1
  JOIN p p2 ON p1.b = p2.a
  JOIN p p3 ON p3.a = p1.a AND p3.b = p2.b
),
corners AS (
  SELECT x AS vertex FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri
)
SELECT vertex, COUNT(*) AS n_triangles
FROM corners GROUP BY vertex
"""


@workload("graph_triangle_count", oracle=_TRI_ORACLE)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex TRIANGLE COUNTS over the cosine near-dup graph: edges are
    embedding pairs with cosine >= {t}; counting uses degree-ordered edge
    orientation (Suri & Vassilvitskii WW'11) so wedge fan-out is bounded by
    O(sqrt(m)) per vertex — no last-reducer skew — and every stage is an
    equi-join on edge-list-sized data. The oracle enumerates x<y<z corner
    triples over the exact quadratic pair set."""
    emb = load_table(spark, sf_dir, "embeddings")
    edges = neardup_cosine_pairs_blocked(emb, _TRI_THRESHOLD).select("a", "b")
    return triangle_counts(edges).select(
        F.col("vertex").cast("long"), F.col("n_triangles").cast("long")
    )


_ER_THRESHOLD = 0.8
_DUCK_TOKS = "list_distinct(string_split_regex(lower(trim(text)), '\\s+'))"

_ER_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source, unnest({_DUCK_TOKS}) AS tok FROM documents
),
sizes AS (
  SELECT doc_id, ANY_VALUE(source) AS source, COUNT(*) AS n_tok
  FROM toks GROUP BY doc_id
),
shared AS (
  SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS shared
  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT s.a, s.b, sa.source AS source_a, sb.source AS source_b,
       CAST(s.shared AS DOUBLE) / (sa.n_tok + sb.n_tok - s.shared) AS jaccard
FROM shared s
JOIN sizes sa ON s.a = sa.doc_id
JOIN sizes sb ON s.b = sb.doc_id
WHERE sa.source != sb.source
  AND CAST(s.shared AS DOUBLE) / (sa.n_tok + sb.n_tok - s.shared)
      >= {_ER_THRESHOLD}
"""


@workload("er_cross_source_match", oracle=_ER_ORACLE)
def er_cross_source_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source RECORD LINKAGE: token-set Jaccard >= {t} pairs where the
    two documents come from DIFFERENT `source` values — "which sources
    republish each other's content". Candidate generation is the lossless
    AllPairs/PPJoin prefix filter (operators/dedup.py), so no cross-source
    pair above threshold can be missed; provenance attributes join back on
    the surviving pairs only (pair-list-sized, not corpus-sized)."""
    from sample_data_pipeline_project_spark.operators.dedup import (
        jaccard_pairs_prefix,
    )

    d = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs_prefix(d, _ER_THRESHOLD).select("a", "b", "jaccard")
    src = d.select("doc_id", "source")
    return (
        pairs.join(src.withColumnsRenamed({"doc_id": "a", "source": "source_a"}), "a")
        .join(src.withColumnsRenamed({"doc_id": "b", "source": "source_b"}), "b")
        .filter(F.col("source_a") != F.col("source_b"))
        .select("a", "b", "source_a", "source_b", "jaccard")
    )


# --------------------------------------------------------------------------
# k-core peeling over the near-dup graph
# --------------------------------------------------------------------------
_KCORE_K = 2
_KCORE_ROUNDS = 4


def _kcore_oracle() -> str:
    """Unroll the identical fixed peel rounds in SQL (the pagerank-oracle
    pattern): round i drops vertices with degree < k from edge set e{i}."""
    parts = [
        f"""WITH p AS (
  SELECT a.vec_id AS a, b.vec_id AS b
  FROM embeddings a
  JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE {duck_cosine('a.embedding', 'b.embedding')} >= {_TRI_THRESHOLD}
),
e0 AS (SELECT a, b FROM p)"""
    ]
    for i in range(_KCORE_ROUNDS):
        parts.append(
            f"""d{i} AS (
  SELECT v, COUNT(*) AS deg FROM (
    SELECT a AS v FROM e{i} UNION ALL SELECT b AS v FROM e{i}
  ) GROUP BY v
),
k{i} AS (SELECT v FROM d{i} WHERE deg >= {_KCORE_K}),
e{i + 1} AS (
  SELECT e.a, e.b FROM e{i} e
  JOIN k{i} x ON e.a = x.v
  JOIN k{i} y ON e.b = y.v
)"""
        )
    n = _KCORE_ROUNDS
    parts.append(
        f"""final AS (
  SELECT v AS vertex, CAST(COUNT(*) AS BIGINT) AS degree FROM (
    SELECT a AS v FROM e{n} UNION ALL SELECT b AS v FROM e{n}
  ) GROUP BY v
)"""
    )
    return ",\n".join(parts) + "\nSELECT vertex, degree FROM final"


@workload("graph_kcore", oracle=_kcore_oracle())
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling (k=2, 4 fixed rounds) over the cosine near-dup
    graph: iteratively drop vertices with fewer than k surviving
    neighbors — duplicate cliques survive, star-shaped false-positive
    hubs dissolve. Fixed-round semantics make the result deterministic
    and SQL-unrollable (`operators/graph.py:kcore_peel`); each round is
    edge-list-sized equi-joins + one keyed degree aggregate with
    per-round lineage truncation. The oracle unrolls the identical
    rounds over the exact quadratic pair set."""
    emb = load_table(spark, sf_dir, "embeddings")
    edges = neardup_cosine_pairs_blocked(emb, _TRI_THRESHOLD).select("a", "b")
    return kcore_peel(edges, _KCORE_K, _KCORE_ROUNDS).select(
        F.col("vertex").cast("long"), F.col("degree").cast("long")
    )


# --------------------------------------------------------------------------
# HITS hubs/authorities over the user <-> event-type bipartite graph
# --------------------------------------------------------------------------
_HITS_ORACLE = """
WITH e AS (SELECT DISTINCT user_id AS hub, event_type AS auth FROM events),
h1 AS (SELECT hub, CAST(COUNT(*) * 1000000 AS BIGINT) AS s FROM e GROUP BY hub),
h1n AS (SELECT hub, CAST(s * 1000000 // (SELECT MAX(s) FROM h1) AS BIGINT) AS s
        FROM h1),
a1 AS (SELECT auth, CAST(SUM(s) AS BIGINT) AS s
       FROM e JOIN h1n USING (hub) GROUP BY auth),
a1n AS (SELECT auth, CAST(s * 1000000 // (SELECT MAX(s) FROM a1) AS BIGINT) AS s
        FROM a1),
h2 AS (SELECT hub, CAST(SUM(s) AS BIGINT) AS s
       FROM e JOIN a1n USING (auth) GROUP BY hub),
h2n AS (SELECT hub, CAST(s * 1000000 // (SELECT MAX(s) FROM h2) AS BIGINT) AS s
        FROM h2)
SELECT hub AS user_id, s AS hub_score FROM h2n
"""


@workload("graph_hits_bipartite", oracle=_HITS_ORACLE)
def graph_hits_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (operators/graph.py:hits_bipartite) on the user->event-type
    bipartite graph, 2 full rounds, INTEGER-scaled scores (start at 1e6,
    re-normalize by floor-division against the max after every
    half-step) — a second fixed-point graph family beside pagerank/
    k-core, with zero float accumulation: the oracle unrolls the exact
    same integer recurrence in SQL, so the value hash certifies every
    join + aggregate + normalize round bit-for-bit. Per round: two
    edge-list equi-joins + keyed sums (map-side combinable) + a 1-row
    broadcast max."""
    from sample_data_pipeline_project_spark.operators.graph import hits_bipartite

    e = load_table(spark, sf_dir, "events")
    return hits_bipartite(
        e.select("user_id", "event_type"),
        hub_col="user_id",
        auth_col="event_type",
        iters=2,
    ).select(F.col("hub").alias("user_id"), "hub_score")


# --------------------------------------------------------------------------
# Round 4: label-propagation communities over the cosine near-dup graph
# --------------------------------------------------------------------------
_LPA_THRESHOLD = 0.3
_LPA_ROUNDS = 3


def _lpa_oracle() -> str:
    rounds_sql = []
    prev = "l0"
    for r in range(1, _LPA_ROUNDS + 1):
        rounds_sql.append(f"""
nb{r} AS (
  SELECT s.src AS vertex, l.label
  FROM sym s JOIN {prev} l ON s.dst = l.vertex
),
cnt{r} AS (
  SELECT vertex, label, COUNT(*) AS n FROM nb{r} GROUP BY vertex, label
),
l{r} AS (
  SELECT vertex, label FROM (
    SELECT vertex, label,
           ROW_NUMBER() OVER (PARTITION BY vertex
                              ORDER BY n DESC, label ASC) AS rn
    FROM cnt{r}
  ) WHERE rn = 1
)""")
        prev = f"l{r}"
    return f"""
WITH p AS (
  SELECT a.vec_id AS a, b.vec_id AS b
  FROM embeddings a
  JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE {duck_cosine('a.embedding', 'b.embedding')} >= {_LPA_THRESHOLD}
),
sym AS (
  SELECT a AS src, b AS dst FROM p
  UNION ALL
  SELECT b AS src, a AS dst FROM p
),
l0 AS (
  SELECT DISTINCT src AS vertex, src AS label FROM sym
),{",".join(rounds_sql)}
SELECT CAST(vertex AS BIGINT) AS vertex, CAST(label AS BIGINT) AS label
FROM {prev}
"""


@workload("graph_label_propagation", oracle=_lpa_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMMUNITY DETECTION by synchronous label propagation
    (operators/graph.py:lpa_labels), 3 fixed rounds over the cosine
    near-dup graph: each vertex simultaneously adopts its neighbors'
    mode label with the deterministic (count DESC, label ASC) tiebreak —
    the community-structure complement to connected components (B2),
    which merges everything touching, where LPA keeps weakly-bridged
    clusters apart. Synchronous + total-order tiebreak makes the result
    a pure function of (edges, rounds): the oracle unrolls the identical
    3 rounds in SQL and value-hashes every label. Per round: one
    edge-sized equi-join, one keyed count, one vertex-PARTITIONED rank
    window (never global)."""
    from sample_data_pipeline_project_spark.operators.graph import lpa_labels

    emb = load_table(spark, sf_dir, "embeddings")
    edges = neardup_cosine_pairs_blocked(emb, _LPA_THRESHOLD).select("a", "b")
    return lpa_labels(edges, _LPA_ROUNDS).select(
        F.col("vertex").cast("long"), F.col("label").cast("long")
    )


# --------------------------------------------------------------------------
# Round 4: Adamic-Adar link prediction over the cosine near-dup graph
# --------------------------------------------------------------------------
_AA_THRESHOLD = 0.3
_AA_TOP_K = 20
_AA_DEGREE = 10  # mutual-kNN degree bound: deg(v) <= 10, wedges O(N*d^2)

_AA_ORACLE = f"""
WITH allp AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         {duck_cosine('a.embedding', 'b.embedding')} AS c
  FROM embeddings a
  JOIN embeddings b ON a.vec_id != b.vec_id
),
thr AS (SELECT src, dst, c FROM allp WHERE c >= {_AA_THRESHOLD}),
knn AS (
  SELECT src, dst,
         ROW_NUMBER() OVER (PARTITION BY src ORDER BY c DESC, dst ASC) AS rn
  FROM thr
),
kept AS (SELECT src, dst FROM knn WHERE rn <= {_AA_DEGREE}),
p AS (
  SELECT k1.src AS a, k1.dst AS b
  FROM kept k1 JOIN kept k2 ON k1.src = k2.dst AND k1.dst = k2.src
  WHERE k1.src < k1.dst
),
sym AS (
  SELECT a AS src, b AS dst FROM p
  UNION ALL
  SELECT b AS src, a AS dst FROM p
),
deg AS (SELECT src AS w, COUNT(*) AS d FROM sym GROUP BY src),
wedges AS (
  SELECT s1.dst AS u, s2.dst AS v, s1.src AS w
  FROM sym s1 JOIN sym s2 ON s1.src = s2.src AND s1.dst < s2.dst
),
cand AS (
  SELECT wg.u, wg.v,
         CAST(COUNT(*) AS BIGINT) AS n_common,
         CAST(SUM(CAST(ROUND(1000000000.0 / ln(CAST(deg.d AS DOUBLE)), 0)
                       AS BIGINT)) AS BIGINT) AS aa_scaled
  FROM wedges wg JOIN deg ON wg.w = deg.w
  GROUP BY wg.u, wg.v
),
nonedge AS (
  SELECT c.u, c.v, c.n_common, c.aa_scaled
  FROM cand c LEFT JOIN p ON c.u = p.a AND c.v = p.b
  WHERE p.a IS NULL
),
ranked AS (
  SELECT u, v, n_common, aa_scaled,
         ROW_NUMBER() OVER (ORDER BY aa_scaled DESC, u ASC, v ASC) AS rnk
  FROM nonedge
)
SELECT CAST(u AS BIGINT) AS u, CAST(v AS BIGINT) AS v, n_common, aa_scaled,
       CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= {_AA_TOP_K}
"""


@workload("graph_adamic_adar", oracle=_AA_ORACLE)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINK PREDICTION by Adamic-Adar affinity over the MUTUAL k-NN
    similarity graph: AA(u,v) = sum over common neighbors w of
    1/ln(deg(w)) for non-adjacent pairs — rare shared neighbors say more
    than hub neighbors (the missed-duplicate screen: high-AA non-edges
    are pairs the graph construction probably cut too early). Each wedge
    term is pre-scaled to an exact BIGINT (ROUND(1e9/ln(deg))) so the
    per-pair SUM is order-independent int64 arithmetic; wedge centers
    have deg >= 2 by construction, so ln() never hits zero. Existing
    edges leave via an anti-join; top-{k} rides TakeOrderedAndProject +
    the bounded k x k rank join (C15 pattern — no global window over
    the candidate-pair table).

    WHY mutual k-NN and not the raw threshold graph (round-7 scale
    finding, SCALING.md): a fixed-threshold cosine graph has
    Theta(density * N^2) edges — measured 102x edge growth and ~1000x
    wedge growth for 10x vectors, which put this workload at a 31x
    runtime slope. The degree bound (deg <= {d}) makes wedge volume
    O(N * d^2): linear in corpus size, which is also the formulation
    link-prediction systems actually run (AA over unbounded-degree hubs
    is dominated by its own 1/ln(deg) down-weighting anyway)."""
    from sample_data_pipeline_project_spark.operators.similarity import (
        knn_mutual_edges,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    p = materialize(
        knn_mutual_edges(emb, _AA_DEGREE, _AA_THRESHOLD)
        .select("a", "b"),
        "checkpoint",
    )
    sym = p.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        p.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    deg = sym.groupBy(F.col("src").alias("w")).agg(F.count(F.lit(1)).alias("d"))
    s1, s2 = sym.alias("s1"), sym.alias("s2")
    wedges = s1.join(
        s2,
        (F.col("s1.src") == F.col("s2.src")) & (F.col("s1.dst") < F.col("s2.dst")),
    ).select(
        F.col("s1.dst").alias("u"),
        F.col("s2.dst").alias("v"),
        F.col("s1.src").alias("w"),
    )
    term = F.round(1000000000.0 / F.log(F.col("d").cast("double")), 0).cast("long")
    cand = (
        wedges.join(deg, "w")
        .groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.sum(term).cast("long").alias("aa_scaled"),
        )
    )
    nonedge = cand.join(
        p,
        (cand["u"] == p["a"]) & (cand["v"] == p["b"]),
        "left_anti",
    )
    top = nonedge.orderBy(
        F.col("aa_scaled").desc(), F.col("u").asc(), F.col("v").asc()
    ).limit(_AA_TOP_K)
    lhs, rhs = top.alias("l"), top.alias("r")
    ahead = (
        (F.col("r.aa_scaled") > F.col("l.aa_scaled"))
        | (
            (F.col("r.aa_scaled") == F.col("l.aa_scaled"))
            & (F.col("r.u") < F.col("l.u"))
        )
        | (
            (F.col("r.aa_scaled") == F.col("l.aa_scaled"))
            & (F.col("r.u") == F.col("l.u"))
            & (F.col("r.v") < F.col("l.v"))
        )
    )
    return (
        lhs.join(rhs, ahead, "left")
        .groupBy(
            F.col("l.u").alias("u"),
            F.col("l.v").alias("v"),
            F.col("l.n_common").alias("n_common"),
            F.col("l.aa_scaled").alias("aa_scaled"),
        )
        .agg((F.count(F.col("r.u")) + 1).cast("long").alias("rnk"))
        .select(
            F.col("u").cast("long"),
            F.col("v").cast("long"),
            "n_common",
            "aa_scaled",
            "rnk",
        )
    )
