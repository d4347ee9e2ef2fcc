"""Graph-analytics and record-linkage workloads.

Graph tier: per-vertex triangle counts, clustering coefficients,
assortativity, BFS hops, PageRank, bounded Bellman-Ford shortest paths and
mutual k-NN edges over the embedding near-dup graph (`operators/graph.py`)
— local clustering structure that separates collapse-safe duplicate
cliques from star-shaped false-positive hubs. Bellman-Ford edge weights
are scaled ints ROUND((1-cosine)*1e6); every relaxation is integer
min-plus arithmetic, and the oracle unrolls the SAME fixed relaxation
rounds as chained CTEs. The IVF k-NN variants certify the balance lever
(skewed-cell salting) at gate scale by forcing the split path with a
data-relative pair budget and proving the edge multiset identical to the
unsplit plan.

Linkage tier: cross-source record linkage (entity resolution) — the
near-dup machinery pointed ACROSS provenance boundaries instead of within
one corpus, the shape of "did crawl source A re-publish source B's
documents" questions a curation pipeline answers before mixing sources.
Blocking-quality metrics are fixed divisions of exact pair counts against
the lossless prefix-filtered Jaccard truth set; `er_blocking_quality`
computes that truth over all pairs (Theta(density * N^2), kept for sf<=1
audits), while `er_blocking_quality_sampled` computes it on a
deterministic md5 DOC sample sized to a fixed budget, so certification
cost stays bounded as the corpus grows.

Oracle parity notes: the quadratic pair CTEs in the oracles are DuckDB's
exact baseline; the Spark side uses the bucketed/prefix-filtered operators
(linear shuffle volume) whose outputs are proven equal to the quadratic
form by these very value-hash comparisons.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sample_data_pipeline_project_spark.functions.text import md5_prefix_uint32_sql
from sample_data_pipeline_project_spark.functions.vectors import duck_cosine
from sample_data_pipeline_project_spark.operators.graph import (
    bfs_hops,
    kcore_peel,
    triangle_counts,
)
from sample_data_pipeline_project_spark.operators.materialize import (
    iterate,
    materialize,
)
from sample_data_pipeline_project_spark.operators.similarity import (
    neardup_cosine_pairs_blocked,
)
from sample_data_pipeline_project_spark.sources.catalog import load_table
from sample_data_pipeline_project_spark.workloads import workload
from sample_data_pipeline_project_spark.workloads.dedup_queries import (
    _DUCK_BIGRAMS as _DUCK_PR_BIGRAMS,
)


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
    edge-list-sized equi-joins + one keyed degree aggregate. The oracle
    unrolls the identical rounds over the exact quadratic pair set."""
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
# Label-propagation communities over the cosine near-dup graph
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
# Adamic-Adar link prediction over the cosine near-dup graph
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


# --------------------------------------------------------------------------
# Fixed-iteration PageRank over the near-dup graph
# --------------------------------------------------------------------------
_PR_ITERS = 3
_PR_DAMPING = 0.85
_PR_NGRAM_THRESHOLD = 0.8  # same edge set as dedup_connected_components
_PR_TOP_K = 50  # hub ranking emits only the top-k (scale-bounded output)

# DuckDB twin of the bigram near-dup pair pipeline — the shingle fragment
# is IMPORTED from dedup_queries so the two oracles cannot drift — then 3
# unrolled power iterations. Arithmetic is written with the SAME
# expression shape as the Spark operator — including (1 - 0.85) instead
# of 0.15, because 1.0-0.85 and the literal 0.15 are DIFFERENT doubles —
# and the consumers rank on ROUND(r,9) so sum-order ulps cannot flip the
# ordering.
def _pr_iteration(prev: str, cur: str) -> str:
    return f"""
{cur}_mass AS (
  SELECT e.dst, SUM(p.r / deg.outdeg) AS m
  FROM edges e JOIN {prev} p ON e.src = p.doc_id
  JOIN deg ON deg.src = e.src
  GROUP BY e.dst
),
{cur} AS (
  SELECT d.doc_id,
         ((CAST(1 AS DOUBLE) - {_PR_DAMPING}) / n.cnt)
         + {_PR_DAMPING} * COALESCE(m.m, CAST(0 AS DOUBLE)) AS r
  FROM documents d CROSS JOIN n LEFT JOIN {cur}_mass m ON m.dst = d.doc_id
)"""


def _pagerank_oracle() -> str:
    iters = ",".join(
        _pr_iteration(f"r{i}", f"r{i + 1}") for i in range(_PR_ITERS)
    )
    return f"""
WITH base AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
),
toks AS (SELECT doc_id, unnest({_DUCK_PR_BIGRAMS}) AS tok FROM base),
sizes AS (SELECT doc_id, COUNT(*) AS n_tok FROM toks GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS shared
  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
pairs AS (
  SELECT s.a, s.b FROM shared s
  JOIN sizes sa ON s.a = sa.doc_id
  JOIN sizes sb ON s.b = sb.doc_id
  WHERE CAST(s.shared AS DOUBLE) / (sa.n_tok + sb.n_tok - s.shared)
        >= {_PR_NGRAM_THRESHOLD}
),
edges AS (SELECT a AS src, b AS dst FROM pairs
          UNION ALL SELECT b AS src, a AS dst FROM pairs),
deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS cnt FROM documents),
r0 AS (SELECT doc_id, CAST(1 AS DOUBLE) / n.cnt AS r FROM documents CROSS JOIN n),
{iters},
ranked_all AS (
  SELECT doc_id,
         CAST(COALESCE(deg.outdeg, 0) AS BIGINT) AS outdeg,
         CAST(ROW_NUMBER() OVER (
           ORDER BY ROUND(r{_PR_ITERS}.r, 9) DESC, doc_id ASC
         ) AS BIGINT) AS rank_pos
  FROM r{_PR_ITERS} LEFT JOIN deg ON deg.src = r{_PR_ITERS}.doc_id
)
SELECT doc_id, outdeg, rank_pos FROM ranked_all WHERE rank_pos <= {_PR_TOP_K}
"""


@workload("graph_pagerank_neardup", oracle=_pagerank_oracle())
def graph_pagerank_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative graph analytics beyond label propagation: 3-round
    PageRank (operators/pagerank.py) over the symmetrized bigram-Jaccard
    near-dup graph — the 'which duplicate cluster hubs matter' view of
    the dedup relation. Per round: one edge join + one aggregate, edge-
    list-sized (same scaling argument as connected components). The
    hashed projection emits only the TOP-{k} hub ranking:
    TakeOrderedAndProject on (ROUND(r,9) desc, doc_id) — each partition
    keeps a local top-k, the driver merges, no global window, output
    driver-bounded — then ranks the k survivors with a k x k bounded
    self-join (rnk = 1 + |rows strictly ahead|). Only integers
    are hashed and the ordering key rounds to 9 decimals, so double
    sum-order ulps between engines cannot flip the hash; the oracle
    unrolls the identical iterations in SQL."""
    from sample_data_pipeline_project_spark.operators.dedup import (
        jaccard_pairs_prefix,
    )
    from sample_data_pipeline_project_spark.operators.pagerank import pagerank_fixed

    d = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs_prefix(d, _PR_NGRAM_THRESHOLD, ngram_n=2).select("a", "b")
    sym = pairs.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionByName(pairs.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    pr = pagerank_fixed(
        sym,
        d.select("doc_id"),
        id_col="doc_id",
        iters=_PR_ITERS,
        damping=_PR_DAMPING,
    )
    top = (
        pr.select("doc_id", "outdeg", F.round(F.col("r"), 9).alias("r9"))
        .orderBy(F.col("r9").desc(), F.col("doc_id").asc())
        .limit(_PR_TOP_K)
    )
    lhs, rhs = top.alias("l"), top.alias("r")
    ahead = (F.col("r.r9") > F.col("l.r9")) | (
        (F.col("r.r9") == F.col("l.r9")) & (F.col("r.doc_id") < F.col("l.doc_id"))
    )
    return (
        lhs.join(rhs, ahead, "left")
        .groupBy(F.col("l.doc_id"), F.col("l.outdeg"))
        .agg((F.count(F.col("r.doc_id")) + 1).cast("long").alias("rank_pos"))
        .select(
            F.col("l.doc_id").alias("doc_id"),
            F.col("l.outdeg").alias("outdeg"),
            "rank_pos",
        )
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
    keyed MIN (operators/graph.py:bfs_hops). The oracle unrolls the
    identical rounds over the exact quadratic pair set."""
    emb = load_table(spark, sf_dir, "embeddings")
    edges = neardup_cosine_pairs_blocked(emb, _BFS_THRESHOLD).select("a", "b")
    seeds = emb.filter(F.col("vec_id") % _BFS_SEED_MOD == 0).select(
        F.col("vec_id").alias("vertex")
    )
    return bfs_hops(edges, seeds, _BFS_ROUNDS).select(
        F.col("vertex").cast("long"), F.col("hops").cast("long")
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
# C198 — entity-resolution blocking quality (recall vs reduction ratio)
# --------------------------------------------------------------------------

_BLK_THRESHOLD = 0.9
_BLK_WIDTH = 32
_BLK_EXPRS = {
    "reduction_ratio": (
        "1.0 - CAST(candidate_pairs AS DOUBLE) / CAST(total_pairs AS DOUBLE)"
    ),
    "pair_recall": "CAST(n_captured AS DOUBLE) / CAST(n_truth AS DOUBLE)",
}

_BLK_ORACLE = f"""
WITH blocks AS (
  SELECT doc_id, lang || '|' || CAST(n_chars // {_BLK_WIDTH} AS STRING) AS blk
  FROM documents
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
cand AS (
  SELECT CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS candidate_pairs
  FROM (SELECT blk, CAST(COUNT(*) AS BIGINT) AS c FROM blocks GROUP BY blk)
),
toks AS (
  SELECT doc_id, unnest({_DUCK_TOKS}) AS tok FROM documents
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
         CAST(SUM(CASE WHEN ba.blk = bb.blk THEN 1 ELSE 0 END) AS BIGINT)
           AS n_captured
  FROM truth t
  JOIN blocks ba ON t.a = ba.doc_id
  JOIN blocks bb ON t.b = bb.doc_id
),
wide AS (
  SELECT nn.n_docs,
         CAST(nn.n_docs * (nn.n_docs - 1) // 2 AS BIGINT) AS total_pairs,
         cand.candidate_pairs, cap.n_truth, cap.n_captured
  FROM nn CROSS JOIN cand CROSS JOIN cap
)
SELECT n_docs, total_pairs, candidate_pairs, n_truth, n_captured,
       {_BLK_EXPRS["reduction_ratio"]} AS reduction_ratio,
       {_BLK_EXPRS["pair_recall"]} AS pair_recall
FROM wide
"""


@workload("er_blocking_quality", oracle=_BLK_ORACLE)
def er_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-strategy evaluation for entity resolution: a cheap
    (language, length-band) blocking key scored on the two numbers every
    ER paper reports — REDUCTION RATIO (how much of the n^2 comparison
    space the blocks prune) and PAIR RECALL (what fraction of true
    matches share a block), with truth = the exact prefix-filtered
    Jaccard pairs the dedup tier computes (lossless, so recall is
    against real ground truth, not a sample). Candidate counts are
    per-block c*(c-1)/2 integer sums; the quadratic total is arithmetic
    on the document count. This is the report read BEFORE shipping a
    blocking key to a 10^9-row linkage job, where a recall miss is
    unrecoverable."""
    from sample_data_pipeline_project_spark.operators.dedup import (
        jaccard_pairs_prefix,
    )

    d = load_table(spark, sf_dir, "documents")
    blocks = d.select(
        "doc_id",
        F.concat_ws(
            "|", F.col("lang"), F.expr(f"n_chars div {_BLK_WIDTH}").cast("string")
        ).alias("blk"),
    )
    n_docs = d.count()
    cand = int(
        blocks.groupBy("blk")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .agg(F.sum(F.expr("c * (c - 1) div 2")).cast("long"))
        .first()[0]
    )
    truth = jaccard_pairs_prefix(d, _BLK_THRESHOLD).select("a", "b")
    ba = blocks.select(F.col("doc_id").alias("a"), F.col("blk").alias("blk_a"))
    bb = blocks.select(F.col("doc_id").alias("b"), F.col("blk").alias("blk_b"))
    cap = (
        truth.join(ba, "a")
        .join(bb, "b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_truth"),
            F.sum(F.when(F.col("blk_a") == F.col("blk_b"), 1).otherwise(0))
            .cast("long")
            .alias("n_captured"),
        )
    )
    wide = cap.select(
        F.lit(int(n_docs)).cast("long").alias("n_docs"),
        F.lit(int(n_docs * (n_docs - 1) // 2)).cast("long").alias("total_pairs"),
        F.lit(cand).cast("long").alias("candidate_pairs"),
        "n_truth",
        "n_captured",
    )
    return wide.select(
        "n_docs",
        "total_pairs",
        "candidate_pairs",
        "n_truth",
        "n_captured",
        F.expr(_BLK_EXPRS["reduction_ratio"]).alias("reduction_ratio"),
        F.expr(_BLK_EXPRS["pair_recall"]).alias("pair_recall"),
    )


# --------------------------------------------------------------------------
# C200 — bounded Bellman-Ford from the minimum vertex of the near-dup graph
# --------------------------------------------------------------------------

_BF_THRESHOLD = 0.3
_BF_ROUNDS = 3
_BF_SCALE = 1_000_000


def _bf_oracle() -> str:
    cos = duck_cosine("a.embedding", "b.embedding")
    parts = [
        f"""WITH e AS (
  SELECT a.vec_id AS a, b.vec_id AS b,
         CAST(ROUND((1 - {cos}) * {_BF_SCALE}) AS BIGINT) AS w
  FROM embeddings a
  JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE {cos} >= {_BF_THRESHOLD}
),
sym AS (SELECT a AS s, b AS t, w FROM e UNION ALL SELECT b, a, w FROM e),
src AS (SELECT MIN(s) AS sv FROM sym),
d0 AS (SELECT sv AS v, CAST(0 AS BIGINT) AS d FROM src)"""
    ]
    for i in range(_BF_ROUNDS):
        parts.append(
            f"""d{i + 1} AS (
  SELECT v, CAST(MIN(d) AS BIGINT) AS d FROM (
    SELECT v, d FROM d{i}
    UNION ALL
    SELECT sym.t AS v, d{i}.d + sym.w AS d
    FROM d{i} JOIN sym ON d{i}.v = sym.s
  ) GROUP BY v
)"""
        )
    parts.append(
        f"SELECT v AS vertex, d AS dist_scaled FROM d{_BF_ROUNDS}"
    )
    return ",\n".join(parts[:1] + parts[1:-1]) + "\n" + parts[-1]


@workload("graph_bellman_ford_bounded", oracle=_bf_oracle())
def graph_bellman_ford_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED single-source shortest paths by {k} rounds of Bellman-Ford
    relaxation over the near-dup cosine graph (edge weight = scaled
    semantic distance, ROUND((1-cos)*1e6) — exact int min-plus algebra
    from there on). Each round is one edge-list join + a min aggregate —
    the frontier-free distributed SSSP shape whose cost is rounds x
    |edges|; a bounded round count answers 'what is reachable within k
    weighted hops', the neighborhood-radius question dedup triage asks.
    Source = the minimum vertex id touched by any edge (deterministic);
    the oracle unrolls the identical rounds as chained CTEs."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = neardup_cosine_pairs_blocked(emb, _BF_THRESHOLD).select(
        "a",
        "b",
        F.round((1 - F.col("cosine_sim")) * _BF_SCALE)
        .cast("long")
        .alias("w"),
    )
    sym = materialize(
        pairs.select(F.col("a").alias("s"), F.col("b").alias("t"), "w").unionByName(
            pairs.select(F.col("b").alias("s"), F.col("a").alias("t"), "w")
        ),
        "checkpoint",
    )
    src = sym.agg(F.min("s")).first()[0]
    dist = spark.createDataFrame([(int(src), 0)], "v long, d long")

    def relax(dist: DataFrame) -> DataFrame:
        return (
            dist.join(sym, dist["v"] == sym["s"])
            .select(F.col("t").alias("v"), (F.col("d") + F.col("w")).alias("d"))
            .unionByName(dist.select("v", "d"))
            .groupBy("v")
            .agg(F.min("d").cast("long").alias("d"))
        )

    dist = iterate(dist, relax, _BF_ROUNDS, name="graph_bellman_ford_bounded")
    return dist.select(F.col("v").alias("vertex"), F.col("d").alias("dist_scaled"))


# --------------------------------------------------------------------------
# C222 — mutual k-NN similarity-graph construction (the degree-bounded
# graph the round-7 scale fix built for Adamic-Adar, as its own surface)
# --------------------------------------------------------------------------
_KNN_D = 5
_KNN_THRESHOLD = 0.3


def _knn_oracle() -> str:
    from sample_data_pipeline_project_spark.functions.vectors import (
        duck_cosine,
    )

    cos = duck_cosine("a.embedding", "b.embedding")
    return f"""
WITH allp AS (
  SELECT a.vec_id AS src, b.vec_id AS dst, {cos} AS c
  FROM embeddings a
  JOIN embeddings b ON a.vec_id != b.vec_id
),
thr AS (SELECT src, dst, c FROM allp WHERE c >= {_KNN_THRESHOLD}),
knn AS (
  SELECT src, dst, c,
         ROW_NUMBER() OVER (PARTITION BY src ORDER BY c DESC, dst ASC) AS rn
  FROM thr
),
kept AS (SELECT src, dst, c FROM knn WHERE rn <= {_KNN_D})
SELECT CAST(k1.src AS BIGINT) AS a, CAST(k1.dst AS BIGINT) AS b,
       k1.c AS cosine_sim
FROM kept k1 JOIN kept k2 ON k1.src = k2.dst AND k1.dst = k2.src
WHERE k1.src < k1.dst
"""


@workload("graph_knn_mutual_edges", oracle=_knn_oracle())
def graph_knn_mutual_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MUTUAL k-NN similarity-graph construction (C222) — the
    degree-bounded graph operator the round-7 scale work built
    (operators/similarity.py:knn_mutual_edges), registered as its own
    oracled surface: undirected edges where EACH endpoint ranks the
    other in its exact-cosine top-{d}, deg(v) <= {d} HARD. This is the
    scale-correct input for every wedge-shaped downstream (Adamic-Adar
    C140, clustering coefficient C88, components): a fixed-threshold
    graph's edges grow Theta(density * N^2) (measured: 102x for 10x
    vectors, SCALING.md), a mutual-kNN graph's grow O(N * d). The
    blocked construction emits exact cumsum-fold scores from the BLAS
    preselection (no vector re-join), so the oracle value-hashes every
    edge's cosine, not just the pair ids."""
    from sample_data_pipeline_project_spark.operators.similarity import (
        knn_mutual_edges,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return knn_mutual_edges(emb, _KNN_D, _KNN_THRESHOLD)


# Fixed doc budget for the ground-truth stage: the sample modulus is
# ceil(n_docs / budget), so ~budget docs survive at ANY corpus size and
# the exact-Jaccard truth join touches ~budget^2 candidate pairs — a
# CONSTANT certification cost. This is the scale knob the estimator
# audit (C145) already uses at the pair level, applied one level
# earlier (doc level) so candidate GENERATION is bounded too, not just
# verification.
_BLK_SAMPLE_BUDGET = 256

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


# ---------------------------------------------------------------------------
# C232 — balanced-path certification for the IVF mutual-kNN builder
# ---------------------------------------------------------------------------


@workload(
    "graph_knn_mutual_edges_ivf_balanced",
    oracle="""
SELECT TRUE AS split_engaged, TRUE AS matches_unsplit, TRUE AS nonempty
""",
)
def graph_knn_mutual_edges_ivf_balanced(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """C232 — GATE-SCALE certification of the round-10 skewed-cell
    salting (operators/similarity.py knn_mutual_edges_ivf pair_budget):
    at production scale the budget only trips on quantizer-skew
    stragglers (the sf100 215k-row cell), which no gate corpus reaches —
    so this workload FORCES the split path with a data-relative budget
    (~2x the mean cell's m^2, i.e. any mildly skewed cell splits) and
    certifies, against the default-budget single-task plan over the SAME
    deterministic quantizer:

      split_engaged   — the build-time census actually salted >= 1 cell
                        (measured via the operator's split_stats hook,
                        not assumed);
      matches_unsplit — the (src, dst, cosine_sim) edge multiset is
                        BIT-IDENTICAL both ways (exceptAll in both
                        directions is empty): salting replicates work,
                        never changes membership or scores;
      nonempty        — the graph is not trivially empty.

    A regression that makes the salted plan drop, duplicate, or rescore
    edges flips matches_unsplit and fails the oracle hash at sf0.01
    every round. Build-time census collects are K-bounded by the
    operator's documented contract (same as C226). Round 11: the forced
    budget is the operator's ``"max-cell"`` sentinel — derived from the
    census the operator already takes (budget = max(m)^2 - 1, so the
    largest cell is GUARANTEED to split on any corpus shape, closing
    the ADVICE risk that regenerated/uniform testdata flips
    split_engaged) — and the workload no longer runs `emb.count()` at
    plan construction."""
    from sample_data_pipeline_project_spark.operators.similarity import (
        knn_mutual_edges_ivf,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    stats: dict = {}
    balanced = knn_mutual_edges_ivf(
        emb, _KNN_D, _KNN_THRESHOLD, nprobe=_KNN_NPROBE,
        pair_budget="max-cell", split_stats=stats,
    )
    default = knn_mutual_edges_ivf(
        emb, _KNN_D, _KNN_THRESHOLD, nprobe=_KNN_NPROBE
    )
    cols = ["src", "dst", "cosine_sim"] if "src" in balanced.columns else list(
        balanced.columns
    )
    b = balanced.select(*cols)
    d = default.select(*cols)
    diff = b.exceptAll(d).unionAll(d.exceptAll(b))
    return (
        diff.agg((F.count(F.lit(1)) == 0).alias("matches_unsplit"))
        .crossJoin(b.agg((F.count(F.lit(1)) > 0).alias("nonempty")))
        .select(
            F.lit(stats.get("n_oversized", 0) > 0).alias("split_engaged"),
            "matches_unsplit",
            "nonempty",
        )
    )
