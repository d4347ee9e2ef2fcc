"""Round-4l workload: bounded Bellman-Ford weighted shortest paths.

Determinism notes: edge weights are scaled ints ROUND((1-cosine)*1e6)
where the cosine is the deterministic sequential left-fold both engines
share (functions/vectors.py contract); every relaxation is integer
min-plus arithmetic, so distances hash exactly. The oracle unrolls the
SAME fixed relaxation rounds as chained CTEs (the k-core / pagerank
oracle pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sample_data_pipeline_project_spark.functions.vectors import duck_cosine
from sample_data_pipeline_project_spark.operators.materialize import materialize
from sample_data_pipeline_project_spark.operators.similarity import (
    neardup_cosine_pairs_blocked,
)
from sample_data_pipeline_project_spark.sources.catalog import load_table
from sample_data_pipeline_project_spark.workloads import workload

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
    |edges|, with localCheckpoint truncating lineage between rounds
    exactly like the PageRank operator; a bounded round count answers
    'what is reachable within k weighted hops', the neighborhood-radius
    question dedup triage asks. Source = the minimum vertex id touched by
    any edge (deterministic); the oracle unrolls the identical rounds as
    chained CTEs."""
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
    for _ in range(_BF_ROUNDS):
        relaxed = materialize(
            dist.join(sym, dist["v"] == sym["s"])
            .select(F.col("t").alias("v"), (F.col("d") + F.col("w")).alias("d"))
            .unionByName(dist.select("v", "d"))
            .groupBy("v")
            .agg(F.min("d").cast("long").alias("d")),
            "checkpoint",
        )
        dist = relaxed
    return dist.select(F.col("v").alias("vertex"), F.col("d").alias("dist_scaled"))
