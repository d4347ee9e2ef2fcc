"""Fixed-iteration PageRank over an edge DataFrame.

Power iteration as pure DataFrame algebra: each round is one equi-join
(edge list against current ranks) plus one aggregate (incoming mass per
destination) — the same shuffle shape as connected components
(operators/components.py), so the 100 TB scaling argument carries over:
per-round cost is sized by the EDGE list, and rounds are a fixed
constant (this is the bounded-iteration analytics form, not convergence
detection).

Simplified update (documented variant, dangling mass not redistributed):
    r_{t+1}(v) = (1-d)/n + d * sum_{(u,v) in E} r_t(u) / outdeg(u)
Vertices with no outgoing edges contribute nothing; vertices with no
incoming edges settle at (1-d)/n. Deterministic given the edge list; the
floating sum's order-dependence stays ~1 ulp and is neutralized by
consumers ranking on ROUND(r, 9) (see graph_pagerank_neardup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sample_data_pipeline_project_spark.operators.materialize import (
    iterate,
    materialize,
)


def pagerank_fixed(
    edges: DataFrame,
    vertices: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Rank every vertex after `iters` power iterations.

    edges: DIRECTED edge list (symmetrize upstream for undirected
    graphs). vertices: complete vertex set (one column `id_col`).
    Returns (id_col, outdeg, rank)."""
    n = vertices.count()
    if n == 0:
        raise ValueError("pagerank_fixed: empty vertex set (n=0)")
    base = float((1.0 - damping) / n)

    # DISK_ONLY for the edge-sized materializations (round 11): the
    # near-dup edge list is data-proportional and a noise-dense graph
    # OOMed the heap in the components twin at the sf100 probe; labels
    # r (vertex-sized) stay at the default level.
    e = materialize(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")),
        "capped_disk",
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # contribution weight per edge is static across rounds: r changes,
    # outdeg does not — precompute src -> outdeg once on the edge list
    ew = materialize(e.join(deg, "src"), "capped_disk")
    v = materialize(vertices.select(F.col(id_col).alias("vid")), "capped")

    def step(r: DataFrame) -> DataFrame:
        mass = (
            ew.join(r, ew["src"] == r["vid"])
            .select("dst", (F.col("r") / F.col("outdeg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("m"))
        )
        return v.join(mass, v["vid"] == mass["dst"], "left").select(
            "vid",
            (F.lit(base) + F.lit(damping) * F.coalesce("m", F.lit(0.0))).alias("r"),
        )

    r = iterate(
        v.withColumn("r", F.lit(float(1.0 / n))), step, iters, name="pagerank_fixed"
    )
    return (
        r.join(deg.withColumnRenamed("src", "vid"), "vid", "left")
        .select(
            F.col("vid").alias(id_col),
            F.coalesce("outdeg", F.lit(0)).cast("long").alias("outdeg"),
            "r",
        )
    )
