"""DataFrame-native k-means (Lloyd's algorithm) — the IVF coarse-quantizer
trainer (B3 scale path).

`operators/similarity.py:ivf_topk_cosine` probes centroid buckets; this
module produces real centroids instead of the deterministic
first-k-vectors placeholder. It is also the engine's reference pattern for
ITERATIVE algorithms on DataFrames:

  - each Lloyd iteration is assign (broadcast centroids, argmin distance)
    + recompute (element-wise mean via posexplode/groupBy) — two shuffles
    of (N x dim) rows, the canonical distributed k-means shape;
  - `localCheckpoint` after every iteration truncates the lineage — an
    unbounded iterative plan otherwise grows by two stages per iteration
    until the optimizer chokes (the classic iterative-Spark trap);
  - centroids are tiny (k x dim) and live driver-side between iterations,
    broadcast back for assignment.

Distances use squared L2 on the raw vectors (Lloyd's objective); switch
the corpus to unit-normalized vectors for spherical/cosine k-means.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sample_data_pipeline_project_spark.operators.materialize import materialize
from sample_data_pipeline_project_spark.operators.partitioning import widen


def _sq_l2(a: str, b: str) -> F.Column:
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> "
        f"(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
        f"(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def assign_clusters(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cluster, sq_dist): nearest centroid per vector (min distance,
    cluster id tiebreak). `centroids` has (cluster, c_vec).

    Argmin is a `min_by` HASH AGGREGATE, not a row_number window (round
    11, guide §2.3/§2.4): the window form shuffled all N*k scored rows —
    vector payload included — into a sort per vector; min_by partially
    aggregates map-side, so the exchange carries N rows and no sort runs.
    The ordering key struct(sq_dist, cluster) is unique per vector
    (cluster ids are distinct), so the argmin is deterministic and equals
    the old (sq_dist ASC, cluster ASC) tiebreak row-for-row.

    `widen` (round 11, guide 2.5): the corpus frequently arrives as ONE
    unsplittable parquet partition, serializing the whole N*k distance
    map side on one core; widening to the cluster's parallelism is a
    no-op whenever the scan is already at least that wide."""
    scored = widen(vectors).crossJoin(F.broadcast(centroids)).select(
        F.col(id_col),
        F.col(vec_col),
        F.col("cluster"),
        _sq_l2(vec_col, "c_vec").alias("sq_dist"),
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.min_by(
                F.struct(vec_col, "cluster", "sq_dist"),
                F.struct("sq_dist", "cluster"),
            ).alias("__best")
        )
        .select(id_col, "__best.*")
    )


def kmeans_fit(
    vectors: DataFrame,
    k: int,
    max_iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Train k centroids; returns (cluster, c_vec). Deterministic init:
    the k lowest-id vectors (k-means|| is the production init; id-init is
    reproducible, which tests and cross-run comparisons need)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    centroids = (
        vectors.orderBy(F.col(id_col).asc())
        .limit(k)
        .select(
            F.row_number()
            .over(Window.orderBy(F.col(id_col).asc()))
            .alias("cluster"),
            F.col(vec_col).cast("array<double>").alias("c_vec"),
        )
    )
    for _ in range(max_iters):
        assigned = assign_clusters(vectors, centroids, id_col, vec_col)
        # element-wise mean: explode to (cluster, dim, value), average,
        # reassemble ordered by dim
        by_dim = assigned.select(
            "cluster", F.posexplode(F.col(vec_col)).alias("dim", "v")
        ).groupBy("cluster", "dim").agg(F.avg(F.col("v").cast("double")).alias("m"))
        new_centroids = (
            by_dim.groupBy("cluster")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("dim", "m"))
                ).alias("pairs")
            )
            .select(
                "cluster",
                F.expr("transform(pairs, p -> p.m)").alias("c_vec"),
            )
        )
        # truncate lineage: without this the plan doubles every iteration
        centroids = materialize(new_centroids, "checkpoint")
    return centroids


def kmeans_ivf_topk(
    corpus: DataFrame,
    query: DataFrame,
    k_clusters: int,
    top_k: int,
    nprobe: int = 2,
    max_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF search over TRAINED centroids: fit, assign corpus once, probe
    the nprobe clusters nearest the query, exact cosine top-k within."""
    from sample_data_pipeline_project_spark.functions.vectors import cosine
    from sample_data_pipeline_project_spark.operators.similarity import topk_cosine

    centroids = kmeans_fit(corpus, k_clusters, max_iters, id_col, vec_col)
    assigned = assign_clusters(corpus, centroids, id_col, vec_col).select(
        id_col, "cluster"
    )
    probe = (
        centroids.crossJoin(F.broadcast(query))
        .select("cluster", _sq_l2("c_vec", "q_emb").alias("d"))
        .orderBy(F.col("d").asc(), F.col("cluster").asc())
        .limit(nprobe)
        .select("cluster")
    )
    bucket = corpus.join(
        assigned.join(F.broadcast(probe), "cluster").select(id_col), id_col
    )
    return topk_cosine(bucket, query, top_k, id_col, vec_col)
