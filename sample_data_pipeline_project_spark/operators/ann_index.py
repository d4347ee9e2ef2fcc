"""Persisted IVF index: build once, probe many (B3 at 100 TB).

`kmeans_ivf_topk` retrains and reassigns per query — correct, but a real
deployment amortizes the expensive parts on disk. This module stores the
index the way a 100 TB ANN service lays it out:

  <path>/centroids/          tiny (k x dim) parquet
  <path>/vectors/cluster=N/  corpus vectors HIVE-PARTITIONED by cluster

so a probe reads the centroid table (broadcast-sized), picks the nprobe
nearest clusters, and scans ONLY those clusters' files — the cluster
filter resolves at PLANNING time as a partition filter (asserted in
tests/test_ann_index.py), touching nprobe/k of the corpus bytes. Exact
cosine re-ranks inside the probed buckets, so results match the
in-memory operator bit-for-bit.

Rebuilds overwrite atomically enough for a single writer (mode
overwrite); for concurrent-writer versioning put the index directory
under sources/snapshots.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sample_data_pipeline_project_spark.operators.kmeans import (
    assign_clusters,
    kmeans_fit,
    nearest_clusters,
)


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    k_clusters: int = 8,
    max_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Train the coarse quantizer and write the index layout."""
    centroids = kmeans_fit(corpus, k_clusters, max_iters, id_col, vec_col)
    centroids.write.mode("overwrite").parquet(f"{path}/centroids")
    assigned = assign_clusters(corpus, centroids, id_col, vec_col).select(
        id_col, vec_col, "cluster"
    )
    (
        assigned.repartition("cluster")
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(f"{path}/vectors")
    )


def ivf_index_topk(
    spark: SparkSession,
    path: str,
    query: DataFrame,
    top_k: int,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a stored index: nprobe nearest clusters -> partition-pruned
    scan -> exact cosine top-k. `query` is a 1-row (q_emb) DataFrame."""
    from sample_data_pipeline_project_spark.operators.similarity import topk_cosine

    centroids = spark.read.parquet(f"{path}/centroids")
    probe = [
        r["cluster"]
        for r in nearest_clusters(centroids, query, nprobe).select("cluster").collect()
    ]
    # literal IN-list on the partition column -> planning-time pruning
    bucket = spark.read.parquet(f"{path}/vectors").filter(
        F.col("cluster").isin(probe)
    )
    return topk_cosine(bucket, query, top_k, id_col, vec_col)
