"""Measure ANN recall for the trained/randomized ANN family at every
gate scale, for the per-scale certification floors (the C227 pattern,
extended round 10 to IVF C18, PQ-ADC C37, IVFPQ C42, RP-LSH C9).

Why: single recall bounds decay silently across scales — round 8 caught
a PQ 4x16 codebook at recall 0 at sf0.1 while the sf0.01 gate passed,
and round 9 caught nprobe=4 IVF recall decaying 0.83 -> 0.66 across one
decade. A floor pinned per scale ~0.1 under the MEASURED value fails a
silent regression to that class at ANY gate scale.

Usage: python tools/measure_ann_recall.py [sf_dir ...]
Prints one JSON object per line; aggregate goes into RECALL_CERT.json.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    from pyspark.sql import functions as F

    from sample_data_pipeline_project_spark.engine import get_spark
    from sample_data_pipeline_project_spark.operators.kmeans import (
        kmeans_ivf_topk,
    )
    from sample_data_pipeline_project_spark.operators.pq import (
        ivfpq_topk,
        pq_adc_topk,
    )
    from sample_data_pipeline_project_spark.operators.similarity import (
        neardup_cosine_pairs_blocked,
        rp_lsh_neardup_pairs,
        rp_lsh_topk_cosine,
        topk_cosine,
    )
    from sample_data_pipeline_project_spark.sources.catalog import load_table
    from sample_data_pipeline_project_spark.workloads.similarity_queries import (
        _K,
        _NEARDUP_THRESHOLD,
        _PQ_DIM,
        _PQ_K_CODES,
        _PQ_M,
        _PQ_REFINE,
        _QUERY_ID,
    )

    sf_dirs = sys.argv[1:] or [
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ]
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, dict] = {}

    for sf_dir in sf_dirs:
        emb = load_table(spark, sf_dir, "embeddings")
        q = emb.filter(F.col("vec_id") == _QUERY_ID).select(
            F.col("embedding").alias("q_emb")
        )
        corpus = emb.filter(F.col("vec_id") != _QUERY_ID)
        exact = {
            r["vec_id"] for r in topk_cosine(corpus, q, _K).collect()
        }

        def topk_recall(df) -> float:
            got = {r["vec_id"] for r in df.collect()}
            return len(got & exact) / len(exact)

        row: dict[str, float] = {}
        row["sim_kmeans_ivf_topk"] = topk_recall(
            kmeans_ivf_topk(corpus, q, k_clusters=8, top_k=_K, nprobe=2)
        )
        row["sim_lsh_topk"] = topk_recall(rp_lsh_topk_cosine(corpus, q, _K))
        row["sim_pq_adc_topk"] = topk_recall(
            pq_adc_topk(
                corpus, q, m=_PQ_M, k_codes=_PQ_K_CODES, dim=_PQ_DIM,
                top_k=_K, refine=_PQ_REFINE, train_sample_mod=4,
            )
        )
        row["sim_ivfpq_topk"] = topk_recall(
            ivfpq_topk(
                corpus, q, k_coarse=8, nprobe=2, m=_PQ_M,
                k_codes=_PQ_K_CODES, dim=_PQ_DIM, top_k=_K,
                refine=_PQ_REFINE, max_iters=2, train_sample_mod=4,
            )
        )
        exact_pairs = {
            (r["a"], r["b"])
            for r in neardup_cosine_pairs_blocked(emb, _NEARDUP_THRESHOLD)
            .select("a", "b")
            .collect()
        }
        found = {
            (r["a"], r["b"])
            for r in rp_lsh_neardup_pairs(emb, _NEARDUP_THRESHOLD)
            .select("a", "b")
            .collect()
        }
        row["sim_rplsh_neardup"] = (
            len(found & exact_pairs) / len(exact_pairs)
            if exact_pairs
            else 1.0
        )
        row["sim_rplsh_neardup_false_pos"] = float(
            len(found - exact_pairs)
        )
        out[sf_dir.rstrip("/").rsplit("/", 1)[-1]] = row
        print(json.dumps({sf_dir: row}), flush=True)

    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
