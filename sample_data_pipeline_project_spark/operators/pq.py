"""Product quantization (PQ) ANN — the memory-compression scale path for
similarity search (Jégou, Douze, Schmid, "Product Quantization for Nearest
Neighbor Search", TPAMI 2011).

Where IVF (operators/ann_index.py) prunes WHICH vectors are scored, PQ
compresses HOW each vector is stored: the d-dim embedding splits into `m`
subvectors, each quantized to one of `k` codebook centroids, so a vector
becomes `m` small integer codes — at (m=4, k=16) that is 2 bytes instead
of 256 bytes of float32 for a 64-dim embedding, a 128x reduction, which is
the difference between an in-memory code table and a 100 TB full-vector
scan. Search runs ADC (asymmetric distance computation): the query builds
an (m x k) table of exact query-subvector-to-centroid distances once
(tiny, broadcast), then every corpus vector's approximate distance is m
table lookups summed — no float vector is touched until an exact re-rank
over the top `refine` ADC candidates restores exact-cosine semantics for
the final top-k.

Every stage is DataFrame-native: codebook training is a GROUPED Lloyd
loop (all m subspaces advance in the same job per iteration, keyed by
sub_id — the same assign/recompute shapes as operators/kmeans.py, m x
fewer jobs); encoding is a broadcast join + per-(vector, subspace) argmin;
ADC scoring is a broadcast-lookup join + keyed sum; candidate selection
and the final ranking are orderBy().limit() (TakeOrderedAndProject) — no
global windows, no driver-side loops over data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sample_data_pipeline_project_spark.operators.kmeans import _mean_vectors, _sq_l2
from sample_data_pipeline_project_spark.operators.materialize import (
    iterate,
    materialize,
)


def _unit_normalized(
    df: DataFrame, vec_col: str, out_col: str | None = None
) -> DataFrame:
    """Replace `vec_col` with its unit-normalized array<double> twin,
    DROPPING zero-norm vectors (no direction; they can never be cosine
    matches, and one NULL among kmeans/PQ's deterministic lowest-id init
    vectors would make a NULL centroid that NULLS-FIRST assignment
    windows rank ahead of every real one, collapsing the codebook).

    WHY normalize (round-8 defect, found by the sf0.1 oracle gate):
    PQ/ADC ranks candidates by squared L2 to the quantized vector, but
    the engine's search semantics are COSINE. On unnormalized vectors
    the two orderings disagree in proportion to norm spread — measured
    at sf0.1 the ADC ordering was near-uninformative (recall@10 of the
    exact cosine top-10 inside the top-100 ADC candidates: 0/10), while
    the sf0.01 gate happened to pass. On the unit sphere
    |q - v|^2 = |q|^2 + 1 - 2 q.v, monotone in cosine for any fixed
    query, so L2-quantizing the NORMALIZED corpus makes ADC order agree
    with cosine order — the standard practice for cosine/IP metrics.

    SHAPE (round-10 bench adjudication): the round-9 version dropped
    zero-norm rows with `.filter(isNotNull(<projected CASE>))` — that
    predicate re-evaluates the whole normalization expression in a
    Filter node on top of the Project, and the CASE/transform inlined
    the norm fold into the lambda body, recomputing the d-element sum
    for each of the d output elements (O(d^2) per row, twice). This
    version (a) filters on the RAW norm before projecting — an O(d)
    pushable predicate — and (b) binds the norm to its own column so
    the transform divides by a computed value (CollapseProject keeps
    non-cheap multiply-referenced aliases materialized): O(d) per row,
    once. Same rows, same values."""
    out = out_col or vec_col
    nrm = f"sqrt(aggregate({vec_col}, CAST(0.0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    return (
        df.filter(F.expr(f"({nrm}) > 0"))
        .withColumn("__nrm", F.expr(nrm))
        .withColumn(
            out,
            F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE) / __nrm)"),
        )
        .drop("__nrm")
    )


def _subvectors(df: DataFrame, m: int, dim: int, vec_col: str) -> DataFrame:
    """Long form (.., sub_id, subvec): vector split into m contiguous
    slices of dim/m elements. dim must divide evenly by m."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    w = dim // m
    slices = F.array(
        *[F.slice(F.col(vec_col), i * w + 1, w) for i in range(m)]
    )
    return df.select(
        "*", F.posexplode(slices).alias("sub_id", "subvec")
    ).drop(vec_col)


def pq_fit(
    corpus: DataFrame,
    m: int,
    k_codes: int,
    dim: int,
    max_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_sample_mod: int = 1,
) -> DataFrame:
    """Train one k-means codebook per subspace; returns
    (sub_id, code, c_vec) with m*k_codes rows — small enough to broadcast
    at any corpus scale (the codebook size is a hyperparameter, not a
    function of N).

    train_sample_mod > 1 trains on the deterministic hash-sample
    pmod(hash(id), mod) == 0 — standard PQ practice (codebooks are a
    statistic of the distribution, not of every row; at 100 TB you train
    on ~10^6 vectors and encode everything), and it keeps the max_iters
    grouped Lloyd jobs proportional to the sample, not the corpus."""
    train = corpus.select(id_col, vec_col)
    if train_sample_mod > 1:
        train = train.filter(
            F.pmod(F.hash(F.col(id_col)), F.lit(train_sample_mod)) == 0
        )
    # widen (round 11, guide 2.5): a single-row-group corpus scans as ONE
    # partition, serializing every Lloyd iteration on one core; widening
    # before the checkpoint is a no-op when the scan is already wide.
    from sample_data_pipeline_project_spark.operators.partitioning import (
        widen,
    )

    subs = materialize(widen(_subvectors(train, m, dim, vec_col)), "checkpoint")
    # GROUPED Lloyd: all m subspace codebooks advance in the SAME job per
    # iteration (keyed by sub_id throughout) — m x fewer Spark jobs than
    # looping kmeans_fit per subspace, identical per-subspace math.
    # Deterministic init: each subspace's k lowest-id subvectors.
    w_init = Window.partitionBy("sub_id").orderBy(F.col(id_col).asc())
    centroids = materialize(
        subs.withColumn("__rn", F.row_number().over(w_init))
        .filter(F.col("__rn") <= k_codes)
        .select(
            "sub_id",
            F.col("__rn").alias("code"),
            F.col("subvec").cast("array<double>").alias("c_vec"),
        ),
        "checkpoint",
    )
    n_init = centroids.count()  # in-memory (eager checkpoint): cheap
    if n_init < m * k_codes:
        raise ValueError(
            f"pq_fit: training set has fewer than k_codes={k_codes} vectors "
            f"({n_init // m if m else 0} per subspace); shrink k_codes or "
            "lower train_sample_mod — an under-filled codebook would "
            "silently degrade every downstream encode"
        )
    # Assignment argmin is a min_by hash aggregate (round 11): the window
    # form shuffled all n*m*k scored rows (subvector payload included)
    # into a sort per (vector, subspace); min_by partially aggregates
    # map-side so the exchange carries n*m rows and no sort runs. The
    # key struct(d2, code) is unique per group (codes are distinct), so
    # the argmin equals the old (d2 ASC, code ASC) tiebreak row-for-row.
    def lloyd(centroids: DataFrame) -> DataFrame:
        assigned = (
            subs.join(F.broadcast(centroids), "sub_id")
            .select(
                id_col,
                "sub_id",
                "subvec",
                "code",
                _sq_l2("subvec", "c_vec").alias("d2"),
            )
            .groupBy(id_col, "sub_id")
            .agg(
                F.min_by(
                    F.struct("subvec", "code"), F.struct("d2", "code")
                ).alias("__best")
            )
            .select(
                id_col,
                "sub_id",
                F.col("__best.subvec").alias("subvec"),
                F.col("__best.code").alias("code"),
            )
        )
        recomputed = _mean_vectors(assigned, ["sub_id", "code"], "subvec", "new_vec")
        # Empty-cluster preservation: a code whose cluster received zero
        # points this round (possible when init rows collide — duplicate
        # subvectors among the k lowest ids — since the argmin tiebreak
        # sends every point to the lower code) keeps its previous
        # centroid instead of silently vanishing; otherwise the codebook
        # would shrink below m*k_codes and every downstream encode would
        # quietly degrade.
        return centroids.join(recomputed, ["sub_id", "code"], "left").select(
            "sub_id",
            "code",
            F.coalesce("new_vec", "c_vec").alias("c_vec"),
        )

    return iterate(centroids, lloyd, max_iters, name="pq_fit")


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    m: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, sub_id, code): nearest codebook centroid per subspace —
    the compressed representation (long form; m rows of two small ints
    per vector). Broadcast join against the (m x k)-row codebook, argmin
    via a per-(vector, subspace) min_by hash aggregate — map-side
    combinable, never a sort, never global."""
    subs = _subvectors(corpus.select(id_col, vec_col), m, dim, vec_col)
    scored = subs.join(F.broadcast(codebooks), "sub_id").select(
        id_col,
        "sub_id",
        "code",
        _sq_l2("subvec", "c_vec").alias("d2"),
    )
    # min_by hash-aggregate argmin (round 11; see pq_fit): map-side
    # partial agg instead of an n*m*k-row sort window — same rows out.
    return (
        scored.groupBy(id_col, "sub_id")
        .agg(F.min_by("code", F.struct("d2", "code")).alias("code"))
        .select(id_col, "sub_id", "code")
    )


def pq_adc_topk(
    corpus: DataFrame,
    query: DataFrame,
    m: int,
    k_codes: int,
    dim: int,
    top_k: int,
    refine: int,
    max_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_sample_mod: int = 1,
) -> DataFrame:
    """PQ-ADC search with exact re-rank: train codebooks, encode the
    corpus, build the query's (m x k) distance table, score every vector
    by m lookups, keep the `refine` best ADC candidates
    (TakeOrderedAndProject), then exact-cosine re-rank just those and
    return the top_k as (vec_id, cosine_sim) — identical schema to
    topk_cosine. `query` is a 1-row frame with column q_emb."""
    from sample_data_pipeline_project_spark.operators.similarity import (
        topk_cosine,
    )

    # Quantize the UNIT-NORMALIZED corpus (see _unit_normalized: on the
    # sphere, ADC's L2 order IS the cosine order); the exact re-rank
    # below still runs on the ORIGINAL vectors, so final semantics are
    # unchanged — only candidate quality improves. Zero-norm vectors
    # are dropped inside _unit_normalized (raw-norm filter, see its
    # docstring): they can never be cosine matches, and one NULL
    # centroid would collapse the codebook under NULLS-FIRST windows.
    unit = _unit_normalized(corpus.select(id_col, vec_col), vec_col)
    codebooks = pq_fit(
        unit, m, k_codes, dim, max_iters, id_col, vec_col, train_sample_mod
    )
    codes = pq_encode(unit, codebooks, m, dim, id_col, vec_col)
    # Query distance table: exact q-subvector to centroid distances
    # (query normalization is unnecessary: |q| is constant across
    # candidates, so it shifts every ADC distance equally).
    qsubs = _subvectors(
        query.select(F.col("q_emb").alias("__qv")), m, dim, "__qv"
    ).select("sub_id", F.col("subvec").alias("q_sub"))
    dtable = (
        F.broadcast(codebooks)
        .join(F.broadcast(qsubs), "sub_id")
        .select("sub_id", "code", _sq_l2("q_sub", "c_vec").alias("qd2"))
    )
    adc = (
        codes.join(F.broadcast(dtable), ["sub_id", "code"])
        .groupBy(id_col)
        .agg(F.sum("qd2").alias("adc_d2"))
    )
    cand_ids = (
        adc.orderBy(F.asc_nulls_last("adc_d2"), F.col(id_col).asc())
        .limit(refine)
        .select(id_col)
    )
    cands = corpus.join(F.broadcast(cand_ids), id_col)
    return topk_cosine(cands, query, top_k, id_col, vec_col)


def ivfpq_topk(
    corpus: DataFrame,
    query: DataFrame,
    k_coarse: int,
    nprobe: int,
    m: int,
    k_codes: int,
    dim: int,
    top_k: int,
    refine: int,
    max_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_sample_mod: int = 1,
) -> DataFrame:
    """IVF-PQ with RESIDUAL quantization — the FAISS IVFPQ composite and
    the canonical billion-scale ANN layout: a coarse quantizer prunes
    WHICH inverted lists are scanned (nprobe/k_coarse of the corpus), PQ
    compresses WHAT each list stores (m small codes of the residual
    vector x - coarse_centroid, which has far less variance than x, so
    the same codebook budget quantizes much finer), and ADC scores the
    probed lists with per-list lookup tables before an exact-cosine
    re-rank of the `refine` best candidates.

    All stages are DataFrame-native: coarse training/assignment reuse
    operators/kmeans.py; residuals are one zip_with projection; PQ
    training/encoding reuse pq_fit/pq_encode on the residual frame; the
    per-(probed list, subspace, code) distance-table is nprobe*m*k_codes
    rows — broadcast; candidate selection and the final ranking are
    TakeOrderedAndProject. `query` is a 1-row frame with column q_emb.
    """
    from sample_data_pipeline_project_spark.operators.kmeans import (
        assign_clusters,
        kmeans_fit,
        nearest_clusters,
    )
    from sample_data_pipeline_project_spark.operators.similarity import (
        topk_cosine,
    )

    # The whole quantization pipeline (coarse lists, residuals, PQ)
    # runs in the UNIT-NORMALIZED space so L2 structure agrees with the
    # cosine search metric (see _unit_normalized); the exact re-rank at
    # the end still reads the ORIGINAL vectors. Zero-norm vectors are
    # dropped inside _unit_normalized (raw-norm filter): one NULL in
    # the deterministic lowest-id kmeans/PQ init makes a NULL centroid
    # that NULLS-FIRST assignment ranks first, collapsing the coarse
    # quantizer.
    unit = _unit_normalized(corpus.select(id_col, vec_col), vec_col)
    nq = "sqrt(aggregate(q_emb, CAST(0.0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    uquery = query.select(
        F.expr(
            f"CASE WHEN {nq} > 0 THEN transform(q_emb, x -> CAST(x AS DOUBLE) / {nq}) ELSE q_emb END"
        ).alias("q_emb")
    )
    coarse = kmeans_fit(unit, k_coarse, max_iters, id_col, vec_col)
    assigned = assign_clusters(unit, coarse, id_col, vec_col).select(
        id_col, "cluster"
    )
    sub = F.expr(
        f"zip_with({vec_col}, c_vec, (x, y) -> CAST(x AS DOUBLE) - y)"
    )
    residuals = (
        unit.join(assigned, id_col)
        .join(F.broadcast(coarse), "cluster")
        .select(id_col, "cluster", sub.alias("__res"))
    )
    codebooks = pq_fit(
        residuals, m, k_codes, dim, max_iters, id_col, "__res",
        train_sample_mod,
    )
    codes = pq_encode(residuals, codebooks, m, dim, id_col, "__res").join(
        assigned, id_col
    )
    # Probe the nprobe coarse lists nearest the (normalized) query.
    probe = nearest_clusters(coarse, uquery, nprobe)
    # Per-list query residual, then the (cluster, sub_id, code) lookup
    # table: nprobe * m * k_codes rows.
    qres = probe.crossJoin(F.broadcast(uquery)).select(
        "cluster",
        F.expr(
            "zip_with(q_emb, c_vec, (x, y) -> CAST(x AS DOUBLE) - y)"
        ).alias("__qr"),
    )
    qsubs = _subvectors(qres, m, dim, "__qr").select(
        "cluster", "sub_id", F.col("subvec").alias("q_sub")
    )
    dtable = (
        F.broadcast(codebooks)
        .join(F.broadcast(qsubs), "sub_id")
        .select(
            "cluster", "sub_id", "code", _sq_l2("q_sub", "c_vec").alias("qd2")
        )
    )
    adc = (
        codes.join(F.broadcast(dtable), ["cluster", "sub_id", "code"])
        .groupBy(id_col)
        .agg(F.sum("qd2").alias("adc_d2"))
    )
    cand_ids = (
        adc.orderBy(F.asc_nulls_last("adc_d2"), F.col(id_col).asc())
        .limit(refine)
        .select(id_col)
    )
    cands = corpus.join(F.broadcast(cand_ids), id_col)
    return topk_cosine(cands, query, top_k, id_col, vec_col)
