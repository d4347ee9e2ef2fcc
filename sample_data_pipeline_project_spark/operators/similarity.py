"""Similarity search over embedding columns (B3).

Brute-force cosine top-k is the exact baseline: a broadcast of the query
vector against a single scan of the corpus — embarrassingly parallel, no
shuffle except the final top-k merge (TakeOrderedAndProject: per-partition
heap + driver merge, never a global sort).

The scale path is IVF (inverted-file) coarse quantization: vectors are
assigned to their nearest centroid once (write-time in a real deployment;
here computed on the fly), and a query probes only `nprobe` nearest
centroid buckets — turning O(N) scans into O(N * nprobe / C). Centroid
choice here is deterministic (the first C vectors by id) so the oracle can
replicate it; swap in k-means offline for real recall.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sample_data_pipeline_project_spark.functions.vectors import (
    cosine,
    cosine_arrow,
    dot,
)
from sample_data_pipeline_project_spark.operators.materialize import materialize


def topk_cosine(
    corpus: DataFrame,
    query: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vec_col: str = "q_emb",
    with_vector: bool = False,
) -> DataFrame:
    """Exact top-k by cosine: broadcast the 1-row query, score every corpus
    vector JVM-side, take the global top-k (deterministic id tiebreak).
    `with_vector=True` carries the matched corpus embedding through as a
    TYPED `array<float>` payload column (rerank/serving wants the vector
    back, not just the id) — it rides the same TakeOrderedAndProject, so
    the plan shape is unchanged: per-partition heap, driver merge of
    k-row heads, never a global sort."""
    payload = [F.col(vec_col)] if with_vector else []
    scored = corpus.crossJoin(F.broadcast(query)).select(
        F.col(id_col),
        cosine(vec_col, query_vec_col).alias("cosine_sim"),
        *payload,
    )
    return scored.orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc()).limit(k)


def neardup_cosine_pairs(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs: unordered (a < b) with cosine >= threshold.
    Exact quadratic form — correct baseline; use `ivf_assign` buckets or
    random-hyperplane LSH to cut the cross product at scale."""
    a = corpus.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"))
    b = corpus.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb"))
    return (
        a.join(b, F.col("a") < F.col("b"))
        .select("a", "b", cosine("va", "vb").alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


def neardup_cosine_pairs_blocked(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_blocks: int | None = None,
) -> DataFrame:
    """Exact cosine near-dup pairs via BLOCKED MATMUL filter-verify: same
    output as `neardup_cosine_pairs`, without the row-at-a-time quadratic
    join.

    Stage 1 (filter): hash-assign vectors to `num_blocks` blocks; replicate
    each block into its (B*(B+1)/2) block-pair groups; inside each group an
    Arrow-batched pandas UDF runs ONE BLAS matmul over the normalized
    float64 matrices and emits candidate id pairs with approximate cosine
    >= threshold - margin. Shuffle volume is N*(B+1)/2 rows — linear in N
    with a tunable replication factor (classic block-nested similarity
    join; at cluster scale pick B ~ sqrt(#reducers)). Each of the
    B*(B+1)/2 block-pair groups pays a fixed Arrow-dispatch cost, so B
    trades parallelism against overhead: on the bench corpus B=8's 36
    groups ran 6.6s where B=4's 10 groups run 1.7s for the same output —
    raise B with corpus size, not ahead of it. `num_blocks=None`
    (default) enforces exactly that: B = ceil(n / 2500) clamped to
    [4, 256], so a group's similarity matrix stays ~50 MB at any corpus
    size — a FIXED default B=4 meant 20 GB per-task matrices at 200k
    vectors (found by the round-8 sf10 probe: python worker OOM). The
    result is B-invariant, so the sizing count never changes answers.

    Stage 2 (verify): join the (few) candidates back to the vectors and
    recompute the cosine with the deterministic JVM left-fold
    (functions/vectors.py), filtering at the exact threshold — so results
    are bit-identical to the naive operator and to the SQL oracle; the
    BLAS pass only prunes, never decides.
    """
    spark = corpus.sparkSession
    margin = 1e-6
    if num_blocks is None:
        n = corpus.count()
        num_blocks = max(4, min(256, (n + 2499) // 2500))
    pairs_meta = [
        (i, j) for i in range(num_blocks) for j in range(i, num_blocks)
    ]
    pairs_df = spark.createDataFrame(pairs_meta, "pa int, pb int")
    v = corpus.select(
        F.col(id_col).cast("long").alias("vid"),
        F.col(vec_col).alias("vec"),
        F.pmod(F.hash(F.col(id_col)), F.lit(num_blocks)).alias("blk"),
    )
    side_a = v.join(pairs_df, v.blk == pairs_df.pa).select(
        "pa", "pb", "vid", "vec", F.lit("a").alias("side")
    )
    side_b = v.join(pairs_df, v.blk == pairs_df.pb).select(
        "pa", "pb", "vid", "vec", F.lit("b").alias("side")
    )
    tagged = side_a.unionByName(side_b)

    def find_candidates(key, pdf):
        import numpy as np

        pa, pb = key
        rows_a = pdf[pdf["side"] == "a"]
        rows_b = pdf[pdf["side"] == "b"]
        if rows_a.empty or rows_b.empty:
            return pd.DataFrame({"a": [], "b": []}).astype("int64")
        ma = np.stack(rows_a["vec"].to_numpy()).astype("float64")
        mb = np.stack(rows_b["vec"].to_numpy()).astype("float64")
        ma /= np.linalg.norm(ma, axis=1, keepdims=True)
        mb /= np.linalg.norm(mb, axis=1, keepdims=True)
        sims = ma @ mb.T
        ia, ib = np.nonzero(sims >= threshold - margin)
        ids_a = rows_a["vid"].to_numpy()[ia]
        ids_b = rows_b["vid"].to_numpy()[ib]
        lo = np.minimum(ids_a, ids_b)
        hi = np.maximum(ids_a, ids_b)
        keep = lo < hi  # drop self-pairs (diagonal group sees x with x)
        return pd.DataFrame({"a": lo[keep], "b": hi[keep]})

    cands = (
        tagged.groupBy("pa", "pb")
        .applyInPandas(find_candidates, "a long, b long")
        .distinct()  # diagonal groups emit each unordered pair twice
    )
    ea = corpus.select(
        F.col(id_col).cast("long").alias("a"), F.col(vec_col).alias("va")
    )
    eb = corpus.select(
        F.col(id_col).cast("long").alias("b"), F.col(vec_col).alias("vb")
    )
    verified = (
        cands.join(ea, "a")
        .join(eb, "b")
        .select("a", "b", cosine("va", "vb").alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )
    # Cache the (tiny) verified pair set: the pair workload and the LSH
    # recall certification run this identical plan in one session, and
    # Spark's plan-equality cache makes the second execution a memory read
    # — the in-plan stand-in for materializing the pair table once.
    return materialize(verified, "cache")


def _rp_planes(dim: int, num_planes: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes: component (p, d) is an
    md5-derived value in [-0.5, 0.5). Derived once driver-side and embedded
    as array literals — computing them inside the row expression would
    re-run dim*planes md5 calls per row (measured 2ms/row: the whole
    operator's cost). No RNG state: reproducible across runs/engines."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"{p}|{d}".encode()).hexdigest()[:6], 16) / 16777216.0
            - 0.5
            for d in range(dim)
        ]
        for p in range(num_planes)
    ]


def _rp_sign_bits(vec_col: str, dim: int, num_planes: int) -> F.Column:
    """All `num_planes` sign bits of <vec, plane_p> as ONE array<int>
    column, computed by an Arrow-batched matmul: each batch does a single
    (batch x dim) @ (dim x planes) BLAS call. The earlier per-plane
    zip_with/aggregate expressions were JVM-side but *interpreted* (HOFs
    don't enter whole-stage codegen), costing ~1 s per 2k x 64-dim x 16
    planes; the matmul is microseconds. Deterministic for a fixed numpy —
    the planes are md5-derived constants shipped in the closure."""
    from pyspark.sql.types import ArrayType, IntegerType

    planes_t = np.array(_rp_planes(dim, num_planes), dtype="float64").T

    @F.pandas_udf(ArrayType(IntegerType()))
    def _bits(v: pd.Series) -> pd.Series:
        A = np.stack(v.to_numpy()).astype("float64")
        S = (A @ planes_t >= 0).astype("int32")
        return pd.Series(list(S))

    return _bits(F.col(vec_col))


def _rp_banded(
    df: DataFrame, id_col: str, num_planes: int, bands: int
) -> DataFrame:
    """(id, band_idx, band_sig) — one row per band, band_sig the bits of
    that band packed into an int (codegen-friendly join key). `df` must
    carry the `bits` array column from `_rp_sign_bits`."""
    width = num_planes // bands
    band_cols = [
        F.struct(
            F.lit(b).alias("band_idx"),
            sum(
                (F.col("bits")[b * width + j] * (1 << j) for j in range(width)),
                F.lit(0),
            ).alias("band_sig"),
        )
        for b in range(bands)
    ]
    return df.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bk")
    ).select(
        id_col,
        F.col("bk.band_idx").alias("band_idx"),
        F.col("bk.band_sig").alias("band_sig"),
    )


def rp_lsh_neardup_pairs(
    corpus: DataFrame,
    threshold: float,
    num_planes: int = 16,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """APPROXIMATE cosine near-dup pairs via random-hyperplane LSH
    (Charikar's SimHash for real vectors): sign bits of dot products with
    `num_planes` deterministic pseudo-random hyperplanes, banded so only
    vectors agreeing on a whole band of signs ever meet a join; survivors
    re-verified with the exact JVM cosine.

    Precision is 1.0 (verification is exact); recall < 1.0 — pairs whose
    sign signatures differ in every band are missed. P[sign bit agrees] =
    1 - angle/pi, so higher thresholds -> higher recall; tune
    num_planes/bands for the recall/cost point. This is the
    candidates-generation shape that scales past the blocked matmul: no
    replication, one equi-join on (band, signature).

    Hyperplane h[p][d] is a deterministic hash of (p, d) mapped to
    [-0.5, 0.5): reproducible across runs/engines with no RNG state.
    """
    if num_planes % bands:
        raise ValueError("bands must divide num_planes")
    dim = len(corpus.select(vec_col).first()[0])
    # cached: both band-join sides read the signature table
    sig = materialize(
        corpus.select(
            F.col(id_col), _rp_sign_bits(vec_col, dim, num_planes).alias("bits")
        ),
        "cache",
    )
    banded = _rp_banded(sig, id_col, num_planes, bands)
    cands = (
        banded.select(F.col(id_col).alias("a"), "band_idx", "band_sig")
        .join(
            banded.select(F.col(id_col).alias("b"), "band_idx", "band_sig"),
            ["band_idx", "band_sig"],
        )
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    ea = corpus.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"))
    eb = corpus.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb"))
    # candidate sets at a loose threshold run 10^5..10^6 pairs even at toy
    # scale — the Arrow-batched cosine keeps the verify vectorized while
    # staying bit-identical to the JVM fold (see functions/vectors.py)
    return (
        cands.join(ea, "a")
        .join(eb, "b")
        .select("a", "b", cosine_arrow("va", "vb").alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


def rp_lsh_topk_cosine(
    corpus: DataFrame,
    query: DataFrame,
    k: int,
    num_planes: int = 16,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vec_col: str = "q_emb",
) -> DataFrame:
    """APPROXIMATE top-k by cosine via LSH bucket probing: the query's band
    signatures select candidate buckets (vectors sharing >= 1 whole band of
    sign bits with the query); candidates are re-ranked with the exact JVM
    cosine. The LSH-bucketed "scale path" next to IVF: a query touches only
    the rows hashing near it — O(collisions), not O(N) — and the bucket
    probe is an equi-join on (band_idx, band_sig), partitionable at any
    scale.

    Returns UP TO k rows (fewer if the buckets hold fewer candidates);
    recall < 1.0 by construction. The same banded signature table serves
    every query — in a deployment it is a write-time artifact, like the IVF
    assignment."""
    if num_planes % bands:
        raise ValueError("bands must divide num_planes")
    dim = len(corpus.select(vec_col).first()[0])
    sig = corpus.select(
        F.col(id_col), _rp_sign_bits(vec_col, dim, num_planes).alias("bits")
    )
    banded = _rp_banded(sig, id_col, num_planes, bands)
    q_sig = query.select(
        F.lit(0).alias("__qid"),
        _rp_sign_bits(query_vec_col, dim, num_planes).alias("bits"),
    )
    q_banded = _rp_banded(q_sig, "__qid", num_planes, bands).select(
        "band_idx", "band_sig"
    )
    cand_ids = (
        banded.join(F.broadcast(q_banded), ["band_idx", "band_sig"])
        .select(id_col)
        .distinct()
    )
    return topk_cosine(
        corpus.join(cand_ids, id_col), query, k, id_col, vec_col, query_vec_col
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "c_emb",
) -> DataFrame:
    """Assign every vector to its nearest centroid (max cosine, id
    tiebreak): the IVF coarse quantizer. Centroids broadcast; one pass.
    `widen` (round 11, guide 2.5): a single-row-group corpus scans as
    ONE partition, serializing the N*C score map side on one core —
    no-op when the scan is already wide."""
    from sample_data_pipeline_project_spark.operators.partitioning import (
        widen,
    )

    scored = widen(corpus).crossJoin(F.broadcast(centroids)).select(
        F.col(id_col),
        F.col(centroid_id_col),
        cosine(vec_col, centroid_vec_col).alias("c_sim"),
    )
    # Argmax is a max_by HASH AGGREGATE, not a row_number window (round
    # 11, guide §2.3/§2.4): the window shuffled all N*C scored rows into
    # a per-vector sort; max_by partially aggregates map-side so the
    # exchange carries N rows and no sort runs. Ordering key
    # struct(c_sim, -centroid_id) is unique per vector (centroid ids are
    # distinct) and its MAX is exactly the old (c_sim DESC, centroid_id
    # ASC) head — including NaN scores, which Spark orders greatest, the
    # same place a DESC sort put them.
    return (
        scored.groupBy(id_col)
        .agg(
            F.max_by(
                F.struct(centroid_id_col, "c_sim"),
                F.struct("c_sim", (-F.col(centroid_id_col)).alias("__neg")),
            ).alias("__best")
        )
        .select(id_col, "__best.*")
    )


def ivf_topk_cosine(
    corpus: DataFrame,
    query: DataFrame,
    num_centroids_df: DataFrame,
    k: int,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF search: probe the `nprobe` centroid buckets nearest the query,
    exact top-k within them. `num_centroids_df` holds (centroid_id, c_emb)."""
    assigned = ivf_assign(corpus, num_centroids_df, id_col, vec_col)
    q_probe = (
        num_centroids_df.crossJoin(F.broadcast(query))
        .select("centroid_id", cosine("c_emb", "q_emb").alias("q_sim"))
        .orderBy(F.col("q_sim").desc(), F.col("centroid_id").asc())
        .limit(nprobe)
        .select("centroid_id")
    )
    bucket = corpus.join(
        assigned.join(F.broadcast(q_probe), "centroid_id").select(id_col), id_col
    )
    return topk_cosine(bucket, query, k, id_col, vec_col)


def batch_topk_cosine(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    with_vector: bool = False,
) -> DataFrame:
    """EXACT top-k per query for a BATCH of query vectors in one corpus
    scan — the online-serving shape (Q queries amortize one pass) and the
    map-side-combine shape at rest: each Arrow batch emits only its local
    top-k per query, so the shuffle into the final per-query merge carries
    O(batches * Q * k) rows, never the Q x N score matrix.

    The query batch rides into the task as a closure broadcast
    (collect() bounded by the online batch size, the same API-edge
    contract as the 1-row query in `topk_cosine`). Scores are computed
    per query with a strict left-to-right cumsum fold (the
    `cosine_arrow` parity trick), so every score is bit-identical to the
    JVM aggregate() and the DuckDB oracle — local top-k selection by
    exact score therefore loses nothing, making the two-stage top-k
    exact rather than approximately-recalled. Final merge: a per-query
    window over the surviving candidates (bounded rows per query), never
    a global sort. Returns (query_id, vec_id, cosine_sim, rank).

    `with_vector=True` re-attaches the matched corpus embedding as a
    TYPED `array<float>` column: the (Q*k)-row result is BROADCAST back
    against one corpus scan (BHJ — the corpus side never shuffles), so
    the Q x N score path stays payload-free and only the k winners ever
    carry vector bytes through an exchange."""
    qrows = queries.select(query_id_col, vec_col).collect()
    q_ids = [r[0] for r in qrows]
    q_mat = np.array([r[1] for r in qrows], dtype=np.float64)
    q_norms = np.sqrt(np.cumsum(q_mat * q_mat, axis=1)[:, -1])

    def score_batches(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            m = np.array(list(pdf[vec_col]), dtype=np.float64)
            if m.size == 0:
                continue
            m_norms = np.sqrt(np.cumsum(m * m, axis=1)[:, -1])
            out_q, out_id, out_s = [], [], []
            for qi, q_id in enumerate(q_ids):
                keep = ids != q_id
                if not keep.any():
                    continue
                prods = m[keep] * q_mat[qi]
                dots = np.cumsum(prods, axis=1)[:, -1]
                denom = m_norms[keep] * q_norms[qi]
                with np.errstate(invalid="ignore", divide="ignore"):
                    scores = dots / denom
                kids = ids[keep]
                valid = denom != 0
                scores, kids = scores[valid], kids[valid]
                # local exact top-k: order by (-score, id); ties broken by id
                order = np.lexsort((kids, -scores))[:k]
                out_q.extend([q_id] * len(order))
                out_id.extend(kids[order])
                out_s.extend(scores[order])
            yield pd.DataFrame(
                {query_id_col: out_q, id_col: out_id, "cosine_sim": out_s}
            )

    cand = corpus.select(id_col, vec_col).mapInPandas(
        score_batches, f"{query_id_col} long, {id_col} long, cosine_sim double"
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    )
    res = (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine_sim", F.col("rank").cast("long"))
    )
    if not with_vector:
        return res
    return corpus.select(id_col, vec_col).join(F.broadcast(res), id_col).select(
        query_id_col, id_col, "cosine_sim", "rank", vec_col
    )


def _preselect_exact_scores(
    ids_src, ids_dst, msrc, mdst, nsrc, ndst, s, k_local, threshold, margin,
    saturate=True,
):
    """Shared core of the kNN-graph builders: BLAS-preselect each source
    row's local top-`k_local` candidates above `threshold - margin`, then
    re-score the selection with the exact strict left-to-right cumsum
    fold (JVM/oracle parity). Self-matches are masked by id equality.

    SATURATION GUARD (`saturate=True`): if a row's k-th (weakest
    selected) approx score still clears threshold - margin, candidates
    OUTSIDE the selection may clear the exact threshold too — that row
    WIDENS to every candidate above the margin, so the preselection can
    never drop a true top-d neighbor (completeness holds
    unconditionally; slack only tunes how often the denser widened path
    runs). The EXACT builder (C222) requires this.

    `saturate=False` caps emission at k_local per source row — the
    APPROXIMATE (IVF) builder's setting: inside a dense cell the widened
    path emits ~density * cell_size pairs per row, which the round-9
    sf100 probe measured as >60 GB of candidate spill from a handful of
    skewed 100k+-row cells (a DISK death, after the memory death was
    fixed). Capping bounds the whole candidate stream at
    N * nprobe * k_local rows — linear in N. The cost is the
    adversarial corner the guard exists for (>k_local candidates within
    float-approx margin of each other): top-d-among-candidates can then
    differ at ties, which is inside the IVF variant's approximate
    contract and covered by the C227 recall certification.

    Returns (row_idx, col_idx, exact_scores) for candidates whose EXACT
    cosine >= threshold; row/col index into ids_src/ids_dst."""
    import numpy as np

    same = ids_src[:, None] == ids_dst[None, :]
    s = np.where(same, -np.inf, s)
    n_src, n_cand = s.shape
    k = min(k_local, n_cand)
    sel = np.argpartition(-s, k - 1, axis=1)[:, :k]  # (n_src, k)
    if k < n_cand and saturate:
        cut = s[np.arange(n_src)[:, None], sel].min(axis=1)
        sat = cut >= threshold - margin
    else:
        sat = np.zeros(n_src, dtype=bool)
    rows = np.repeat(np.arange(n_src), k)
    cols = sel.ravel()
    unsat = ~sat[rows]
    rows, cols = rows[unsat], cols[unsat]
    if sat.any():
        wr, wc = np.nonzero(s[sat] >= threshold - margin)
        rows = np.concatenate([rows, np.flatnonzero(sat)[wr]])
        cols = np.concatenate([cols, wc])
    approx_ok = s[rows, cols] >= threshold - margin
    rows, cols = rows[approx_ok], cols[approx_ok]
    # exact score for every surviving candidate: the same strict
    # left-to-right cumsum fold, over a flat (pair, dim) gather.
    prods = msrc[rows] * mdst[cols]
    dots = np.cumsum(prods, axis=1)[:, -1]
    denom = nsrc[rows] * ndst[cols]
    with np.errstate(invalid="ignore", divide="ignore"):
        exact = np.where(denom != 0, dots / denom, -np.inf)
    exact_ok = exact >= threshold
    return rows[exact_ok], cols[exact_ok], exact[exact_ok]


def knn_mutual_edges(
    corpus: DataFrame,
    d: int,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_blocks: int | None = None,
    local_slack: int = 8,
    n_rows: int | None = None,
) -> DataFrame:
    """MUTUAL k-NN similarity graph: undirected edges (a < b, exact
    cosine_sim) where EACH endpoint ranks the other within its top-`d`
    neighbors at cosine >= `threshold` (exact-cosine rank, ties by
    neighbor id). Mutuality makes the degree bound HARD: deg(v) <= d,
    so wedge counts downstream (Adamic-Adar, clustering coefficient)
    are O(N * d^2) — linear in corpus size.

    Why this operator exists (round-7 scale finding): a fixed-threshold
    similarity graph has edge count Theta(density * N^2) — measured on
    the embeddings corpus at threshold 0.3: 14,922 edges at sf0.1 ->
    1,524,018 at sf1 (102x for 10x vectors), wedges 472,910 ->
    467,599,654 (~1000x). No wedge-join cleverness survives that input
    growth; the graph CONSTRUCTION is what must be degree-bounded.

    Plan shape (all stages bounded):
      1. blocked scan (same tagging as neardup_cosine_pairs_blocked):
         each block-pair group BLAS-preselects each row's local top
         (d + local_slack) candidates above threshold-margin, then
         RE-SCORES just those with the strict left-to-right cumsum fold
         (the batch_topk_cosine parity trick — bit-identical to the JVM
         aggregate() and the DuckDB oracle) and emits them WITH the
         exact score. Candidate volume is O(N * (d + slack) * B); no
         vector ever re-joins and no JVM fold stage exists, because the
         exact score left the UDF with the pair;
      2. per-src window rank over the <= B*(d+slack) candidates each
         vertex has (partitioned by vertex — no global window) -> the
         directed exact top-d lists;
      3. self-join on the reversed pair -> mutual edges.

    BLAS preselection only PRUNES; every kept score is exact, and the
    selection is UNCONDITIONALLY complete: if the k_local-th approx
    score still clears threshold - margin (selection saturated — more
    thresholded candidates exist than the slack window holds), the row
    WIDENS to every candidate above threshold - margin and exact-scores
    them all, so no true top-d neighbor can be dropped by BLAS-vs-fold
    disagreement at the cutoff. The slack only tunes how often the
    widened (denser) path runs; on a degenerate corpus where most rows
    saturate, per-group cost approaches exact all-pairs within the
    group — the intrinsic price of exact thresholds on dense data.

    `num_blocks=None` sizes B from the corpus (~2,500 vectors per
    block, clamped to [4, 256] — the upper clamp keeps group count
    B*(B+1)/2 bounded; past ~640k vectors exact all-pairs kNN is the
    wrong tool regardless and the ANN tier is the scale path). Block
    size bounds PER-TASK memory: a group's similarity matrix is
    (n/B)^2 doubles, so ~2,500-wide blocks hold every task near 50 MB
    no matter the corpus size. B is a pure parallelism knob — each block-pair
    group's local top-k is a superset of the global top-d restricted to
    that group at ANY B, so the result is B-invariant; what B tunes is
    group count (B*(B+1)/2 tasks) versus per-group matmul size. Sizing
    needs a row count: pass `n_rows` if the caller already knows it
    (or the corpus is a derived plan, where `corpus.count()` is a full
    materialization that would re-run per invocation); when omitted it
    is computed once here — cheap for a raw parquet scan (footer
    metadata), a real job for anything derived."""
    spark = corpus.sparkSession
    margin = 1e-6
    k_local = d + local_slack
    if num_blocks is None:
        n = corpus.count() if n_rows is None else n_rows
        num_blocks = max(4, min(256, (n + 2499) // 2500))
    pairs_meta = [
        (i, j) for i in range(num_blocks) for j in range(i, num_blocks)
    ]
    pairs_df = spark.createDataFrame(pairs_meta, "pa int, pb int")
    v = corpus.select(
        F.col(id_col).cast("long").alias("vid"),
        F.col(vec_col).alias("vec"),
        F.pmod(F.hash(F.col(id_col)), F.lit(num_blocks)).alias("blk"),
    )
    side_a = v.join(pairs_df, v.blk == pairs_df.pa).select(
        "pa", "pb", "vid", "vec", F.lit("a").alias("side")
    )
    side_b = v.join(pairs_df, v.blk == pairs_df.pb).select(
        "pa", "pb", "vid", "vec", F.lit("b").alias("side")
    )
    tagged = side_a.unionByName(side_b)

    def local_topd(key, pdf):
        import numpy as np

        empty = pd.DataFrame(
            {
                "src": pd.Series([], dtype="int64"),
                "dst": pd.Series([], dtype="int64"),
                "cosine_sim": pd.Series([], dtype="float64"),
            }
        )
        pa, pb = key
        rows_a = pdf[pdf["side"] == "a"]
        rows_b = pdf[pdf["side"] == "b"]
        if rows_a.empty or rows_b.empty:
            return empty
        ma = np.stack(rows_a["vec"].to_numpy()).astype("float64")
        mb = np.stack(rows_b["vec"].to_numpy()).astype("float64")
        # exact norms: strict left-to-right cumsum fold (JVM/oracle parity)
        na = np.sqrt(np.cumsum(ma * ma, axis=1)[:, -1])
        nb = np.sqrt(np.cumsum(mb * mb, axis=1)[:, -1])
        ids_a = rows_a["vid"].to_numpy()
        ids_b = rows_b["vid"].to_numpy()
        sims = (ma / na[:, None]) @ (mb / nb[:, None]).T  # approx, prune only
        out_src, out_dst, out_sim = [], [], []

        def emit(ids_src, ids_dst, msrc, mdst, nsrc, ndst, s):
            rs, cs, sims_exact = _preselect_exact_scores(
                ids_src, ids_dst, msrc, mdst, nsrc, ndst, s,
                k_local, threshold, margin,
            )
            out_src.append(ids_src[rs])
            out_dst.append(ids_dst[cs])
            out_sim.append(sims_exact)

        emit(ids_a, ids_b, ma, mb, na, nb, sims)
        if pa != pb:  # diagonal group already covers both directions
            emit(ids_b, ids_a, mb, ma, nb, na, sims.T)
        if not out_src:
            return empty
        return pd.DataFrame(
            {
                "src": np.concatenate(out_src),
                "dst": np.concatenate(out_dst),
                "cosine_sim": np.concatenate(out_sim),
            }
        )

    cand = tagged.groupBy("pa", "pb").applyInPandas(
        local_topd, "src long, dst long, cosine_sim double"
    )
    # a directed pair lives in exactly one block-pair group (diagonal
    # groups cover both directions once), so no dedup is needed; the
    # per-src window merges each vertex's <= B * k_local candidates.
    w = Window.partitionBy("src").orderBy(
        F.col("cosine_sim").desc(), F.col("dst").asc()
    )
    directed = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= d)
        .select("src", "dst", "cosine_sim")
    )
    fwd = directed.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("a"), F.col("dst").alias("b"), "cosine_sim"
    )
    rev = directed.filter(F.col("src") > F.col("dst")).select(
        F.col("dst").alias("a"), F.col("src").alias("b")
    )
    return fwd.join(rev, ["a", "b"]).select("a", "b", "cosine_sim")

def _ivf_stage(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k_clusters: int | None,
    nprobe: int,
    train_per_cluster: int,
    iters: int,
    n_rows: int | None,
    pair_budget: int | str,
    split_stats: dict | None,
) -> tuple[DataFrame, int, str, str]:
    """Shared IVF staging for the cell-local similarity operators
    (`knn_mutual_edges_ivf`, `neardup_cosine_pairs_ivf`): TRAIN a coarse
    quantizer on a deterministic driver-side sample, ASSIGN every vector
    to its `nprobe` nearest cells (one mapInPandas pass), CENSUS the
    cell sizes (K-bounded collect), and SALT any cell whose m^2 sims
    work exceeds `pair_budget` into source sub-tasks with replicated
    targets. Returns (staged, width, id_t, vec_t): `staged` has columns
    (cell, salt, role, id, vec) where role 'b' = both, 's' = source
    rows of a split sub-task, 't' = replicated rerank targets; `width`
    is the compute-balanced repartition count (core count when the
    total work fits one task's budget, else 2x group count, capped);
    id_t/vec_t are the caller's column type strings for Arrow schemas.
    Every design decision here (budgets, salting, persist, width) is
    documented inline — factored in round 11 so the pairs-mode scale
    path shares the round-10 straggler protections verbatim."""
    import numpy as np

    spark = corpus.sparkSession
    n = corpus.count() if n_rows is None else n_rows
    if k_clusters is None:
        k_clusters = max(4, int((nprobe * max(n, 1)) ** 0.5))
    from sample_data_pipeline_project_spark.functions.text import (
        md5_prefix_uint32_sql,
    )

    smod = max(1, n // (train_per_cluster * k_clusters))
    u32 = md5_prefix_uint32_sql(f"CAST({id_col} AS STRING)")
    sample = (
        corpus.filter(F.expr(f"({u32}) % {smod} = 0"))
        .select(id_col, vec_col)
        .collect()
    )
    sample.sort(key=lambda r: r[id_col])
    X = np.array([list(r[vec_col]) for r in sample], dtype=np.float64)
    k = max(1, min(k_clusters, len(X)))
    C = X[:k].copy()
    # CHUNKED assignment: the full (n_sample x k) distance matrix grows
    # as sqrt(N) * sqrt(N) = N (k ~ sqrt(nprobe*N), sample ~
    # train_per_cluster * k) — at the sf100 decade that is ~173k x 3.5k
    # doubles = 4.8 GB PER ITERATION on the driver, and at 10^9 vectors
    # it would be terabytes. Chunking X bounds peak memory at
    # chunk x k doubles (~200 MB) with identical argmin results.
    xn = (X * X).sum(axis=1)
    for _ in range(iters):
        cn = (C * C).sum(axis=1)
        a = np.empty(len(X), dtype=np.int64)
        for lo in range(0, len(X), 8192):
            hi = min(lo + 8192, len(X))
            d2 = xn[lo:hi, None] - 2.0 * (X[lo:hi] @ C.T) + cn[None, :]
            a[lo:hi] = np.argmin(d2, axis=1)  # ties -> lowest cluster id
        for j in range(k):
            mask = a == j
            if mask.any():
                C[j] = X[mask].mean(axis=0)
    cents = C
    bc = spark.sparkContext.broadcast(cents)
    p = min(nprobe, k)

    def assign(batches):
        Cm = bc.value
        cn = (Cm * Cm).sum(axis=1)
        # bound the (rows x K) distance block: K grows ~sqrt(N), so a
        # whole Arrow batch (10k rows) against an sf1000-scale codebook
        # is a GB-class allocation; 2048-row blocks keep it <~200 MB at
        # any decade with identical argpartition results
        blk = 2048
        for pdf in batches:
            if pdf.empty:
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            sel = np.empty((len(V), p), dtype=np.int64)
            for lo in range(0, len(V), blk):
                hi = min(lo + blk, len(V))
                d2 = (
                    (V[lo:hi] * V[lo:hi]).sum(axis=1)[:, None]
                    - 2.0 * (V[lo:hi] @ Cm.T)
                    + cn[None, :]
                )
                sel[lo:hi] = np.argpartition(d2, p - 1, axis=1)[:, :p]
            out = pd.DataFrame(
                {
                    "cell": sel.ravel().astype("int32"),
                    id_col: np.repeat(pdf[id_col].to_numpy(), p),
                    vec_col: [
                        v
                        for v in pdf[vec_col].to_numpy()
                        for _ in range(p)
                    ],
                }
            )
            yield out

    # Carry the caller's actual column types through the Arrow schemas
    # (the exact builder does): a corpus keyed by int or string would
    # otherwise fail or silently coerce at the hardcoded `long`.
    id_t = corpus.schema[id_col].dataType.simpleString()
    vec_t = corpus.schema[vec_col].dataType.simpleString()
    assigned = corpus.select(id_col, vec_col).mapInPandas(
        assign, f"cell int, {id_col} {id_t}, {vec_col} {vec_t}"
    )
    # Materialize the assignment ONCE: the cell-size census below and
    # the scoring stage both consume it, and without this the census
    # re-runs the full N x K BLAS assign pass — measured 2.3x total
    # wall at the sf10 decade (95 s vs ~41 s; the assign IS a large
    # fraction of the linear work). Eager localCheckpoint, NOT persist
    # (round 12, VERDICT r11 item 2 — a 3-arm same-session A/B at sf0.1,
    # BENCH-NOTES): the round-11 persist(DISK_ONLY) took
    # graph_knn_mutual_edges_ivf_balanced from 3.89 s (r10 close) to
    # 10.7 s, and persist(MEMORY_AND_DISK_DESER) measured WORSE (11.8 s)
    # — DataFrame persist stores compressed COLUMNAR batches, so every
    # one of this table's 3-4 re-reads per query (census + the three
    # staged role branches) pays a columnar decode of the fat vector
    # column, where a localCheckpoint stores raw row blocks and re-reads
    # are plain block scans (4.90 s — disjoint spreads vs both persist
    # arms, and recall/plain IVF won 1.2-1.5x the same way). The
    # lineage-truncation trade is decided in operators/materialize.py.
    assigned = materialize(assigned, "checkpoint")

    # ---- BALANCED SCORING (round-10): split skewed cells' SOURCE rows.
    # The round-9 sf100 probe proved the candidate stream linear after
    # the k_local cap, yet the slope stayed 61x vs the ~35x N^1.5
    # prediction — root cause (SCALING.md round 9): quantizer skew.
    # Lloyd minimizes distortion, not balance, so at every decade SOME
    # cell is ~100x median (sf100: one 215k-row cell vs 1.8k median),
    # and that cell is ONE applyInPandas task folding 215k^2 sims —
    # ~15 of 42 minutes of wall on a 32-core box. Re-quantizing
    # oversized cells (the other lever family) would change cell
    # MEMBERSHIP and hence recall; instead keep membership exactly as
    # assigned and split the straggler's WORK. Per-cell scoring is
    # embarrassingly parallel over source rows — each source row's
    # preselect+rescore reads the full cell but no other source row —
    # so a cell whose all-pairs sims work m^2 exceeds `pair_budget`
    # gets its source rows salted across ns = ceil(m^2 / pair_budget)
    # sub-tasks, with the full membership replicated to each sub-task
    # as rerank targets (role 't'). Emitted edges are IDENTICAL to the
    # unsplit plan (every source row still sees every co-probed
    # candidate, scored by the same exact fold), so the C227 recall
    # certification holds BY CONSTRUCTION; the cost is the ns target
    # copies of oversized cells only — sum over oversized of
    # m_i^2/pair_budget extra rows, i.e. shuffle proportional to the
    # quadratic work the cell already implied, now spread across the
    # cluster instead of serialized on one core. Per-task compute is
    # capped at ~pair_budget sims, so no task can hold a decade's wall
    # hostage. Cell sizes come from a bounded driver collect (K rows,
    # K ~ sqrt(nprobe*N) — 3.5k at sf100; the operator already collects
    # its K-sized training sample by design); the one extra linear
    # assign pass it triggers costs seconds, the straggler it removes
    # costs tens of minutes.
    sizes = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("m"))
    cell_rows = sizes.collect()
    if pair_budget == "max-cell":
        # forced-split mode: budget one sim below the largest cell's
        # m^2, so >= 1 cell is GUARANTEED to split whenever any cell
        # holds >= 2 rows — engagement derives from the measured
        # census, never from assumptions about corpus skew
        max_m = max((int(r["m"]) for r in cell_rows), default=0)
        pair_budget = max(1, max_m * max_m - 1)
    oversized = {
        int(r["cell"]): int(-(-(r["m"] * r["m"]) // pair_budget))
        for r in cell_rows
        if r["m"] * r["m"] > pair_budget
    }
    n_groups = k - len(oversized) + sum(oversized.values())
    if split_stats is not None:
        # build-time census, surfaced for the balanced-path certification
        # workload (split_engaged must be a measured fact, not assumed)
        split_stats["n_oversized"] = len(oversized)
        split_stats["max_ns"] = max(oversized.values(), default=1)
        split_stats["n_groups"] = n_groups
    if oversized:
        ns_map = F.create_map(
            *[
                F.lit(v)
                for kv in oversized.items()
                for v in kv
            ]
        )
        base = assigned.withColumn(
            "__ns",
            F.coalesce(ns_map[F.col("cell")], F.lit(1)).cast("int"),
        )
        whole = base.filter(F.col("__ns") == 1).select(
            "cell",
            F.lit(0).alias("salt"),
            F.lit("b").alias("role"),
            id_col,
            vec_col,
        )
        big = base.filter(F.col("__ns") > 1)
        staged = (
            whole.unionByName(
                big.select(
                    "cell",
                    F.pmod(
                        F.xxhash64(F.col(id_col).cast("string")),
                        F.col("__ns"),
                    ).cast("int").alias("salt"),
                    F.lit("s").alias("role"),
                    id_col,
                    vec_col,
                )
            ).unionByName(
                big.select(
                    "cell",
                    F.explode(
                        F.sequence(F.lit(0), F.col("__ns") - F.lit(1))
                    ).alias("salt"),
                    F.lit("t").alias("role"),
                    id_col,
                    vec_col,
                )
            )
        )
    else:
        # no cell breaches the budget (every gate scale lands here):
        # single-copy staging, one task per cell, same plan as round 9
        # modulo the constant role column.
        staged = assigned.select(
            "cell",
            F.lit(0).alias("salt"),
            F.lit("b").alias("role"),
            id_col,
            vec_col,
        )

    # Partition the scoring stage by GROUP COUNT, not by bytes: left to
    # ENSURE_REQUIREMENTS + AQE, the shuffle coalesces on byte size, but
    # per-cell compute is QUADRATIC in rows — the instrumented sf100
    # probe measured the coalesced plan packing ~20 groups per task
    # (181 partitions for ~3.5k groups) and hash-stacking several heavy
    # sub-groups serially into one 1290 s task (61% of wall) even after
    # the pair-budget split bounded each GROUP's work. 2x the group
    # count keeps expected heavy-heavy collisions low; explicit
    # repartition(N, cols) is REPARTITION_BY_NUM, which AQE will not
    # re-coalesce, and it satisfies applyInPandas's clustering so no
    # second shuffle is added. That width is for work that needs
    # spreading: each applyInPandas task costs ~100 ms of executor time
    # whatever it holds (measured on 4 vCPU: 44 groups over 2000 rows
    # took 2.8-3.1 s at 88 partitions, 0.43-0.46 s at 4). So when the
    # census's total work sum(m^2) fits ONE task's budget, no hashing of
    # cells onto tasks can exceed the cap, and the stage runs at core
    # count. Above it (every sf100 plan, and always under "max-cell",
    # whose budget sits below the largest m^2) the group-count width
    # stands.
    if sum(int(r["m"]) ** 2 for r in cell_rows) <= pair_budget:
        width = spark.sparkContext.defaultParallelism
    else:
        width = int(min(8192, max(64, 2 * n_groups)))
    return staged, width, id_t, vec_t


# Source-side rows per matmul block, sized by a BYTE budget on the
# (chunk x n_cell) sims matrix rather than a fixed row count: the
# round-9 sf100 probe killed Python workers exactly here — a fixed
# 4096-row chunk against a skewed 215k-row cell is a 7.1 GB float64
# block. Same defect class as the round-8 fixed-B blocked matmul:
# a constant that silently scales with data. The chunk size only
# blocks the loop — preselect+rescore are per-source-row exact over
# the FULL cell — so emitted edges are chunk-size-invariant.
# Bytes per sims block (x ~3 with temporaries). 128 MB, not 64: the
# chunk row count is budget/(m*8), so per-sub-group memory TRAFFIC is
# n_chunks * m * d * 8 = n_s * m^2 * 64 / budget — quadratic in the
# cell even after the pair budget caps the sims COUNT. The round-10
# instrumented sf100 probe measured the 215k-cell sub-groups at ~8x
# the sims-budget time estimate purely from re-streaming the 110 MB
# target matrix once per 38-row chunk; doubling the block budget
# halves that traffic (peak worker footprint ~0.4 GB, x32 workers
# ~13 GB — bounded and node-safe).
_SIMS_BUDGET = 128 << 20


def knn_mutual_edges_ivf(
    corpus: DataFrame,
    d: int,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_clusters: int | None = None,
    nprobe: int = 2,
    train_per_cluster: int = 50,
    iters: int = 3,
    local_slack: int = 8,
    n_rows: int | None = None,
    pair_budget: int | str = 1 << 29,
    split_stats: dict | None = None,
) -> DataFrame:
    """MUTUAL k-NN graph via IVF-preselected candidates — the SCALE PATH
    for `knn_mutual_edges`. Exact all-pairs construction is Theta(N^2 d)
    compute by definition (round-8 measurement: 14.1x for 10x vectors at
    the sf1 -> sf10 decade, the onset of the quadratic regime); this
    variant restricts candidate generation to vectors CO-PROBED into the
    same coarse-quantizer cell, which is the standard IVF trade: recall
    becomes approximate, everything kept stays EXACT (every emitted edge
    is exact-fold-rescored and threshold-filtered, mutual top-d ranks
    computed from exact scores among candidates).

    Pipeline (all stages bounded; TRAIN/ASSIGN/CENSUS/SALT live in the
    shared `_ivf_stage` — see its docstring and inline design notes):
      3. SCORE: per-(cell, salt) applyInPandas; inside a cell the same
         saturation-guarded preselect + exact cumsum-fold rescore as the
         exact builder (`_preselect_exact_scores`), with the source side
         CHUNKED so per-task memory stays bounded even when a cluster
         is skewed, and — round 10 — cells whose m^2 sims work exceeds
         `pair_budget` have their SOURCE rows salted across
         ceil(m^2/pair_budget) sub-tasks (full membership replicated as
         targets), so quantizer skew cannot serialize a decade's wall
         on one core while emitted edges stay identical to the unsplit
         plan.
      4. MERGE: cross-cell duplicates collapse on (src, dst) — scores
         are bit-identical wherever the pair co-occurs — then per-src
         window rank -> directed exact-top-d-among-candidates, mutual
         self-join, degree <= d HARD.

    `pair_budget` is the per-task sims cap (int), or the sentinel
    ``"max-cell"``: derive the budget from the measured census as
    max(m)^2 - 1, guaranteeing the LARGEST cell splits regardless of
    corpus shape — the certification workload (C232) uses this so its
    split_engaged oracle cannot flip on regenerated/uniform testdata,
    and it needs no extra driver-side count at plan-build time.

    Complexity: K defaults to ~sqrt(nprobe * N), making compute
    ~N^1.5 * d (vs N^2 exact) with per-cell work capped by cell size;
    recall against the exact graph is corpus-dependent and is certified
    by the registered workload + pytest floor rather than assumed.
    Edges it DOES return satisfy every structural contract of the exact
    operator (exact scores, threshold, mutuality, degree bound)."""
    import numpy as np

    margin = 1e-6
    k_local = d + local_slack
    staged, width, id_t, vec_t = _ivf_stage(
        corpus, id_col, vec_col, k_clusters, nprobe, train_per_cluster,
        iters, n_rows, pair_budget, split_stats,
    )

    def cell_topd(key, pdf):
        empty = pd.DataFrame(
            {
                "src": pd.Series([], dtype=pdf[id_col].dtype),
                "dst": pd.Series([], dtype=pdf[id_col].dtype),
                "cosine_sim": pd.Series([], dtype="float64"),
            }
        )
        roles = pdf["role"].to_numpy()
        unsplit = (roles == "b").all()
        tmask = roles != "s"  # 'b' | 't': rerank targets (full cell)
        smask = roles != "t"  # 'b' | 's': this sub-task's source rows
        n_t = int(tmask.sum())
        n_s = int(smask.sum())
        if n_t < 1 or n_s < 1 or (n_t + n_s) < 2:
            return empty
        Mt = np.stack(pdf[vec_col].to_numpy()[tmask]).astype("float64")
        idt = pdf[id_col].to_numpy()[tmask]
        nt = np.sqrt(np.cumsum(Mt * Mt, axis=1)[:, -1])
        with np.errstate(invalid="ignore", divide="ignore"):
            Mtn = np.where(nt[:, None] != 0, Mt / nt[:, None], 0.0)
        if unsplit:
            Ms, ids, ns_, Msn = Mt, idt, nt, Mtn
        else:
            Ms = np.stack(pdf[vec_col].to_numpy()[smask]).astype(
                "float64"
            )
            ids = pdf[id_col].to_numpy()[smask]
            ns_ = np.sqrt(np.cumsum(Ms * Ms, axis=1)[:, -1])
            with np.errstate(invalid="ignore", divide="ignore"):
                Msn = np.where(
                    ns_[:, None] != 0, Ms / ns_[:, None], 0.0
                )
        chunk = max(16, min(4096, _SIMS_BUDGET // (8 * len(idt))))
        out_src, out_dst, out_sim = [], [], []
        for lo in range(0, len(ids), chunk):
            hi = min(lo + chunk, len(ids))
            sims = Msn[lo:hi] @ Mtn.T  # approx, prune only
            rs, cs, ex = _preselect_exact_scores(
                ids[lo:hi], idt, Ms[lo:hi], Mt, ns_[lo:hi], nt, sims,
                k_local, threshold, margin, saturate=False,
            )
            out_src.append(ids[lo:hi][rs])
            out_dst.append(idt[cs])
            out_sim.append(ex)
        if not out_src:
            return empty
        return pd.DataFrame(
            {
                "src": np.concatenate(out_src),
                "dst": np.concatenate(out_dst),
                "cosine_sim": np.concatenate(out_sim),
            }
        )

    # compute-balanced REPARTITION_BY_NUM width comes from _ivf_stage
    # (see the group-count-not-bytes design note there)
    cand = (
        staged.repartition(width, "cell", "salt")
        .groupBy("cell", "salt")
        .applyInPandas(
            cell_topd, f"src {id_t}, dst {id_t}, cosine_sim double"
        )
    )
    # a pair co-probed into several cells appears once per shared cell
    # with a BIT-IDENTICAL exact score; collapse before ranking
    merged = cand.groupBy("src", "dst").agg(
        F.max("cosine_sim").alias("cosine_sim")
    )
    w = Window.partitionBy("src").orderBy(
        F.col("cosine_sim").desc(), F.col("dst").asc()
    )
    directed = (
        merged.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= d)
        .select("src", "dst", "cosine_sim")
    )
    fwd = directed.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("a"), F.col("dst").alias("b"), "cosine_sim"
    )
    rev = directed.filter(F.col("src") > F.col("dst")).select(
        F.col("dst").alias("a"), F.col("src").alias("b")
    )
    return fwd.join(rev, ["a", "b"]).select("a", "b", "cosine_sim")


def neardup_cosine_pairs_ivf(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_clusters: int | None = None,
    nprobe: int = 2,
    train_per_cluster: int = 50,
    iters: int = 3,
    n_rows: int | None = None,
    pair_budget: int | str = 1 << 29,
    split_stats: dict | None = None,
) -> DataFrame:
    """APPROXIMATE cosine near-dup PAIRS via IVF preselection — the
    SCALE PATH for `neardup_cosine_pairs_blocked` and therefore for the
    SemDeDup pipeline (`sim_semantic_dedup`). The exact blocked matmul
    is Theta(N^2 d) compute no matter how it is blocked (round-11
    probe: 12.2 s -> 80.1 s for the 20k -> 200k decade, and ~2.6e14
    FLOP at the 2M-vector decade — hours on 32 cores); this variant
    generates candidates only among vectors CO-PROBED into the same
    coarse cell, cutting compute to ~N^1.5 d with the standard IVF
    trade: PAIR RECALL becomes corpus-dependent (certified per scale by
    the registered workload), while every pair it DOES emit is verified
    by the same deterministic JVM cosine fold at the exact threshold —
    the emitted set is a SUBSET of the exact operator's, bit-identical
    scores included (asserted, not assumed, by the gate workload's
    exceptAll check).

    Staging (train/assign/census/salt) is the shared `_ivf_stage`, so
    the round-10 straggler protections — pair-budget salting of skewed
    cells, compute-balanced REPARTITION_BY_NUM, byte-budgeted matmul
    chunks — apply verbatim. The cell kernel emits candidate id pairs
    (a < b) at approx >= threshold - margin; split sub-tasks each own a
    disjoint source slice with full-cell targets, and a pair is emitted
    by the sub-task owning its smaller id, so the split plan emits the
    same multiset as the unsplit plan. Cross-cell duplicates (a pair
    co-probed into 2+ cells) collapse in the distinct before the verify
    join. The verify stage is shared shape with the blocked operator:
    join candidates back to the vectors, exact fold, threshold filter,
    cached (the cert workload reads the pair set twice)."""
    import numpy as np

    margin = 1e-6
    staged, width, id_t, vec_t = _ivf_stage(
        corpus, id_col, vec_col, k_clusters, nprobe, train_per_cluster,
        iters, n_rows, pair_budget, split_stats,
    )

    def cell_pairs(key, pdf):
        empty = pd.DataFrame(
            {
                "a": pd.Series([], dtype="int64"),
                "b": pd.Series([], dtype="int64"),
            }
        )
        roles = pdf["role"].to_numpy()
        tmask = roles != "s"  # 'b' | 't': full cell membership
        smask = roles != "t"  # 'b' | 's': this sub-task's source rows
        n_t = int(tmask.sum())
        n_s = int(smask.sum())
        if n_t < 1 or n_s < 1 or (n_t + n_s) < 2:
            return empty
        Mt = np.stack(pdf[vec_col].to_numpy()[tmask]).astype("float64")
        idt = pdf[id_col].to_numpy()[tmask].astype("int64")
        nt = np.sqrt((Mt * Mt).sum(axis=1))
        with np.errstate(invalid="ignore", divide="ignore"):
            Mtn = np.where(nt[:, None] != 0, Mt / nt[:, None], 0.0)
        if (roles == "b").all():
            ids, Msn = idt, Mtn
        else:
            Ms = np.stack(pdf[vec_col].to_numpy()[smask]).astype("float64")
            ids = pdf[id_col].to_numpy()[smask].astype("int64")
            ns_ = np.sqrt((Ms * Ms).sum(axis=1))
            with np.errstate(invalid="ignore", divide="ignore"):
                Msn = np.where(ns_[:, None] != 0, Ms / ns_[:, None], 0.0)
        chunk = max(16, min(4096, _SIMS_BUDGET // (8 * len(idt))))
        out_a, out_b = [], []
        for lo in range(0, len(ids), chunk):
            hi = min(lo + chunk, len(ids))
            sims = Msn[lo:hi] @ Mtn.T  # approx, prune only
            ia, ib = np.nonzero(sims >= threshold - margin)
            pa = ids[lo:hi][ia]
            pb = idt[ib]
            keep = pa < pb  # dedupe within cell + drop self-pairs
            out_a.append(pa[keep])
            out_b.append(pb[keep])
        if not out_a:
            return empty
        return pd.DataFrame(
            {"a": np.concatenate(out_a), "b": np.concatenate(out_b)}
        )

    cands = (
        staged.repartition(width, "cell", "salt")
        .groupBy("cell", "salt")
        .applyInPandas(cell_pairs, "a long, b long")
        .distinct()  # a pair co-probed into several cells emits per cell
    )
    ea = corpus.select(
        F.col(id_col).cast("long").alias("a"), F.col(vec_col).alias("va")
    )
    eb = corpus.select(
        F.col(id_col).cast("long").alias("b"), F.col(vec_col).alias("vb")
    )
    verified = (
        cands.join(ea, "a")
        .join(eb, "b")
        .select("a", "b", cosine("va", "vb").alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )
    return materialize(verified, "cache")


# --- binary (sign) quantization + Hamming shortlist (B3 scale path) -------
# One bit per dimension (sign of the component): 32x less memory than
# float32 and the candidate scan is XOR + POPCOUNT on packed 32-bit words
# — the cheapest possible first stage for billion-vector shortlisting.
# Deterministic (no training), so unlike IVF/PQ the whole two-stage
# pipeline is value-hashable against a SQL oracle. For random-ish
# directions P(sign mismatch) = angle/pi (the SimHash bound with
# axis-aligned hyperplanes), so Hamming distance is a monotone-in-
# expectation proxy for angular distance; the exact-cosine rerank stage
# restores exact ordering among the shortlist.


def sign_pack_exprs(dim: int, vec_col: str = "embedding") -> list:
    """Column expressions packing sign bits (component > 0) into int64
    words of 32 bits each, named w0, w1, ... — 32 bits per word keeps
    every packed value positive, so the SAME packing is expressible in
    portable SQL as a SUM of CASE shifts (no signed-overflow trap on
    bit 63, and DuckDB rejects integer overflow rather than wrapping).
    JVM-side aggregate() fold; no Python."""
    words = []
    for w in range(-(-dim // 32)):
        lo, hi = 32 * w, min(32 * w + 32, dim)
        words.append(
            F.expr(
                f"aggregate(sequence({lo}, {hi - 1}), 0L, (acc, i) -> "
                f"acc + IF(element_at({vec_col}, i + 1) > 0D, "
                f"shiftleft(1L, i - {lo}), 0L))"
            ).alias(f"w{w}")
        )
    return words


def duck_sign_pack(dim: int, vec_col: str) -> list[str]:
    """The DuckDB twin of `sign_pack_exprs`: one SUM-of-CASE-shift SQL
    string per 32-bit word (same w0, w1, ... naming)."""
    out = []
    for w in range(-(-dim // 32)):
        lo, hi = 32 * w, min(32 * w + 32, dim)
        terms = " + ".join(
            f"(CASE WHEN {vec_col}[{i + 1}] > 0 THEN {1 << (i - lo)}::BIGINT "
            f"ELSE 0::BIGINT END)"
            for i in range(lo, hi)
        )
        out.append(f"({terms}) AS w{w}")
    return out


def hamming_rerank_topk(
    corpus: DataFrame,
    dim: int,
    k: int,
    shortlist: int,
    query_ids: list[int],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage ANN: (1) sign-pack the corpus and the queries, take the
    exact Hamming-distance top-`shortlist` per query (XOR + bit_count on
    packed words, broadcast query side, per-query window rank — never a
    global sort); (2) rerank the shortlist by EXACT cosine (the
    deterministic JVM left-fold) and keep top-`k`. Fully deterministic:
    both stages tie-break on id, so the result value-hashes against the
    SQL oracle. Shuffle volume is N rows through the per-query window;
    at cluster scale the packed words are the only columns scanned in
    stage 1 (column pruning leaves the float vectors unread until the
    |queries| * shortlist rerank join)."""
    n_words = -(-dim // 32)
    packed = corpus.select(id_col, *sign_pack_exprs(dim, vec_col))
    q = (
        packed.filter(F.col(id_col).isin(query_ids))
        .select(
            F.col(id_col).alias("query_id"),
            *[F.col(f"w{w}").alias(f"qw{w}") for w in range(n_words)],
        )
    )
    ham = " + ".join(
        f"bit_count(w{w} ^ qw{w})" for w in range(n_words)
    )
    scored = (
        packed.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", id_col, F.expr(ham).cast("int").alias("hamming_dist"))
    )
    w_short = Window.partitionBy("query_id").orderBy(
        F.col("hamming_dist").asc(), F.col(id_col).asc()
    )
    short = (
        scored.withColumn("rn", F.row_number().over(w_short))
        .filter(F.col("rn") <= shortlist)
        .drop("rn")
    )
    vecs = corpus.select(id_col, vec_col)
    qvecs = corpus.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_emb")
    ).filter(F.col("query_id").isin(query_ids))
    from sample_data_pipeline_project_spark.functions.vectors import cosine

    reranked = (
        short.join(vecs, id_col)
        .join(F.broadcast(qvecs), "query_id")
        .select(
            "query_id",
            id_col,
            "hamming_dist",
            cosine(vec_col, "q_emb").alias("cosine_sim"),
        )
    )
    w_k = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    )
    return (
        reranked.withColumn("rank", F.row_number().over(w_k))
        .filter(F.col("rank") <= k)
    )


def mmr_select(
    pool: DataFrame,
    k: int,
    lam: float = 0.7,
    div_weight: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rel_col: str = "rel",
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998) selection
    over a relevance-scored candidate pool: pick k items one at a time,
    each maximizing  lam * relevance - div_weight * max(cosine to any
    already-selected item), ties to the lowest id — the standard
    diversified-retrieval / context-dedup primitive (don't hand a RAG
    prompt five copies of the same passage).

    `lam` and `div_weight` are passed separately (NOT 1-lam) so callers
    can hand both engines the exact same decimal literals — in IEEE
    doubles 1.0 - 0.7 != 0.3, and an oracle writing CAST('0.3' AS DOUBLE)
    must see this side multiply by the identical bit pattern.

    Spark-first shape (the C234 k-center idiom): each of the k-1
    selection rounds is a 1-row TakeOrderedAndProject over the pool with
    all previously chosen items attached via BROADCAST crossJoins of
    1-row frames — ONE lazy Catalyst plan, no driver loop over data, no
    job at construction. The pool is expected to be SMALL (top-M by
    relevance, M in the tens): at 100 TB the relevance stage is the
    distributed scan (brute/IVF top-M, already covered by the B3 family)
    and MMR re-ranks its M-row result, so every per-round pass here
    touches M rows, not the corpus.

    Each selected 1-row frame is lazily cache()d: round i's frame is
    referenced by every later round AND the final union, and without the
    cache Catalyst re-executes each selection subtree once per reference
    — O(2^k) broadcast jobs instead of O(k) (measured 37 s -> ~4 s at
    k=5 on a 24-row pool; the cost is per-JOB driver round-trips, not
    data). cache() is lazy, so construction still launches no jobs."""
    first = materialize(
        pool.orderBy(F.col(rel_col).desc(), F.col(id_col).asc())
        .limit(1)
        .select(
            F.col(id_col).alias("s1_id"),
            F.col(vec_col).alias("s1_v"),
            F.col(rel_col).alias("s1_rel"),
        ),
        "cache",
    )
    chosen = [first]
    for i in range(2, k + 1):
        cand = pool
        for c in chosen:
            cand = cand.crossJoin(F.broadcast(c))
        for j in range(1, i):
            cand = cand.filter(F.col(id_col) != F.col(f"s{j}_id"))
        sims = [cosine(vec_col, f"s{j}_v") for j in range(1, i)]
        maxsim = sims[0] if len(sims) == 1 else F.greatest(*sims)
        mmr = F.lit(lam) * F.col(rel_col) - F.lit(div_weight) * maxsim
        nxt = materialize(
            cand.select(
                F.col(id_col),
                F.col(vec_col),
                F.col(rel_col),
                mmr.alias("mmr"),
            )
            .orderBy(F.col("mmr").desc(), F.col(id_col).asc())
            .limit(1)
            .select(
                F.col(id_col).alias(f"s{i}_id"),
                F.col(vec_col).alias(f"s{i}_v"),
                F.col(rel_col).alias(f"s{i}_rel"),
            ),
            "cache",
        )
        chosen.append(nxt)
    out = None
    for i, c in enumerate(chosen, 1):
        row = c.select(
            F.lit(i).cast("long").alias("sel_order"),
            F.col(f"s{i}_id").alias(id_col),
            F.col(f"s{i}_rel").alias("relevance"),
        )
        out = row if out is None else out.unionAll(row)
    return out
