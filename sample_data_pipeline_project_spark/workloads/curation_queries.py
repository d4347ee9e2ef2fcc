"""Corpus-curation workloads: the training-data-pipeline steps that sit
between raw crawl and tokenizer — repeated-span detection, leakage-free
splits, target-mix resampling, length-bucketed batching, and semantic
(embedding-space) dedup.

Extends the reference's data-pipeline scope (it ships none of these;
BASELINE.json mandates the dedup/similarity/text tier) with the curation
shapes a 100 TB pretraining corpus actually needs. Every workload keeps
the registry's determinism contract: md5-based hashing via the shared
portable hex arithmetic, integer/decimal comparisons (never float->int
casts), and identical column aliases on both engines.

Training-mix workloads: temperature-scaled source weighting (w_s ~
tokens_s^alpha, alpha = 1/2 so the power is IEEE-exact sqrt on both
engines) and the corpus dataset-card report, whose corpus totals are
bounded driver scalars re-entering the plan as literals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sample_data_pipeline_project_spark.functions.text import (
    md5_prefix_uint32_sql,
    token_count,
    tokens,
    word_ngrams,
)
from sample_data_pipeline_project_spark.functions.text import (
    md5_prefix_uint32_sql as _u32_sql,
)
from sample_data_pipeline_project_spark.functions.vectors import (
    dot,
    duck_cosine,
    duck_dot,
)
from sample_data_pipeline_project_spark.sources.catalog import load_table
from sample_data_pipeline_project_spark.workloads import workload


_DUCK_TOKS = "string_split_regex(lower(trim(text)), '\\s+')"

# --------------------------------------------------------------------------
# Cross-document repeated n-gram span detection (substring-level dedup
# signal, the Lee et al. 2022 "Deduplicating Training Data" shape: exact
# repeated token spans across documents, found by fingerprinting every
# sliding window).
# --------------------------------------------------------------------------
_SPAN_K = 8  # tokens per window


@workload(
    "dedup_repeated_ngram_spans",
    oracle=f"""
WITH base AS (
  SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
),
wins AS (
  SELECT doc_id, md5(s) AS h
  FROM (
    SELECT doc_id,
           unnest(list_transform(
             range(1, greatest(len(toks) - {_SPAN_K - 1}, 0) + 1),
             i -> array_to_string(toks[i:i+{_SPAN_K - 1}], ' '))) AS s
    FROM base)
),
hd AS (SELECT h, COUNT(DISTINCT doc_id) AS n_docs FROM wins GROUP BY h)
SELECT w.doc_id,
       COUNT(*) AS n_windows,
       CAST(SUM(CASE WHEN hd.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_windows,
       COUNT(DISTINCT CASE WHEN hd.n_docs >= 2 THEN w.h END) AS n_dup_spans,
       CAST(SUM(CASE WHEN hd.n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS dup_window_fraction
FROM wins w JOIN hd USING (h)
GROUP BY w.doc_id
""",
)
def dedup_repeated_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document REPEATED-SPAN detection: fingerprint every sliding
    8-token window (md5 of the joined tokens — 16-byte keys shuffle, not
    text), mark windows whose fingerprint occurs in >= 2 distinct
    documents, and report the per-document duplicated-window profile. This
    is the exact-substring dedup signal (Lee et al. 2022) at span
    granularity — the thing MinHash misses when only a paragraph is
    copied. Scale shape: explode is map-side; the only shuffles are
    groupBy(fingerprint) and the fingerprint-keyed join back (both keyed
    on the 16-byte hash, uniformly distributed by construction); the
    final per-doc rollup shuffles doc_id. Docs shorter than the window
    contribute no rows, mirroring the oracle's unnest."""
    d = load_table(spark, sf_dir, "documents").withColumn("toks", tokens("text"))
    wins = d.select(
        "doc_id", F.explode(word_ngrams("toks", _SPAN_K)).alias("s")
    ).select("doc_id", F.md5("s").alias("h"))
    hd = wins.groupBy("h").agg(F.count_distinct("doc_id").alias("n_docs"))
    is_dup = F.col("n_docs") >= 2
    return (
        wins.join(hd, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.when(is_dup, 1).otherwise(0)).cast("long").alias("n_dup_windows"),
            F.count_distinct(F.when(is_dup, F.col("h"))).alias("n_dup_spans"),
            (
                F.sum(F.when(is_dup, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1))
            ).alias("dup_window_fraction"),
        )
    )


# --------------------------------------------------------------------------
# Leakage-free train/validation/test split: deterministic hash bucketing
# (never rand()) so the same doc lands in the same split on every engine,
# run, and re-partitioning — the property that makes the split immune to
# train/eval leakage under reprocessing.
# --------------------------------------------------------------------------
_SPLIT_U32 = md5_prefix_uint32_sql("'split|' || CAST(doc_id AS STRING)")


@workload(
    "split_train_holdout_report",
    oracle=f"""
WITH assigned AS (
  SELECT doc_id, source,
         len({_DUCK_TOKS}) AS n_tok,
         CASE WHEN ({_SPLIT_U32}) % 100 < 98 THEN 'train'
              WHEN ({_SPLIT_U32}) % 100 = 98 THEN 'validation'
              ELSE 'test' END AS split
  FROM documents
),
per AS (
  SELECT source, split, COUNT(*) AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS n_tokens
  FROM assigned GROUP BY source, split
),
tot AS (SELECT source, CAST(SUM(n_docs) AS BIGINT) AS src_docs FROM per GROUP BY source)
SELECT p.source, p.split, p.n_docs, p.n_tokens,
       CAST(p.n_docs AS DOUBLE) / t.src_docs AS doc_share
FROM per p JOIN tot t USING (source)
""",
)
def split_train_holdout_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-FREE corpus split report: every document is assigned to
    train/validation/test (98/1/1) by the first 32 bits of
    md5('split|doc_id') mod 100 — a pure function of the document key, so
    the assignment is reproducible across engines, retries, and
    re-partitionings (rand()-based splits are none of these, and resplit
    leakage is how eval contamination happens). Output is the per-source
    split audit: doc/token counts and the within-source doc share. One
    shuffle on (source, split); source totals broadcast back."""
    d = load_table(spark, sf_dir, "documents")
    u32 = F.expr(_SPLIT_U32)
    bucket = u32 % 100
    assigned = d.select(
        "source",
        token_count("text").alias("n_tok"),
        F.when(bucket < 98, "train")
        .when(bucket == 98, "validation")
        .otherwise("test")
        .alias("split"),
    )
    per = assigned.groupBy("source", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
    )
    tot = per.groupBy("source").agg(F.sum("n_docs").cast("long").alias("src_docs"))
    return (
        per.join(F.broadcast(tot), "source")
        .select(
            "source",
            "split",
            "n_docs",
            "n_tokens",
            (F.col("n_docs").cast("double") / F.col("src_docs")).alias("doc_share"),
        )
    )


# --------------------------------------------------------------------------
# Target-mix deterministic resampling: downsample over-represented sources
# to hit a target corpus composition (the DoReMi/Pile-style mixing step),
# with RNG-free integer keep decisions.
# --------------------------------------------------------------------------
# Target weights in 400ths: four favored sources get 40/400 each, the
# remaining sixteen share the rest at 15/400 each (sums to 400).
_MIX_DEN = 400
_MIX_FAVORED = ("src0", "src1", "src2", "src3")
_MIX_W_FAV = 40
_MIX_W_REST = 15

_MIX_U32 = md5_prefix_uint32_sql("'mix|' || CAST(doc_id AS STRING)")
_DUCK_MIX_W = (
    "CASE WHEN source IN ("
    + ", ".join(f"'{s}'" for s in _MIX_FAVORED)
    + f") THEN {_MIX_W_FAV} ELSE {_MIX_W_REST} END"
)


@workload(
    "text_target_mix_resample",
    oracle=f"""
WITH counts AS (
  SELECT source, COUNT(*) AS n_src FROM documents GROUP BY source
),
tot AS (SELECT CAST(SUM(n_src) AS BIGINT) AS n_total FROM counts),
thresh AS (
  SELECT c.source, c.n_src,
         ({_DUCK_MIX_W}) AS w,
         (CAST(({_DUCK_MIX_W}) AS BIGINT) * t.n_total * 4294967296)
           // ({_MIX_DEN} * c.n_src) AS keep_threshold
  FROM counts c CROSS JOIN tot t
)
SELECT d.doc_id, d.source,
       th.n_src AS n_source_docs,
       CAST(th.keep_threshold AS BIGINT) AS keep_threshold,
       CAST({_MIX_U32} AS BIGINT) AS hash_u32,
       (({_MIX_U32}) < th.keep_threshold) AS is_kept
FROM documents d JOIN thresh th USING (source)
""",
)
def text_target_mix_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TARGET-MIX resampling: given target composition weights per source
    (in 400ths), each source gets keep probability
    min(1, target_share * N_total / n_source) so the kept corpus
    approaches the target mix. The keep decision is the registry's RNG-free
    integer compare — u32(md5('mix|doc_id')) against an int64 threshold
    computed with integer division only, so the sample is identical across
    engines and re-runs, and thresholds >= 2^32 express keep-all without a
    special case. Scale shape: per-source counts are a tiny aggregate
    broadcast back; the doc-level pass is map-side."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_src"))
    n_total = counts.agg(F.sum("n_src").cast("long").alias("n_total"))
    w = F.when(F.col("source").isin(*_MIX_FAVORED), _MIX_W_FAV).otherwise(
        _MIX_W_REST
    )
    thresh = (
        counts.crossJoin(F.broadcast(n_total))
        .select(
            "source",
            "n_src",
            F.expr(
                f"(CAST(({_DUCK_MIX_W}) AS BIGINT) * n_total * 4294967296)"
                f" DIV ({_MIX_DEN} * n_src)"
            ).alias("keep_threshold"),
        )
    )
    u32 = F.expr(_MIX_U32)
    return (
        d.join(F.broadcast(thresh), "source")
        .select(
            "doc_id",
            "source",
            F.col("n_src").alias("n_source_docs"),
            F.col("keep_threshold").cast("long"),
            u32.cast("long").alias("hash_u32"),
            (u32 < F.col("keep_threshold")).alias("is_kept"),
        )
    )


# --------------------------------------------------------------------------
# Length-bucketed batching: group docs of similar token length into
# fixed-capacity batches to minimize padding waste (the data-loader step
# before training).
# --------------------------------------------------------------------------
_BATCH_TOKEN_BUDGET = 8192
_BUCKET_SHARDS = 16

_LB_U32 = md5_prefix_uint32_sql("'lb|' || CAST(doc_id AS STRING)")

_DUCK_CAP = """CASE WHEN n_tok <= 16 THEN 16 WHEN n_tok <= 32 THEN 32
             WHEN n_tok <= 64 THEN 64 WHEN n_tok <= 128 THEN 128
             WHEN n_tok <= 256 THEN 256 WHEN n_tok <= 512 THEN 512
             WHEN n_tok <= 1024 THEN 1024 ELSE 2048 END"""


@workload(
    "text_length_bucket_batches",
    oracle=f"""
WITH t AS (
  SELECT doc_id, len({_DUCK_TOKS}) AS n_tok,
         ({_LB_U32}) % {_BUCKET_SHARDS} AS shard
  FROM documents
),
b AS (
  SELECT doc_id, n_tok, shard, ({_DUCK_CAP}) AS bucket_cap FROM t
),
r AS (
  SELECT doc_id, n_tok, shard, bucket_cap,
         ROW_NUMBER() OVER (PARTITION BY bucket_cap, shard
                            ORDER BY doc_id) AS rn
  FROM b
)
SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens,
       CAST(bucket_cap AS BIGINT) AS bucket_cap,
       CAST(shard AS BIGINT) AS shard,
       CAST((rn - 1) // ({_BATCH_TOKEN_BUDGET} // bucket_cap) AS BIGINT)
         AS batch_idx,
       CAST(bucket_cap - least(n_tok, bucket_cap) AS BIGINT) AS padding_tokens
FROM r
""",
)
def text_length_bucket_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LENGTH-BUCKETED batch assembly: each doc maps to the smallest
    power-of-two capacity holding its token count (CASE chain — no
    float log2, so bucket edges are exact on both engines); within each
    (bucket, shard) partition docs are packed in doc_id order into batches
    of budget//capacity sequences; padding waste = capacity - length. The
    shard key (md5 u32 % {_BUCKET_SHARDS}) keeps every window partition
    bounded — with ~9 buckets alone the rank would be a 9-partition
    choke point at 100 TB; sharding makes it bucket x shard and each
    shard packs independently (same contract as text_sequence_packing).
    All placement arithmetic is integer."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        token_count("text").alias("n_tok"),
        (F.expr(_LB_U32) % _BUCKET_SHARDS).alias("shard"),
    )
    cap = (
        F.when(F.col("n_tok") <= 16, 16)
        .when(F.col("n_tok") <= 32, 32)
        .when(F.col("n_tok") <= 64, 64)
        .when(F.col("n_tok") <= 128, 128)
        .when(F.col("n_tok") <= 256, 256)
        .when(F.col("n_tok") <= 512, 512)
        .when(F.col("n_tok") <= 1024, 1024)
        .otherwise(2048)
    )
    b = t.withColumn("bucket_cap", cap)
    w = Window.partitionBy("bucket_cap", "shard").orderBy("doc_id")
    r = b.withColumn("rn", F.row_number().over(w))
    docs_per_batch = F.lit(_BATCH_TOKEN_BUDGET) / F.col("bucket_cap")
    return r.select(
        "doc_id",
        F.col("n_tok").cast("long").alias("n_tokens"),
        F.col("bucket_cap").cast("long"),
        F.col("shard").cast("long"),
        F.expr(f"(rn - 1) DIV ({_BATCH_TOKEN_BUDGET} DIV bucket_cap)")
        .cast("long")
        .alias("batch_idx"),
        (F.col("bucket_cap") - F.least(F.col("n_tok"), F.col("bucket_cap")))
        .cast("long")
        .alias("padding_tokens"),
    )


# --------------------------------------------------------------------------
# Semantic dedup (SemDeDup shape): duplicate clusters in EMBEDDING space —
# cosine near-dup pairs -> connected components -> keep one representative
# per semantic cluster.
# --------------------------------------------------------------------------
_SEM_THRESHOLD = 0.4  # same pair set as sim_neardup_pairs (validated there)


@workload(
    "sim_semantic_dedup",
    oracle=f"""
WITH RECURSIVE pairs AS (
  SELECT a.vec_id AS a, b.vec_id AS b
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE {duck_cosine('a.embedding', 'b.embedding')} >= {_SEM_THRESHOLD}
),
edges AS (SELECT a AS src, b AS dst FROM pairs
          UNION SELECT b AS src, a AS dst FROM pairs),
reach(node, lbl) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
),
comp AS (SELECT node AS vec_id, MIN(lbl) AS component_id FROM reach GROUP BY node)
SELECT c.vec_id, c.component_id, s.n_members,
       (c.vec_id = c.component_id) AS is_kept
FROM comp c
JOIN (SELECT component_id, COUNT(*) AS n_members FROM comp
      GROUP BY component_id) s USING (component_id)
""",
)
def sim_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC dedup over embeddings (the SemDeDup curation shape):
    exact cosine near-dup pairs from the blocked-matmul operator (linear
    shuffle, bit-identical to the quadratic form — the same pair set
    sim_neardup_pairs certifies), collapsed into duplicate clusters by
    iterative min-label connected components; each cluster keeps exactly
    one representative — the min vec_id, which IS the component label, so
    keep = (vec_id == component_id) with no extra election pass. The
    oracle recomputes the closure with a recursive CTE over the quadratic
    pair set."""
    from sample_data_pipeline_project_spark.operators.components import (
        connected_components,
    )
    from sample_data_pipeline_project_spark.operators.similarity import (
        neardup_cosine_pairs_blocked,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = neardup_cosine_pairs_blocked(emb, _SEM_THRESHOLD).select("a", "b")
    comp = connected_components(pairs, emb.select("vec_id"), id_col="vec_id")
    sizes = comp.groupBy("component_id").agg(F.count(F.lit(1)).alias("n_members"))
    return comp.join(F.broadcast(sizes), "component_id").select(
        "vec_id",
        "component_id",
        "n_members",
        (F.col("vec_id") == F.col("component_id")).alias("is_kept"),
    )


# --------------------------------------------------------------------------
# Frequency-capped vocabulary + OOV-rate report (tokenizer-prep shape).
# --------------------------------------------------------------------------
_VOCAB_MIN_COUNT = 5


@workload(
    "text_vocab_oov_report",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({_DUCK_TOKS}) AS tok FROM documents
),
tc AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok),
vocab AS (SELECT tok FROM tc WHERE n >= {_VOCAB_MIN_COUNT}),
vs AS (SELECT COUNT(*) AS vocab_size FROM vocab)
SELECT t.doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS oov_rate,
       CAST(vs.vocab_size AS BIGINT) AS vocab_size
FROM toks t LEFT JOIN vocab v USING (tok) CROSS JOIN vs
GROUP BY t.doc_id, vs.vocab_size
""",
)
def text_vocab_oov_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VOCABULARY construction + out-of-vocabulary audit: the vocab is
    every token with corpus frequency >= {min_count} (a threshold scan —
    deliberately NOT a global top-V sort, which is the single-partition
    trap; a top-V variant would be TakeOrderedAndProject), and each doc
    reports how much of its token stream falls outside it — the
    tokenizer-coverage number that decides whether a vocab ships.
    Shuffles: one groupBy(token), one token-keyed left join (vocab is
    corpus-frequency-sized — joined by key, never collected), one
    groupBy(doc). The scalar vocab size broadcasts."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens("text")).alias("tok"))
    tc = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    vocab = tc.filter(F.col("n") >= _VOCAB_MIN_COUNT).select(
        "tok", F.lit(1).alias("__in_vocab")
    )
    vs = vocab.agg(F.count(F.lit(1)).alias("vocab_size"))
    is_oov = F.col("__in_vocab").isNull()
    per_doc = (
        toks.join(vocab, "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(is_oov, 1).otherwise(0)).cast("long").alias("n_oov"),
            (
                F.sum(F.when(is_oov, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1))
            ).alias("oov_rate"),
        )
    )
    return per_doc.crossJoin(F.broadcast(vs)).select(
        "doc_id", "n_tokens", "n_oov", "oov_rate",
        F.col("vocab_size").cast("long"),
    )


# --------------------------------------------------------------------------
# Efraimidis-Spirakis weighted reservoir (exact-k, RNG-free)
# --------------------------------------------------------------------------
_WRES_K = 50
_WRES_U32 = md5_prefix_uint32_sql("'wres|' || CAST(doc_id AS STRING)")

_WRES_SCORE = (
    f"CAST(ROUND(ln(CAST({_WRES_U32} + 1 AS DOUBLE) / 4294967296.0)"
    f" / CAST(n_chars AS DOUBLE) * 1000000000.0, 0) AS BIGINT)"
)

_WRES_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
         {_WRES_SCORE} AS es_scaled
  FROM documents WHERE n_chars > 0
),
ranked AS (
  SELECT doc_id, weight, es_scaled,
         ROW_NUMBER() OVER (ORDER BY es_scaled DESC, doc_id ASC) AS rnk
  FROM scored
)
SELECT doc_id, weight, es_scaled, CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= {_WRES_K}
"""


@workload("sample_weighted_reservoir", oracle=_WRES_ORACLE)
def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-k WEIGHTED sampling without replacement (Efraimidis-Spirakis
    A-ES): each doc gets key u^(1/w) with u a deterministic md5-u32
    uniform and w = n_chars; the top-k keys ARE a weighted sample without
    replacement — the exact-size companion to C16's Bernoulli thinning
    (which only controls the EXPECTED count). Ranking uses the monotone
    transform ln(u)/w pre-scaled to an exact BIGINT (absorbing ln ulps),
    so the selection is an integer sort: TakeOrderedAndProject + the
    bounded k x k rank join, never a global window. Mergeable at scale:
    per-partition top-k merges to global top-k (the reservoir property)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    scored = d.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("weight"),
        F.expr(_WRES_SCORE).alias("es_scaled"),
    )
    top = scored.orderBy(F.col("es_scaled").desc(), F.col("doc_id").asc()).limit(
        _WRES_K
    )
    lhs, rhs = top.alias("l"), top.alias("r")
    ahead = (F.col("r.es_scaled") > F.col("l.es_scaled")) | (
        (F.col("r.es_scaled") == F.col("l.es_scaled"))
        & (F.col("r.doc_id") < F.col("l.doc_id"))
    )
    return (
        lhs.join(rhs, ahead, "left")
        .groupBy(
            F.col("l.doc_id").alias("doc_id"),
            F.col("l.weight").alias("weight"),
            F.col("l.es_scaled").alias("es_scaled"),
        )
        .agg((F.count(F.col("r.doc_id")) + 1).cast("long").alias("rnk"))
    )


# --------------------------------------------------------------------------
# Stratified sampling under an EXACT total budget
# --------------------------------------------------------------------------
_STRAT_BUDGET = 100
_STRAT_U32 = md5_prefix_uint32_sql("'strat|' || CAST(doc_id AS STRING)")

_STRAT_ORACLE = f"""
WITH counts AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s FROM documents GROUP BY source
),
tot AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n FROM counts),
q AS (
  SELECT c.source, c.n_s,
         (c.n_s * {_STRAT_BUDGET}) // t.n AS floor_units,
         (c.n_s * {_STRAT_BUDGET}) % t.n AS remainder
  FROM counts c CROSS JOIN tot t
),
short AS (SELECT {_STRAT_BUDGET} - SUM(floor_units) AS missing FROM q),
rr AS (
  SELECT a.source, a.n_s, a.floor_units,
         1 + (SELECT COUNT(*) FROM q b
               WHERE b.remainder > a.remainder
                  OR (b.remainder = a.remainder AND b.source < a.source))
           AS remainder_rank
  FROM q a
),
quota AS (
  SELECT rr.source, rr.n_s,
         CAST(rr.floor_units
              + CASE WHEN rr.remainder_rank <= s.missing THEN 1 ELSE 0 END
              AS BIGINT) AS k_s
  FROM rr CROSS JOIN short s
),
ranked AS (
  SELECT d.doc_id, d.source,
         ROW_NUMBER() OVER (PARTITION BY d.source
                            ORDER BY {_STRAT_U32.replace('doc_id', 'd.doc_id')} ASC,
                                     d.doc_id ASC) AS rnk
  FROM documents d
)
SELECT r.doc_id, r.source, CAST(r.rnk AS BIGINT) AS rnk, q.k_s
FROM ranked r JOIN quota q ON r.source = q.source
WHERE r.rnk <= q.k_s
"""


@workload("sample_stratified_budget", oracle=_STRAT_ORACLE)
def sample_stratified_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRATIFIED sampling under an EXACT total budget: per-source quotas
    from Hamilton largest-remainder allocation (C117's integer DIV/MOD
    machinery — quotas sum to the budget EXACTLY, no rounding drift),
    then a deterministic md5-u32 rank picks each stratum's members — the
    proportional corpus-subsample every eval-set builder needs, fully
    reproducible across engines/partitionings. The remainder rank is a
    bounded |sources| x |sources| self-join (no global window); the
    in-stratum rank window is source-partitioned."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    tot = counts.agg(F.sum("n_s").alias("n"))
    q = counts.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_s",
        F.expr(f"(n_s * {_STRAT_BUDGET}) div n").alias("floor_units"),
        ((F.col("n_s") * _STRAT_BUDGET) % F.col("n")).alias("remainder"),
    )
    short = q.agg((F.lit(_STRAT_BUDGET) - F.sum("floor_units")).alias("missing"))
    a, b = q.alias("a"), q.alias("b")
    ahead = (F.col("b.remainder") > F.col("a.remainder")) | (
        (F.col("b.remainder") == F.col("a.remainder"))
        & (F.col("b.source") < F.col("a.source"))
    )
    rr = (
        a.join(b, ahead, "left")
        .groupBy(
            F.col("a.source").alias("source"),
            F.col("a.n_s").alias("n_s"),
            F.col("a.floor_units").alias("floor_units"),
        )
        .agg((F.count(F.col("b.source")) + 1).alias("remainder_rank"))
    )
    quota = rr.crossJoin(F.broadcast(short)).select(
        "source",
        (
            F.col("floor_units")
            + F.when(F.col("remainder_rank") <= F.col("missing"), 1).otherwise(0)
        )
        .cast("long")
        .alias("k_s"),
    )
    w = Window.partitionBy("source").orderBy(
        F.expr(_STRAT_U32).asc(), F.col("doc_id").asc()
    )
    ranked = d.select("doc_id", "source").withColumn(
        "rnk", F.row_number().over(w).cast("long")
    )
    return ranked.join(F.broadcast(quota), "source").filter(
        F.col("rnk") <= F.col("k_s")
    ).select("doc_id", "source", "rnk", "k_s")


# --------------------------------------------------------------------------
# Deterministic per-group sample (hash-ordered, no RNG state)
# --------------------------------------------------------------------------
_SAMPLE_K = 5

_GROUP_SAMPLE_ORACLE = f"""
WITH h AS (
  SELECT event_type, event_id, md5(CAST(event_id AS VARCHAR)) AS hkey
  FROM events
),
ranked AS (
  SELECT event_type, event_id, hkey,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY hkey, event_id) AS rn
  FROM h
)
SELECT event_type, event_id, hkey, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= {_SAMPLE_K}
"""


@workload("sample_group_hash_topk", oracle=_GROUP_SAMPLE_ORACLE)
def sample_group_hash_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group uniform sample WITHOUT RNG state: keep the k rows with
    the smallest md5(event_id) per event type — the distributed
    reservoir-sample replacement (md5 order is uniform over ids,
    reproducible across engines/runs/retries, and mergeable: the top-k of
    a union is the top-k of per-partition top-ks). One window per group;
    at scale Spark pushes the rank filter into per-partition top-k heaps
    before the shuffle."""
    e = load_table(spark, sf_dir, "events")
    h = e.select(
        "event_type",
        "event_id",
        F.md5(F.col("event_id").cast("string")).alias("hkey"),
    )
    w = Window.partitionBy("event_type").orderBy("hkey", "event_id")
    return (
        h.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= _SAMPLE_K)
    )


# --------------------------------------------------------------------------
# Deterministic epoch-shuffle plan (training-corpus shard + position map)
# --------------------------------------------------------------------------
_EPOCH_SHARDS = 8
_EPOCH_KEY = _u32_sql("CAST(doc_id AS STRING)")

_EPOCH_ORACLE = f"""
WITH keyed AS (
  SELECT doc_id,
         {_EPOCH_KEY} AS shuffle_key
  FROM documents
)
SELECT CAST(shuffle_key % {_EPOCH_SHARDS} AS BIGINT) AS shard,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY shuffle_key % {_EPOCH_SHARDS}
         ORDER BY shuffle_key ASC, doc_id ASC) AS BIGINT) AS pos,
       doc_id
FROM keyed
ORDER BY shard, pos
"""


@workload("train_epoch_shuffle_plan", oracle=_EPOCH_ORACLE)
def train_epoch_shuffle_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC EPOCH SHUFFLE: assign every training document a
    pseudorandom-but-reproducible (shard, position) — the "shuffle the
    corpus between epochs" step of a training-data pipeline, seedable by
    swapping the key expression. The shuffle key is the portable md5-u32
    word (uniform over doc ids, identical in Spark SQL and DuckDB), shard
    is key % 8, and position is a shard-PARTITIONED rank ordered by
    (key, doc_id) — exactly the repartition-by-shard +
    sortWithinPartitions layout a 100 TB corpus export would use: ONE
    hash shuffle on shard, per-shard local sort, never a global window.
    Epoch 2 is the same plan keyed on md5(doc_id || ':2')."""
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id", F.expr(_EPOCH_KEY).alias("shuffle_key")
    )
    shard = (F.col("shuffle_key") % _EPOCH_SHARDS).cast("long")
    w = Window.partitionBy(shard).orderBy(
        F.col("shuffle_key").asc(), F.col("doc_id").asc()
    )
    return keyed.select(
        shard.alias("shard"),
        F.row_number().over(w).cast("long").alias("pos"),
        "doc_id",
    ).orderBy("shard", "pos")


# --------------------------------------------------------------------------
# C190 — dataset card: per-(source, lang) corpus composition report
# --------------------------------------------------------------------------

_NT_SQL = "len(string_split_regex(lower(trim(text)), '\\s+'))"

_CARD_EXPRS = {
    "mean_chars": "CAST(total_chars AS DOUBLE) / CAST(n_docs AS DOUBLE)",
    "share_docs": "CAST(n_docs AS DOUBLE) / CAST(tot_docs AS DOUBLE)",
    "share_tokens": "CAST(total_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE)",
}

_CARD_ORACLE = f"""
WITH per AS (
  SELECT source, lang,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         CAST(SUM({_NT_SQL}) AS BIGINT) AS total_tokens
  FROM documents GROUP BY source, lang
),
tot AS (
  SELECT CAST(SUM(n_docs) AS BIGINT) AS tot_docs,
         CAST(SUM(total_tokens) AS BIGINT) AS tot_tokens
  FROM per
)
SELECT source, lang, n_docs, total_chars, total_tokens,
       {_CARD_EXPRS["mean_chars"]} AS mean_chars,
       {_CARD_EXPRS["share_docs"]} AS share_docs,
       {_CARD_EXPRS["share_tokens"]} AS share_tokens
FROM per CROSS JOIN tot
"""


@workload("train_dataset_card", oracle=_CARD_ORACLE)
def train_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset card's composition table: per (source, language)
    document and exact token counts plus each cell's share of the
    corpus — the first table every training-data release publishes
    (C4/Pile/RefinedWeb-style reporting). One grouped aggregation over
    the corpus; the two corpus totals are bounded driver scalars that
    re-enter as literals (no BNLJ, no global window). Token counts are
    the engine's standard whitespace tokenization, stated identically
    in SQL."""
    from sample_data_pipeline_project_spark.functions.text import token_count

    d = load_table(spark, sf_dir, "documents")
    per = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum(token_count("text")).cast("long").alias("total_tokens"),
    )
    tot = per.agg(F.sum("n_docs"), F.sum("total_tokens")).first()
    tot_docs, tot_tokens = int(tot[0]), int(tot[1])
    enriched = per.select(
        "source",
        "lang",
        "n_docs",
        "total_chars",
        "total_tokens",
        F.lit(tot_docs).cast("long").alias("tot_docs"),
        F.lit(tot_tokens).cast("long").alias("tot_tokens"),
    )
    return enriched.select(
        "source",
        "lang",
        "n_docs",
        "total_chars",
        "total_tokens",
        F.expr(_CARD_EXPRS["mean_chars"]).alias("mean_chars"),
        F.expr(_CARD_EXPRS["share_docs"]).alias("share_docs"),
        F.expr(_CARD_EXPRS["share_tokens"]).alias("share_tokens"),
    )


# DuckDB twin of functions.text.tokens()
_DUCK_TOKENS = "string_split_regex(lower(trim(text)), '\\s+')"


_MIX_BUDGET = 10_000_000


@workload(
    "train_temperature_mix",
    oracle=f"""
WITH per_source AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len({_DUCK_TOKENS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
w AS (
  SELECT *, SQRT(CAST(n_tokens AS DOUBLE)) AS raw_w FROM per_source
)
SELECT source, n_docs, n_tokens,
       ROUND(raw_w / SUM(raw_w) OVER (), 6) AS mix_weight,
       ROUND({_MIX_BUDGET} * (raw_w / SUM(raw_w) OVER ()) / n_tokens, 6)
         AS effective_epochs
FROM w
""",
)
def train_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C231 — temperature-scaled source mixing (alpha = 1/2, i.e. T = 2):
    per-source sampling weight ~ sqrt(token count), normalized; effective
    epochs = budget * weight / tokens shows which tails get up-sampled
    past 1 epoch. sqrt is IEEE-correctly-rounded in both engines, so the
    weights value-hash (the whole-corpus normalizer is a |sources|-value
    double sum; rounding at 1e-6 absorbs association order). One grouped
    aggregate; the normalizer re-enters as a crossJoin of the 1-row
    total (the rollup_share_of_parent pattern) — fully LAZY, unlike the
    round-9 version whose construction-time .first() made merely
    building the query run a Spark job — so no global window exists."""
    docs = load_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens("text"))).alias("n_tokens"),
    )
    w = per_source.withColumn(
        "raw_w", F.sqrt(F.col("n_tokens").cast("double"))
    )
    total = w.agg(F.sum("raw_w").alias("__denom"))
    return w.crossJoin(F.broadcast(total)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("raw_w") / F.col("__denom"), 6).alias("mix_weight"),
        F.round(
            F.lit(_MIX_BUDGET)
            * (F.col("raw_w") / F.col("__denom"))
            / F.col("n_tokens"),
            6,
        ).alias("effective_epochs"),
    )


# ---------------------------------------------------------------------------
# C234 — greedy k-center diversity coreset (farthest-point traversal)
# ---------------------------------------------------------------------------

_KC_K = 5
_KC_SEED_ID = 0


def _kc_d2(v: str, c: str) -> F.Column:
    """Exact squared L2 between two vector columns via three left folds
    (bit-identical to the oracle's identical expression tree)."""
    return dot(v, v) - F.lit(2.0) * dot(v, c) + dot(c, c)


def _kc_duck_d2(v: str, c: str) -> str:
    return f"({duck_dot(v, v)} - 2.0 * {duck_dot(v, c)} + {duck_dot(c, c)})"


def _kc_oracle() -> str:
    """Unrolled greedy selection: center i+1 = the point maximizing the
    min squared-L2 distance to centers 1..i (ties -> lowest vec_id).
    k is small and fixed, so the iterations unroll into chained CTEs."""
    lines = [
        "WITH pts AS (SELECT vec_id, embedding FROM embeddings),",
        f"c1 AS (SELECT vec_id, embedding FROM pts WHERE vec_id = {_KC_SEED_ID})",
    ]
    for i in range(2, _KC_K + 1):
        prev = ", ".join(f"c{j}" for j in range(1, i))
        d2s = ", ".join(
            f"{_kc_duck_d2('p.embedding', f'c{j}.embedding')}"
            for j in range(1, i)
        )
        not_in = " AND ".join(
            f"p.vec_id != c{j}.vec_id" for j in range(1, i)
        )
        lines.append(
            f", c{i} AS (SELECT p.vec_id, p.embedding FROM pts p, {prev} "
            f"WHERE {not_in} "
            f"ORDER BY LEAST({d2s}) DESC, p.vec_id ASC LIMIT 1)"
        )
    sel = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS sel_order, vec_id FROM c{i}"
        for i in range(1, _KC_K + 1)
    )
    return "\n".join(lines) + "\n" + sel


@workload("sample_kcenter_coreset", oracle=_kc_oracle())
def sample_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C234 — greedy k-center coreset (farthest-point traversal): pick a
    deterministic seed, then repeatedly take the point FARTHEST (max-min
    exact squared L2, ties to lowest id) from the chosen set — the
    classic 2-approximation for k-center and the standard
    diversity-subset primitive in data curation (cover the embedding
    space, don't oversample dense modes).

    Spark-first: each of the k-1 selection rounds is a 1-row
    TakeOrderedAndProject over a scan with all previously chosen centers
    attached via BROADCAST crossJoins of 1-row frames — the whole
    selection is ONE lazy Catalyst plan (building it launches no jobs),
    k linear passes, no quadratic stage, no driver loop over data. At
    100 TB each pass is a full scan, so k stays small (coresets use
    k-center on SAMPLES per shard, then recurse — the per-shard plan is
    exactly this one)."""
    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select("vec_id", "embedding")
    centers = [
        pts.filter(F.col("vec_id") == _KC_SEED_ID).select(
            F.col("vec_id").alias("c1_id"), F.col("embedding").alias("c1_v")
        )
    ]
    for i in range(2, _KC_K + 1):
        cand = pts
        for c in centers:
            cand = cand.crossJoin(F.broadcast(c))
        chosen_ids = [F.col(f"c{j}_id") for j in range(1, i)]
        d2s = [_kc_d2("embedding", f"c{j}_v") for j in range(1, i)]
        min_d2 = d2s[0] if len(d2s) == 1 else F.least(*d2s)
        keep = cand
        for cid in chosen_ids:
            keep = keep.filter(F.col("vec_id") != cid)
        nxt = (
            keep.select("vec_id", "embedding", min_d2.alias("md"))
            .orderBy(F.desc("md"), F.asc("vec_id"))
            .limit(1)
            .select(
                F.col("vec_id").alias(f"c{i}_id"),
                F.col("embedding").alias(f"c{i}_v"),
            )
        )
        centers.append(nxt)
    out = None
    for i, c in enumerate(centers, start=1):
        row = c.select(
            F.lit(i).cast("long").alias("sel_order"),
            F.col(f"c{i}_id").alias("vec_id"),
        )
        out = row if out is None else out.unionAll(row)
    return out


# --------------------------------------------------------------------------
# Deterministic hash sampling — reproducible TABLESAMPLE at any scale
# --------------------------------------------------------------------------
@workload(
    "sample_hash_orders",
    oracle="""
SELECT o_orderpriority,
       COUNT(*) AS n_sampled,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sampled_total
FROM orders
WHERE substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) IN ('0', '1')
GROUP BY o_orderpriority
""",
)
def sample_hash_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 2/16 hash sample: keep rows whose key's md5 starts
    with nibble 0 or 1. Unlike TABLESAMPLE/df.sample (RNG- and
    partition-layout-dependent, irreproducible across engines, retries, or
    repartitioning), a key-hash predicate picks the SAME logical rows
    everywhere — the only sampling that is auditable on a 100 TB pipeline.
    Embarrassingly parallel: no coordination, prunes before the shuffle."""
    o = load_table(spark, sf_dir, "orders")
    nibble = F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1)
    return (
        o.filter(nibble.isin("0", "1"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sampled_total"),
        )
    )


# --------------------------------------------------------------------------
# Stratified deterministic sampling (dataset-mix resampling)
# --------------------------------------------------------------------------
@workload(
    "sample_stratified_mix",
    oracle="""
SELECT source, COUNT(*) AS n_sampled
FROM documents
WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN
      (CASE WHEN length(source) = 4 THEN '0' ELSE 'x' END,
       '1', '2', '3', '4', '5')
GROUP BY source
""",
)
def sample_stratified_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling for dataset-mix rebalancing:
    per-stratum keep rates applied as key-hash nibble thresholds —
    single-digit sources (length 4, e.g. src0) keep 6/16, double-digit
    sources keep 5/16. Same auditable-hash idea as sample_hash_orders,
    with the rate a function of the stratum — the op that reshapes a
    corpus toward a target mix without RNG state."""
    d = load_table(spark, sf_dir, "documents")
    nibble = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    base_keep = nibble.isin("1", "2", "3", "4", "5")
    extra_keep = (F.length("source") == 4) & (nibble == "0")
    return (
        d.filter(base_keep | extra_keep)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )
