"""Deduplication workloads (B1/B2) over `documents`, each with a DuckDB
oracle computing the identical md5-based hashing so values match exactly."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sample_data_pipeline_project_spark.functions.text import md5_fingerprint
from sample_data_pipeline_project_spark.operators.dedup import (
    SIMHASH_BITS,
    dedup_groups,
    jaccard_pairs_prefix,
    minhash_lsh_candidates,
    simhash_bit_sql,
    simhash_pairs,
)
from sample_data_pipeline_project_spark.operators.materialize import materialize
from sample_data_pipeline_project_spark.sources.catalog import load_table
from sample_data_pipeline_project_spark.sources.scratch import scratch_dir
from sample_data_pipeline_project_spark.workloads import workload

_DUCK_TOKS = "list_distinct(string_split_regex(lower(trim(text)), '\\s+'))"

_JACCARD_THRESHOLD = 0.9


@workload(
    "dedup_exact",
    oracle="""
SELECT md5(lower(trim(text))) AS text_key,
       MIN(doc_id) AS canonical_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY md5(lower(trim(text)))
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1 — exact dedup keyed on the md5 text fingerprint: shuffles 16-byte
    keys, not documents; canonical id = min doc_id per group."""
    d = load_table(spark, sf_dir, "documents").withColumn(
        "text_key", md5_fingerprint("text")
    )
    return dedup_groups(d, ["text_key"], "doc_id")


@workload(
    "dedup_jaccard_pairs",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({_DUCK_TOKS}) AS tok FROM documents
),
sizes AS (SELECT doc_id, COUNT(*) AS n_tok FROM toks GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS shared
  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT s.a, s.b, s.shared, sa.n_tok AS n_a, sb.n_tok AS n_b,
       CAST(s.shared AS DOUBLE) / (sa.n_tok + sb.n_tok - s.shared) AS jaccard
FROM shared s
JOIN sizes sa ON s.a = sa.doc_id
JOIN sizes sb ON s.b = sb.doc_id
WHERE CAST(s.shared AS DOUBLE) / (sa.n_tok + sb.n_tok - s.shared)
      >= {_JACCARD_THRESHOLD}
""",
)
def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2 — token-set Jaccard near-dup pairs, prefix-filtered (exact:
    AllPairs/PPJoin prefix index + array_intersect verification)."""
    d = load_table(spark, sf_dir, "documents")
    return jaccard_pairs_prefix(d, _JACCARD_THRESHOLD)


_NUM_HASHES = 12
_BANDS = 4
_R = _NUM_HASHES // _BANDS


def _duck_minhash_oracle(extra_where: str = "", toks_select: str | None = None) -> str:
    """`toks_select` overrides the token-set CTE body (e.g. n-gram
    shingles instead of unigram tokens); default is the unigram set."""
    if toks_select is None:
        toks_select = f"SELECT doc_id, unnest({_DUCK_TOKS}) AS tok FROM documents"
    mins = ",\n         ".join(
        f"MIN(md5('{i}|' || tok)) AS mh_{i}" for i in range(_NUM_HASHES)
    )
    band_selects = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {bi} AS band_idx, md5({h}) AS band_hash FROM sig".format(
            bi=bi,
            h=" || ',' || ".join(f"mh_{bi * _R + j}" for j in range(_R)),
        )
        for bi in range(_BANDS)
    )
    return f"""
WITH toks AS (
  {toks_select}
),
sig AS (
  SELECT doc_id,
         {mins}
  FROM toks GROUP BY doc_id
),
banded AS (
{band_selects}
)
SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
FROM banded a
JOIN banded b
  ON a.band_idx = b.band_idx
 AND a.band_hash = b.band_hash
 AND a.doc_id < b.doc_id
{extra_where}
"""


_MAX_HAMMING = 3


def _duck_simhash_oracle() -> str:
    votes = ",\n         ".join(
        f"SUM({simhash_bit_sql('md5(tok)', j)} * 2 - 1) AS s_{j}"
        for j in range(SIMHASH_BITS)
    )
    fp = " + ".join(
        f"(CASE WHEN s_{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({_DUCK_TOKS}) AS tok FROM documents
),
votes AS (
  SELECT doc_id,
         {votes}
  FROM toks GROUP BY doc_id
),
sig AS (SELECT doc_id, {fp} AS simhash FROM votes)
SELECT a.doc_id AS a, b.doc_id AS b,
       a.simhash AS simhash_a, b.simhash AS simhash_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_MAX_HAMMING}
"""


@workload("dedup_simhash_pairs", oracle=_duck_simhash_oracle())
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2 — SimHash near-dup pairs: 32-bit token-vote fingerprints, banded
    candidate join (exact by pigeonhole for hamming < bands), popcount-xor
    verification. The oracle recomputes identical fingerprints via the
    shared portable bit arithmetic (simhash_bit_sql) and compares all pairs
    quadratically."""
    d = load_table(spark, sf_dir, "documents")
    return simhash_pairs(d, _MAX_HAMMING)


_NGRAM_N = 2
_NGRAM_THRESHOLD = 0.8

# DuckDB twin of word bigram shingles over the whitespace token list.
_DUCK_BIGRAMS = (
    "list_distinct(list_transform("
    "range(1, greatest(len(toks) - 1, 0) + 1), "
    "i -> array_to_string(toks[i:i+1], ' ')))"
)


@workload(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH base AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
),
toks AS (
  SELECT doc_id, unnest({_DUCK_BIGRAMS}) AS tok FROM base
),
sizes AS (SELECT doc_id, COUNT(*) AS n_tok FROM toks GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS shared
  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT s.a, s.b, s.shared, sa.n_tok AS n_a, sb.n_tok AS n_b,
       CAST(s.shared AS DOUBLE) / (sa.n_tok + sb.n_tok - s.shared) AS jaccard
FROM shared s
JOIN sizes sa ON s.a = sa.doc_id
JOIN sizes sb ON s.b = sb.doc_id
WHERE CAST(s.shared AS DOUBLE) / (sa.n_tok + sb.n_tok - s.shared)
      >= {_NGRAM_THRESHOLD}
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2 — word-BIGRAM shingle Jaccard near-dup pairs (order-sensitive,
    unlike the unigram set form), prefix-filtered exactly as
    dedup_jaccard_pairs."""
    d = load_table(spark, sf_dir, "documents")
    return jaccard_pairs_prefix(d, _NGRAM_THRESHOLD, ngram_n=_NGRAM_N)


# Shared recursive-CTE chain: bigram-Jaccard pair graph -> symmetric
# closure -> min-label connected components (everything through `comp`) —
# used verbatim by BOTH cluster workloads so the two oracles cannot drift.
_DUCK_CC_CTES = f"""base AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
),
toks AS (
  SELECT doc_id, unnest({_DUCK_BIGRAMS}) AS tok FROM base
),
sizes AS (SELECT doc_id, COUNT(*) AS n_tok FROM toks GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS shared
  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
pairs AS (
  SELECT s.a, s.b
  FROM shared s
  JOIN sizes sa ON s.a = sa.doc_id
  JOIN sizes sb ON s.b = sb.doc_id
  WHERE CAST(s.shared AS DOUBLE) / (sa.n_tok + sb.n_tok - s.shared)
        >= {_NGRAM_THRESHOLD}
),
edges AS (SELECT a AS src, b AS dst FROM pairs
          UNION SELECT b AS src, a AS dst FROM pairs),
reach(node, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
),
comp AS (SELECT node AS doc_id, MIN(lbl) AS component_id FROM reach GROUP BY node)"""


@workload(
    "dedup_connected_components",
    oracle=f"""
WITH RECURSIVE {_DUCK_CC_CTES}
SELECT c.doc_id, c.component_id, s.n_members
FROM comp c
JOIN (SELECT component_id, COUNT(*) AS n_members FROM comp
      GROUP BY component_id) s USING (component_id)
""",
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2 — duplicate-CLUSTER assignment: collapse the bigram-Jaccard
    near-dup pair graph into connected components via iterative min-label
    propagation (operators/components.py); every document gets the min
    doc_id reachable through the near-dup relation as its canonical
    component_id, plus the component size. The oracle computes the same
    closure with a recursive CTE — feasible there because dup clusters
    are near-cliques of bounded size."""
    from sample_data_pipeline_project_spark.operators.components import (
        connected_components,
    )

    d = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs_prefix(d, _NGRAM_THRESHOLD, ngram_n=_NGRAM_N).select("a", "b")
    comp = connected_components(pairs, d.select("doc_id"), id_col="doc_id")
    sizes = comp.groupBy("component_id").agg(F.count(F.lit(1)).alias("n_members"))
    return comp.join(F.broadcast(sizes), "component_id").select(
        "doc_id", "component_id", "n_members"
    )


@workload("dedup_minhash_lsh", oracle=_duck_minhash_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2 — MinHash(k=12) + LSH banding (4 bands x 3 rows): candidate
    near-dup pairs from band-hash collisions; md5-hex minwise hashing is
    engine-portable so the oracle reproduces signatures exactly."""
    d = load_table(spark, sf_dir, "documents")
    return minhash_lsh_candidates(d, _NUM_HASHES, _BANDS)


_MH_NGRAM_N = 3

# DuckDB twin of word trigram shingles over the whitespace token list.
_DUCK_TRIGRAMS = (
    "list_distinct(list_transform("
    "range(1, greatest(len(toks) - 2, 0) + 1), "
    "i -> array_to_string(toks[i:i+2], ' ')))"
)

_MH_NGRAM_TOKS = f"""SELECT doc_id, unnest({_DUCK_TRIGRAMS}) AS tok
  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
        FROM documents)"""


@workload(
    "dedup_minhash_lsh_ngram",
    oracle=_duck_minhash_oracle(toks_select=_MH_NGRAM_TOKS),
)
def dedup_minhash_lsh_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2/C217 — MinHash-LSH over word TRIGRAM shingles: the 100 TB
    configuration of dedup_minhash_lsh. Unigram token sets make any two
    documents sharing vocabulary near-dup candidates (on this corpus
    ~60% of all pairs collide in some band — see SCALING.md); shingles
    are order-sensitive, so only genuinely overlapping text collides
    and the candidate volume collapses. Identical operator and banding,
    ngram_n=3."""
    d = load_table(spark, sf_dir, "documents")
    return minhash_lsh_candidates(d, _NUM_HASHES, _BANDS, ngram_n=_MH_NGRAM_N)


# --------------------------------------------------------------------------
# Quality-aware duplicate-cluster collapse: after clustering, curation
# keeps ONE canonical doc per near-dup cluster — the highest-quality
# member, not an arbitrary one.
# --------------------------------------------------------------------------
from sample_data_pipeline_project_spark.workloads.text_queries import (  # noqa: E402
    _DUCK_STOP_EN,
)

_DUCK_QSCORE = f"""(CASE WHEN len(qtoks) BETWEEN 20 AND 1000 THEN 1 ELSE 0 END
      + CASE WHEN CAST(len(list_filter(qtoks, t -> t IN ({_DUCK_STOP_EN}))) AS DOUBLE)
                  / len(qtoks) BETWEEN 0.01 AND 0.6 THEN 1 ELSE 0 END
      + CASE WHEN CAST(len(list_distinct(qtoks)) AS DOUBLE) / len(qtoks) >= 0.1
             THEN 1 ELSE 0 END)"""


def _quality_scored(d: DataFrame) -> DataFrame:
    """(doc_id, quality_score): the 0-3 additive quality signal the
    collapse election ranks by (length band, stopword-ratio band,
    distinct-token ratio) — shared by the exact pipeline and its C237
    LSH-banded scale path so both elect with the SAME production code."""
    from sample_data_pipeline_project_spark.functions.text import (
        stopword_count,
        tokens,
    )

    dq = d.withColumn("qtoks", tokens("text"))
    n_tokens = F.size(F.col("qtoks"))
    n_stop = stopword_count("qtoks", "en")
    score = (
        F.when(n_tokens.between(20, 1000), 1).otherwise(0)
        + F.when(
            (n_stop.cast("double") / n_tokens).between(0.01, 0.6), 1
        ).otherwise(0)
        + F.when(
            F.size(F.array_distinct(F.col("qtoks"))).cast("double") / n_tokens
            >= 0.1,
            1,
        ).otherwise(0)
    )
    return dq.select("doc_id", score.cast("long").alias("quality_score"))


@workload(
    "dedup_cluster_collapse",
    oracle=f"""
WITH RECURSIVE {_DUCK_CC_CTES},
q AS (
  SELECT doc_id, {_DUCK_QSCORE} AS quality_score
  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS qtoks
        FROM documents)
),
ranked AS (
  SELECT c.doc_id, c.component_id, q.quality_score,
         ROW_NUMBER() OVER (PARTITION BY c.component_id
                            ORDER BY q.quality_score DESC, c.doc_id ASC) AS rn
  FROM comp c JOIN q USING (doc_id)
),
canon AS (
  SELECT component_id, doc_id AS canonical_doc_id FROM ranked WHERE rn = 1
)
SELECT r.doc_id, r.component_id,
       CAST(r.quality_score AS BIGINT) AS quality_score,
       k.canonical_doc_id,
       (r.doc_id = k.canonical_doc_id) AS is_canonical
FROM ranked r JOIN canon k USING (component_id)
""",
)
def dedup_cluster_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2 composition — QUALITY-AWARE duplicate collapse: the bigram-
    Jaccard near-dup graph is clustered (connected components, same edge
    set and operator as dedup_connected_components), then each cluster
    elects its highest-quality member as canonical (quality = the 0-3
    additive score of text_quality_score; doc_id breaks ties) — the
    curation step that keeps the BEST duplicate, not an arbitrary one.
    Every shuffle is keyed by doc_id or component_id (cluster-local
    election via a per-component argmax — never a global window);
    integer scores + boolean flags keep the hash engine-portable.

    The election is a `max_by` HASH AGGREGATE, not a rank window (round
    12, guide §2.4 — the LPA mode-election pattern): the window form
    shuffled every (doc, component, score) row into a per-component
    sort just to pick row 1; max_by partially aggregates map-side, so
    the election exchange carries one row per component and no sort
    runs. Ordering key struct(quality_score, -doc_id) is unique per
    component (doc_id is unique), so its MAX equals the old
    (quality DESC, doc_id ASC) head exactly."""
    from sample_data_pipeline_project_spark.operators.components import (
        connected_components,
    )

    d = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs_prefix(d, _NGRAM_THRESHOLD, ngram_n=_NGRAM_N).select(
        "a", "b"
    )
    comp = connected_components(pairs, d.select("doc_id"), id_col="doc_id")
    scored = _quality_scored(d)
    joined = comp.join(scored, "doc_id")
    canon = joined.groupBy("component_id").agg(
        F.max_by(
            "doc_id",
            F.struct("quality_score", (-F.col("doc_id")).alias("__neg")),
        ).alias("canonical_doc_id")
    )
    return (
        joined.join(canon, "component_id")
        .select(
            "doc_id",
            "component_id",
            "quality_score",
            "canonical_doc_id",
            (F.col("doc_id") == F.col("canonical_doc_id")).alias("is_canonical"),
        )
    )


# --------------------------------------------------------------------------
# Incremental LSH: new-batch documents against an existing corpus whose
# signatures are already materialized (the daily-crawl dedup shape).
# --------------------------------------------------------------------------
_INC_DELTA_MOD = 10  # delta batch = doc_id % 10 == 0 (~10% of the corpus)


@workload(
    "dedup_minhash_incremental",
    oracle=_duck_minhash_oracle(
        extra_where=f"WHERE a.doc_id % {_INC_DELTA_MOD} = 0"
        f" OR b.doc_id % {_INC_DELTA_MOD} = 0"
    ),
)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2 at 100 TB — INCREMENTAL MinHash-LSH dedup: the corpus is split
    into an existing base (90%) whose signatures are materialized to the
    signature store (parquet round-trip — base docs are NOT re-tokenized
    or re-hashed) and a delta batch (doc_id % {mod} == 0, ~10%) standing
    in for a new crawl. Candidates = delta bands joined against
    (base + delta) bands — shuffle sized by the delta and its colliding
    buckets, not the corpus. The oracle recomputes the FULL corpus LSH
    candidates and keeps exactly the pairs touching a delta doc: the
    incremental result must equal full-recompute-minus-already-known,
    which is the correctness statement of incremental maintenance."""
    import os

    from sample_data_pipeline_project_spark.operators.dedup import (
        minhash_lsh_candidates_incremental,
        minhash_signatures,
    )

    d = load_table(spark, sf_dir, "documents")
    base = d.filter(F.col("doc_id") % _INC_DELTA_MOD != 0)
    delta = d.filter(F.col("doc_id") % _INC_DELTA_MOD == 0)
    store = scratch_dir("minhash_sig_store")
    minhash_signatures(base, _NUM_HASHES).write.mode("overwrite").parquet(store)
    base_sigs = spark.read.parquet(store)
    return minhash_lsh_candidates_incremental(
        base_sigs, delta, _NUM_HASHES, _BANDS
    )


# --------------------------------------------------------------------------
# Containment (asymmetric near-superset) detection
# --------------------------------------------------------------------------
_CONT_P, _CONT_Q = 9, 10  # threshold 0.9 as an exact rational
_CONT_N = 3  # trigram shingles: word-level sets are degenerate on short docs

_DUCK_TRIGRAMS = (
    "list_distinct(list_transform("
    "range(1, greatest(len(toks) - 2, 0) + 1), "
    "i -> array_to_string(toks[i:i+2], ' ')))"
)

_CONT_ORACLE = f"""
WITH base AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
),
toks AS (
  SELECT doc_id, unnest({_DUCK_TRIGRAMS}) AS tok FROM base
),
sizes AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok FROM toks GROUP BY doc_id
),
shared AS (
  SELECT a.doc_id AS a, b.doc_id AS b, CAST(COUNT(*) AS BIGINT) AS shared
  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id != b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT s.a, s.b, s.shared, sa.n_tok AS n_a, sb.n_tok AS n_b,
       CAST(s.shared AS DOUBLE) / CAST(sa.n_tok AS DOUBLE) AS containment
FROM shared s
JOIN sizes sa ON s.a = sa.doc_id
JOIN sizes sb ON s.b = sb.doc_id
WHERE {_CONT_Q} * s.shared >= {_CONT_P} * sa.n_tok
"""


@workload("dedup_containment_pairs", oracle=_CONT_ORACLE)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup detection: ordered pairs where >= 90% of doc
    a's TRIGRAM-SHINGLE set appears in doc b — the near-SUPERSET relation
    (quote expansion, boilerplate wrappers) that symmetric Jaccard
    misses; the curation policy keeps the superset and drops the
    contained copy. Spark side is the lossless one-sided prefix filter
    (`operators/dedup.py:containment_pairs_prefix`) with EXACT-RATIONAL
    threshold arithmetic (q*shared >= p*n_a — no IEEE boundary loss);
    the oracle is the quadratic ordered-pair form stating the identical
    integer inequality."""
    from sample_data_pipeline_project_spark.operators.dedup import (
        containment_pairs_prefix,
    )

    d = load_table(spark, sf_dir, "documents")
    return containment_pairs_prefix(
        d, _CONT_P / _CONT_Q, ngram_n=_CONT_N
    ).select(
        "a", "b", "shared", "n_a", "n_b", "containment"
    )


# --------------------------------------------------------------------------
# Round 4: MinHash Jaccard-ESTIMATE certification (estimator vs exact truth)
# --------------------------------------------------------------------------
def _duck_minhash_estimate_oracle() -> str:
    from sample_data_pipeline_project_spark.functions.text import (
        md5_prefix_uint32_sql,
    )

    u32 = md5_prefix_uint32_sql("CAST(a AS STRING) || '|' || CAST(b AS STRING)")
    mins = ",\n         ".join(
        f"MIN(md5('{i}|' || tok)) AS mh_{i}" for i in range(_NUM_HASHES)
    )
    band_selects = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {bi} AS band_idx, md5({h}) AS band_hash FROM sig".format(
            bi=bi,
            h=" || ',' || ".join(f"mh_{bi * _R + j}" for j in range(_R)),
        )
        for bi in range(_BANDS)
    )
    n_match = " + ".join(
        f"CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END"
        for i in range(_NUM_HASHES)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({_DUCK_TOKS}) AS tok FROM documents
),
sig AS (
  SELECT doc_id,
         {mins}
  FROM toks GROUP BY doc_id
),
banded AS (
{band_selects}
),
cand0 AS (
  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
  FROM banded a
  JOIN banded b
    ON a.band_idx = b.band_idx
   AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
cand AS (
  SELECT a, b FROM cand0
  WHERE {u32} % 256 = 0
),
m AS (
  SELECT c.a, c.b, {n_match} AS n_match
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.a
  JOIN sig sb ON sb.doc_id = c.b
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
inter AS (
  SELECT c.a, c.b, COUNT(*) AS n_inter
  FROM cand c
  JOIN toks ta ON ta.doc_id = c.a
  JOIN toks tb ON tb.doc_id = c.b AND tb.tok = ta.tok
  GROUP BY c.a, c.b
)
SELECT m.a, m.b,
       CAST(m.n_match AS BIGINT) AS n_match,
       CAST({_NUM_HASHES} AS BIGINT) AS n_hashes,
       CAST(i.n_inter AS BIGINT) AS n_inter,
       CAST(sa.n + sb.n - i.n_inter AS BIGINT) AS n_union
FROM m
JOIN inter i ON i.a = m.a AND i.b = m.b
JOIN sizes sa ON sa.doc_id = m.a
JOIN sizes sb ON sb.doc_id = m.b
"""


@workload("dedup_minhash_jaccard_estimate", oracle=_duck_minhash_estimate_oracle())
def dedup_minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ESTIMATOR CERTIFICATION for MinHash: on every LSH candidate pair,
    the signature-agreement count (the numerator of the classic Jaccard
    estimate n_match/n_hashes) side by side with the EXACT intersection
    and union sizes from the token sets — all four exact integers, so the
    full row value-hashes cross-engine and any consumer can audit the
    estimator's per-pair error without re-deriving truth. The md5-hex
    min is a valid minwise hash AND byte-identical in any engine, which
    is what makes a sketch ESTIMATE oracle-stateable at all (contrast
    the certified-invariant style of C9/C89). Scale shape: candidate
    generation is the banded equi-join (never all-pairs); the truth
    joins (|pairs| x tokens-per-doc) run on a DETERMINISTIC 1/256
    md5-u32 sample of the pair list — the audit-sample form that holds
    at 100 TB — with the identical predicate stated in the oracle."""
    from sample_data_pipeline_project_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
        token_sets,
    )

    from sample_data_pipeline_project_spark.functions.text import (
        md5_prefix_uint32_sql,
    )

    d = load_table(spark, sf_dir, "documents")
    # Deterministic 1/16 hash-sample of the candidate pairs: the truth
    # joins (exact intersection/union) cost |pairs| x tokens-per-doc, so
    # at scale the estimator audit runs on a reproducible pair sample —
    # the portable md5-u32 predicate is stated identically in the oracle.
    u32 = md5_prefix_uint32_sql("CAST(a AS STRING) || '|' || CAST(b AS STRING)")
    cand = materialize(
        minhash_lsh_candidates(d, _NUM_HASHES, _BANDS)
        .select("a", "b")
        .filter(F.expr(f"({u32}) % 256 = 0")),
        "checkpoint",
    )
    sig = materialize(minhash_signatures(d, _NUM_HASHES), "checkpoint")
    n_match = sum(
        F.when(F.col(f"sa.mh_{i}") == F.col(f"sb.mh_{i}"), 1).otherwise(0)
        for i in range(_NUM_HASHES)
    )
    m = (
        cand.join(sig.alias("sa"), F.col("a") == F.col("sa.doc_id"))
        .join(sig.alias("sb"), F.col("b") == F.col("sb.doc_id"))
        .select("a", "b", n_match.alias("n_match"))
    )
    # Truth intersection/union via per-doc sorted token ARRAYS +
    # array_intersect (round 12, guide §2.3 "aggregate before you
    # shuffle"): the round-4 form exploded the checkpointed token table
    # against the sampled pairs twice (|cand| x tokens-per-doc rows
    # through a (b, tok)-keyed shuffle join plus a (a, b) re-aggregate);
    # grouping tokens to one array row per doc first makes both truth
    # joins pair-sized broadcast lookups and the intersection a per-row
    # array op. token_sets emits per-doc DISTINCT tokens, so
    # size(array_intersect(..)) equals the old join-count n_inter
    # row-for-row, and n = size(toks) equals the old per-doc count.
    per_doc = materialize(
        token_sets(d)
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("tok")).alias("toks")),
        "checkpoint",
    )
    pa = per_doc.select(
        F.col("doc_id").alias("a"),
        F.col("toks").alias("toks_a"),
        F.size("toks").alias("n_a"),
    )
    pb = per_doc.select(
        F.col("doc_id").alias("b"),
        F.col("toks").alias("toks_b"),
        F.size("toks").alias("n_b"),
    )
    n_inter = F.size(F.array_intersect("toks_a", "toks_b"))
    # the oracle's `inter` CTE is a token join, so a pair sharing no
    # token has no row there and drops out of its inner join; keep only
    # pairs with a shared token to match that by construction
    return (
        m.join(pa, "a")
        .join(pb, "b")
        .withColumn("n_inter", n_inter)
        .filter(F.col("n_inter") > 0)
        .select(
            "a",
            "b",
            F.col("n_match").cast("long"),
            F.lit(_NUM_HASHES).cast("long").alias("n_hashes"),
            F.col("n_inter").cast("long"),
            (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            .cast("long")
            .alias("n_union"),
        )
    )
