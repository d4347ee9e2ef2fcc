"""Text-analysis workloads (B4) over `documents`.

Token counting, quality scoring, language-ID heuristic, fingerprinting —
all pure JVM-side expressions (no UDFs), each with a DuckDB oracle twin
computing the identical per-row arithmetic (integer counts + one double
division -> deterministic across engines).

Ranking and language-model workloads keep libm out of the hash: BM25 and
PMI scores go through `ln`, whose last-ulp behavior is libm-dependent, so
scores are ROUND(_, 9)ed (or pre-scaled to an exact BIGINT) on both sides
before hashing/ordering. Good-Turing and Kneser-Ney smoothing are
rationals over exact integer count tables evaluated in ONE fixed shared
double expression (the discount D=0.75 is exactly representable). Scalar
statistics reach row expressions via a constant-key equi-join, never a
cross join. Fixed-size chunking with overlap (`text_chunk_overlap`)
produces the stride-aligned windows `dedup_chunk_exact` hashes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sample_data_pipeline_project_spark.functions.text import (
    LANG_STOPWORDS,
    md5_fingerprint,
    md5_prefix_uint32_sql,
    stopword_count,
    token_count,
    tokens,
    word_bigrams,
    word_ngrams,
)
from sample_data_pipeline_project_spark.functions.text import (
    md5_prefix_uint32_sql as _md5_u32,
)
from sample_data_pipeline_project_spark.operators.materialize import materialize
from sample_data_pipeline_project_spark.sources.catalog import load_table
from sample_data_pipeline_project_spark.workloads import workload


# DuckDB twin of functions.text.tokens()
_DUCK_TOKENS = "string_split_regex(lower(trim(text)), '\\s+')"


@workload(
    "text_token_stats",
    oracle=f"""
SELECT doc_id,
       len({_DUCK_TOKENS}) AS n_tokens,
       length(regexp_replace(text, '\\s+', '', 'g')) AS n_nonspace_chars,
       CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
         / len({_DUCK_TOKENS}) AS avg_token_len
FROM documents
""",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace tokenizer): counts + average token length."""
    d = load_table(spark, sf_dir, "documents")
    n_tokens = token_count("text")
    n_chars = F.length(F.regexp_replace(F.col("text"), r"\s+", ""))
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_chars.alias("n_nonspace_chars"),
        (n_chars.cast("double") / n_tokens).alias("avg_token_len"),
    )


_DUCK_STOP_EN = ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"])


@workload(
    "text_quality_score",
    oracle=f"""
WITH t AS (
  SELECT doc_id, n_chars,
         {_DUCK_TOKENS} AS toks
  FROM documents
)
SELECT doc_id,
       len(toks) AS n_tokens,
       len(list_filter(toks, t -> t IN ({_DUCK_STOP_EN}))) AS n_stopwords,
       CAST(len(list_filter(toks, t -> t IN ({_DUCK_STOP_EN}))) AS DOUBLE)
         / len(toks) AS stopword_ratio,
       CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS distinct_ratio,
       (CASE WHEN len(toks) BETWEEN 20 AND 1000 THEN 1 ELSE 0 END
        + CASE WHEN CAST(len(list_filter(toks, t -> t IN ({_DUCK_STOP_EN}))) AS DOUBLE)
                    / len(toks) BETWEEN 0.01 AND 0.6 THEN 1 ELSE 0 END
        + CASE WHEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) >= 0.1
               THEN 1 ELSE 0 END) AS quality_score
FROM t
""",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring: length band + stopword ratio band +
    lexical diversity, as an additive 0-3 score (the standard pretraining
    data-quality gate shape)."""
    d = load_table(spark, sf_dir, "documents").withColumn("toks", tokens("text"))
    n_tokens = F.size(F.col("toks"))
    n_stop = stopword_count("toks", "en")
    stop_ratio = n_stop.cast("double") / n_tokens
    distinct_ratio = F.size(F.array_distinct(F.col("toks"))).cast("double") / n_tokens
    score = (
        F.when(n_tokens.between(20, 1000), 1).otherwise(0)
        + F.when(stop_ratio.between(0.01, 0.6), 1).otherwise(0)
        + F.when(distinct_ratio >= 0.1, 1).otherwise(0)
    )
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_stop.alias("n_stopwords"),
        stop_ratio.alias("stopword_ratio"),
        distinct_ratio.alias("distinct_ratio"),
        score.alias("quality_score"),
    )


def _duck_lang_scores() -> str:
    parts = []
    for lang, words in LANG_STOPWORDS.items():
        quoted = ", ".join(f"'{w}'" for w in words)
        parts.append(f"len(list_filter(toks, t -> t IN ({quoted}))) AS score_{lang}")
    return ",\n         ".join(parts)


_LANGS = tuple(LANG_STOPWORDS)


@workload(
    "text_lang_id",
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang, {_DUCK_TOKENS} AS toks FROM documents
),
s AS (
  SELECT doc_id, lang,
         {_duck_lang_scores()}
  FROM t
)
SELECT doc_id, lang AS labeled_lang,
       CASE GREATEST(score_en, score_es, score_fr, score_de, score_zh)
         WHEN score_en THEN 'en'
         WHEN score_es THEN 'es'
         WHEN score_fr THEN 'fr'
         WHEN score_de THEN 'de'
         ELSE 'zh' END AS predicted_lang
FROM s
""",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: argmax of per-language stopword hit counts,
    ties broken by fixed language order (en,es,fr,de,zh)."""
    d = load_table(spark, sf_dir, "documents").withColumn("toks", tokens("text"))
    scored = d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[stopword_count("toks", lang).alias(f"score_{lang}") for lang in _LANGS],
    )
    best = F.greatest(*[F.col(f"score_{lang}") for lang in _LANGS])
    pred = F.when(F.col("score_en") == best, "en")
    for lang in _LANGS[1:-1]:
        pred = pred.when(F.col(f"score_{lang}") == best, lang)
    pred = pred.otherwise(_LANGS[-1])
    return scored.select("doc_id", "labeled_lang", pred.alias("predicted_lang"))


# BPE-ish pre-tokenization: letter runs, digit runs, punctuation runs —
# the ASCII core of the GPT-2 pre-tokenizer split, written so Java regex
# (Spark) and RE2 (DuckDB) agree on every input.
_BPE_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r]+"


@workload(
    "text_bpe_token_count",
    oracle=f"""
SELECT doc_id,
       len({_DUCK_TOKENS}) AS n_ws_tokens,
       len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS n_bpe_tokens,
       CAST(len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS DOUBLE)
         / len({_DUCK_TOKENS}) AS bpe_per_word
FROM documents
""",
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, BPE-ish: regex pre-tokenizer runs (letters / digits /
    punctuation) vs whitespace words — the standard estimate of tokens-per-
    word for pretraining budget accounting."""
    d = load_table(spark, sf_dir, "documents")
    n_ws = token_count("text")
    n_bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(_BPE_PATTERN), 0))
    return d.select(
        "doc_id",
        n_ws.alias("n_ws_tokens"),
        n_bpe.alias("n_bpe_tokens"),
        (n_bpe.cast("double") / n_ws).alias("bpe_per_word"),
    )


@workload(
    "text_fingerprint",
    oracle="""
SELECT doc_id,
       md5(lower(trim(text))) AS fingerprint,
       substring(md5(lower(trim(text))), 1, 16) AS fingerprint_prefix
FROM documents
""",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting via portable md5 (same hex in any engine)."""
    d = load_table(spark, sf_dir, "documents")
    fp = md5_fingerprint("text")
    return d.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.substring(fp, 1, 16).alias("fingerprint_prefix"),
    )


@workload(
    "text_token_document_frequency",
    oracle="""
WITH toks AS (
  SELECT unnest(list_distinct(string_split_regex(lower(trim(text)), '\\s+'))) AS tok
  FROM documents
)
SELECT tok, COUNT(*) AS doc_freq
FROM toks
GROUP BY tok
ORDER BY doc_freq DESC, tok ASC
LIMIT 20
""",
)
def text_token_document_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index document frequency: explode per-doc DISTINCT tokens
    (array_distinct before explode — dedup happens inside the row, so the
    shuffle carries each (doc, token) once), count docs per token, global
    top-20. The explode/lateral-view shape every text pipeline starts
    from; top-k via TakeOrderedAndProject, not a global sort."""
    from sample_data_pipeline_project_spark.operators.dedup import token_sets

    d = load_table(spark, sf_dir, "documents")
    return (
        token_sets(d)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.col("doc_freq").desc(), F.col("tok").asc())
        .limit(20)
    )


# PII-style redaction patterns, kept inside the shared semantics of Java
# regex (Spark) and RE2 (DuckDB): char classes + bounded quantifiers only,
# no lookaround, no backreferences.
_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
_LONGTOK_RE = "[a-z]{8,}"


@workload(
    "text_pii_redaction",
    oracle=f"""
SELECT doc_id,
       len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_emails,
       len(regexp_extract_all(text, '{_LONGTOK_RE}')) AS n_long_tokens,
       md5(regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_LONGTOK_RE}', '<TOK>', 'g')) AS redacted_md5
FROM documents
""",
)
def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style regex redaction: count + replace email addresses and
    long alphabetic tokens (stand-in for names/identifiers), returning the
    md5 of the redacted text so the full rewritten document is checked
    without shipping it. The synthetic corpus contains no '@' so n_emails
    exercises the zero-match path portably; the long-token rule fires on
    real data. Pure JVM regexp_replace — the standard pretraining scrub
    stage, no UDF."""
    d = load_table(spark, sf_dir, "documents")
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("text"), _EMAIL_RE, "<EMAIL>"),
        _LONGTOK_RE,
        "<TOK>",
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_EMAIL_RE), 0)).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_LONGTOK_RE), 0)).alias(
            "n_long_tokens"
        ),
        F.md5(redacted).alias("redacted_md5"),
    )


_DECON_N = 3  # shingle width (words); benchmark set = doc_id < 5
_DUCK_DECON_GRAMS = (
    "list_distinct(list_transform("
    "range(1, greatest(len(toks) - 2, 0) + 1), "
    "i -> array_to_string(toks[i:i+2], ' ')))"
)


@workload(
    "text_decontamination_overlap",
    oracle=f"""
WITH base AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
),
grams AS (
  SELECT doc_id, unnest({_DUCK_DECON_GRAMS}) AS gram FROM base
),
bench AS (SELECT doc_id AS bench_id, gram FROM grams WHERE doc_id < 5),
corpus AS (
  SELECT g.doc_id, COUNT(DISTINCT g.gram) AS n_grams
  FROM grams g WHERE g.doc_id >= 5 GROUP BY g.doc_id
),
hits AS (
  SELECT g.doc_id, b.bench_id, COUNT(*) AS n_shared
  FROM grams g JOIN bench b ON g.gram = b.gram
  WHERE g.doc_id >= 5
  GROUP BY g.doc_id, b.bench_id
)
SELECT h.doc_id, h.bench_id, h.n_shared, c.n_grams,
       CAST(h.n_shared AS DOUBLE) / c.n_grams AS contamination
FROM hits h JOIN corpus c ON h.doc_id = c.doc_id
WHERE CAST(h.n_shared AS DOUBLE) / c.n_grams >= 0.05
""",
)
def text_decontamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: word-3-gram overlap between every corpus
    document (doc_id >= 5) and a benchmark set (doc_id < 5) — the standard
    pretraining contamination check. Distinct shingles per doc explode
    once; the benchmark side is tiny and BROADCAST, so the probe is one
    shuffle-free hash lookup per corpus shingle; flagged pairs carry the
    shared-gram count and contamination fraction (>= 5%)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("toks")
    )
    grams = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        F.greatest(F.size("toks") - _DECON_N, F.lit(-1)),
                    ),
                    lambda i: F.array_join(F.slice("toks", i + 1, _DECON_N), " "),
                )
            )
        ).alias("gram"),
    )
    bench = grams.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("bench_id"), "gram"
    )
    corpus = grams.filter(F.col("doc_id") >= 5)
    n_grams = corpus.groupBy("doc_id").agg(
        F.countDistinct("gram").alias("n_grams")
    )
    hits = (
        corpus.join(F.broadcast(bench), "gram")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        hits.join(n_grams, "doc_id")
        .withColumn(
            "contamination", F.col("n_shared").cast("double") / F.col("n_grams")
        )
        .filter(F.col("contamination") >= 0.05)
        .select("doc_id", "bench_id", "n_shared", "n_grams", "contamination")
    )


@workload(
    "sketch_heavy_hitter_tokens",
    oracle=f"""
WITH toks AS (
  SELECT unnest({_DUCK_TOKENS}) AS tok FROM documents
)
SELECT tok, COUNT(*) AS approx_count
FROM toks
GROUP BY tok
ORDER BY approx_count DESC, tok ASC
LIMIT 20
""",
)
def sketch_heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch tier — frequent-items (heavy hitters) over the token stream
    via approx_top_k: bounded-memory top-20 tokens by occurrence, the
    streaming-safe alternative to an exact explode+groupBy+sort when the
    vocabulary doesn't fit. The sketch degrades to EXACT counts when the
    tracked capacity (10,000) exceeds the vocabulary — true at every test
    SF (vocab 31, no count tie at the rank-20 boundary) — so the oracle
    is the exact top-20."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(tokens("text")).alias("tok"))
    return (
        toks.agg(F.expr("approx_top_k(tok, 20, 10000)").alias("top"))
        .select(F.explode("top").alias("e"))
        .select(
            F.col("e.item").alias("tok"),
            F.col("e.count").alias("approx_count"),
        )
        .orderBy(F.col("approx_count").desc(), F.col("tok").asc())
    )


@workload(
    "text_corpus_mix_report",
    oracle=f"""
WITH per_doc AS (
  SELECT source, lang, len({_DUCK_TOKENS}) AS n_tokens
  FROM documents
),
tot AS (SELECT COUNT(*) AS n_docs_total, SUM(n_tokens) AS n_tokens_total
        FROM per_doc)
SELECT p.source, p.lang,
       COUNT(*) AS n_docs,
       CAST(SUM(p.n_tokens) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS DOUBLE) / t.n_docs_total AS doc_share,
       CAST(SUM(p.n_tokens) AS DOUBLE) / t.n_tokens_total AS token_share
FROM per_doc p CROSS JOIN tot t
GROUP BY p.source, p.lang, t.n_docs_total, t.n_tokens_total
""",
)
def text_corpus_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition (mix) report: per (source, lang) document and
    token counts plus their shares of the whole corpus — the dataset-mix
    accounting every pretraining run is planned against. Shares are exact
    integer counts with one double division, so the report is
    value-hash deterministic; the corpus total is a broadcast scalar,
    not a second scan per group."""
    d = load_table(spark, sf_dir, "documents").select(
        "source", "lang", token_count("text").alias("n_tokens")
    )
    per_group = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
    )
    tot = per_group.agg(
        F.sum("n_docs").alias("n_docs_total"),
        F.sum("n_tokens").alias("n_tokens_total"),
    )
    return per_group.crossJoin(F.broadcast(tot)).select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        (F.col("n_docs").cast("double") / F.col("n_docs_total")).alias("doc_share"),
        (F.col("n_tokens").cast("double") / F.col("n_tokens_total")).alias(
            "token_share"
        ),
    )


# --------------------------------------------------------------------------
# Training-sequence packing: concat-and-chunk documents into fixed token
# budgets (the packing pass between curation and tokenization)
# --------------------------------------------------------------------------
_PACK_BUDGET = 512
_PACK_SHARDS = 8

# Engine-portable shard assignment: first 32 bits of md5(doc_id) mod
# n_shards — the same SQL fragment evaluates identically in Spark and
# DuckDB, so the oracle states the identical shard arithmetic.
_PACK_SHARD_SQL = f"({_md5_u32('CAST(doc_id AS STRING)')} % {_PACK_SHARDS})"

_PACK_ORACLE = f"""
WITH sized AS (
  SELECT doc_id,
         len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tok,
         {_PACK_SHARD_SQL} AS shard
  FROM documents
),
packed AS (
  SELECT doc_id, n_tok, shard,
         SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum_tok
  FROM sized
)
SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
       CAST(shard AS BIGINT) AS shard,
       CAST(FLOOR((cum_tok - n_tok) / {_PACK_BUDGET}.0) AS BIGINT) AS seq_id,
       CAST(cum_tok - n_tok - FLOOR((cum_tok - n_tok) / {_PACK_BUDGET}.0)
            * {_PACK_BUDGET} AS BIGINT) AS offset_in_seq
FROM packed
"""


@workload("text_sequence_packing", oracle=_PACK_ORACLE)
def text_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-SEQUENCE PACKING: documents are hash-sharded (first 32
    bits of md5(doc_id) mod n_shards — deterministic, engine-portable),
    then concatenated in stable doc_id order WITHIN each shard and
    chunked into fixed {budget}-token sequences — each doc gets its
    shard, the shard-local sequence id, and the intra-sequence offset
    where its tokens begin (docs may straddle a boundary; the tokenizer
    downstream splits them). The running sum is partitioned by shard, so
    every shard packs independently in parallel — the form that scales
    to 100 TB writers (a single global running sum would force the whole
    corpus through one partition). All-integer output; the oracle states
    the identical shard + placement arithmetic."""
    d = load_table(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id",
        token_count("text").cast("long").alias("n_tok"),
        F.expr(_PACK_SHARD_SQL).cast("long").alias("shard"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    packed = sized.withColumn("cum_tok", F.sum("n_tok").over(w))
    start = F.col("cum_tok") - F.col("n_tok")
    seq = F.floor(start / F.lit(float(_PACK_BUDGET)))
    return packed.select(
        "doc_id",
        "n_tok",
        "shard",
        seq.cast("long").alias("seq_id"),
        (start - seq * _PACK_BUDGET).cast("long").alias("offset_in_seq"),
    )


# --------------------------------------------------------------------------
# Bigram language-model counts (LM-style corpus statistics)
# --------------------------------------------------------------------------
_LM_TOP_K = 50

_LM_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
  FROM documents
),
bigrams AS (
  -- two unnests in one SELECT advance in lockstep (zip) in DuckDB
  SELECT unnest(t[1:len(t) - 1]) AS w1, unnest(t[2:len(t)]) AS w2
  FROM toks
),
pair_counts AS (
  SELECT w1, w2, COUNT(*) AS n_pair FROM bigrams GROUP BY w1, w2
),
prefix_counts AS (
  SELECT w1, SUM(n_pair) AS n_prefix FROM pair_counts GROUP BY w1
),
ranked AS (
  SELECT p.w1, p.w2, p.n_pair, x.n_prefix,
         ROW_NUMBER() OVER (ORDER BY p.n_pair DESC, p.w1 ASC, p.w2 ASC) AS rnk
  FROM pair_counts p JOIN prefix_counts x USING (w1)
)
SELECT w1, w2, CAST(n_pair AS BIGINT) AS n_pair,
       CAST(n_prefix AS BIGINT) AS n_prefix, CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= {_LM_TOP_K}
"""


@workload("text_bigram_lm_counts", oracle=_LM_ORACLE)
def text_bigram_lm_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM statistics: corpus-wide (w1, w2) pair counts next to the
    w1 prefix totals — the integer sufficient statistics of conditional
    probability P(w2|w1) = n_pair/n_prefix, kept as exact integers so the
    hash is engine-portable (the division is the consumer's one cheap
    op). Sequence bigrams keep DUPLICATES and ORDER (zip of adjacent
    slices — unlike the distinct shingle sets the dedup operators use;
    short-doc-safe, see functions/text.py:word_bigrams). Top-{k} by pair
    count, deterministic pair tiebreak."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    bigrams = (
        d.select(toks.alias("__t"))
        .select(F.explode(word_bigrams("__t")).alias("b"))
        .select("b.w1", "b.w2")
    )
    pair_counts = bigrams.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("n_pair")
    )
    prefix_counts = pair_counts.groupBy("w1").agg(
        F.sum("n_pair").alias("n_prefix")
    )
    # Top-k via orderBy().limit() -> TakeOrderedAndProject: each partition
    # keeps its local top-k, the driver merges k*npart rows — no global
    # window, no single-partition Exchange (the pair-count table is
    # vocabulary^2-sized at 100 TB). (w1,w2) pairs are unique, so the
    # total order (n_pair desc, w1, w2) is strict and the limit is
    # deterministic.
    top = pair_counts.orderBy(
        F.col("n_pair").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(_LM_TOP_K)
    # Rank the k survivors without any window: rnk = 1 + |rows strictly
    # ahead in the same total order|, a k x k bounded self-join.
    lhs, rhs = top.alias("l"), top.alias("r")
    ahead = (
        (F.col("r.n_pair") > F.col("l.n_pair"))
        | (
            (F.col("r.n_pair") == F.col("l.n_pair"))
            & (F.col("r.w1") < F.col("l.w1"))
        )
        | (
            (F.col("r.n_pair") == F.col("l.n_pair"))
            & (F.col("r.w1") == F.col("l.w1"))
            & (F.col("r.w2") < F.col("l.w2"))
        )
    )
    ranked = (
        lhs.join(rhs, ahead, "left")
        .groupBy(F.col("l.w1"), F.col("l.w2"), F.col("l.n_pair"))
        .agg((F.count(F.col("r.w1")) + 1).alias("rnk"))
        .select(
            F.col("l.w1").alias("w1"),
            F.col("l.w2").alias("w2"),
            F.col("l.n_pair").alias("n_pair"),
            "rnk",
        )
    )
    # Prefix totals join AFTER the limit: the k-row side broadcasts, the
    # vocabulary-sized prefix table streams through a broadcast hash join.
    return (
        prefix_counts.join(F.broadcast(ranked), "w1")
        .select(
            "w1",
            "w2",
            F.col("n_pair").cast("long"),
            F.col("n_prefix").cast("long"),
            F.col("rnk").cast("long"),
        )
    )


# --------------------------------------------------------------------------
# Quality-weighted deterministic sampling (importance sampling, no RNG)
# --------------------------------------------------------------------------
_QW_U32 = md5_prefix_uint32_sql("CAST(doc_id AS STRING)")

_QW_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents
),
scored AS (
  SELECT doc_id,
         (CASE WHEN len(toks) BETWEEN 20 AND 1000 THEN 1 ELSE 0 END
          + CASE WHEN CAST(len(list_filter(toks, t -> t IN ({_DUCK_STOP_EN}))) AS DOUBLE)
                      / len(toks) BETWEEN 0.01 AND 0.6 THEN 1 ELSE 0 END
          + CASE WHEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) >= 0.1
                 THEN 1 ELSE 0 END) AS quality_score,
         {_QW_U32} AS hash_u32
  FROM t
)
SELECT doc_id, CAST(quality_score AS BIGINT) AS quality_score,
       CAST(hash_u32 AS BIGINT) AS hash_u32
FROM scored
WHERE 3 * hash_u32 < quality_score * 4294967296
"""


@workload("text_quality_weighted_sample", oracle=_QW_ORACLE)
def text_quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-WEIGHTED corpus sampling with NO RNG: a doc is kept with
    probability quality_score/3, decided by whether the first 32 bits of
    md5(doc_id) fall under the integer threshold 3*u32 < q*2^32 — exact
    integer arithmetic, so the sample is reproducible across engines,
    runs, retries and partitionings (rand()-based sampling is none of
    these). The curation form of importance sampling: higher-quality
    docs are proportionally up-weighted; score-0 docs can never pass."""
    d = load_table(spark, sf_dir, "documents").withColumn("toks", tokens("text"))
    n_tokens = F.size(F.col("toks"))
    n_stop = stopword_count("toks", "en")
    score = (
        F.when(n_tokens.between(20, 1000), 1).otherwise(0)
        + F.when((n_stop.cast("double") / n_tokens).between(0.01, 0.6), 1)
        .otherwise(0)
        + F.when(
            F.size(F.array_distinct(F.col("toks"))).cast("double") / n_tokens
            >= 0.1,
            1,
        ).otherwise(0)
    )
    u32 = F.expr(_QW_U32)
    return (
        d.select(
            "doc_id",
            score.cast("long").alias("quality_score"),
            u32.cast("long").alias("hash_u32"),
        )
        .filter(F.lit(3) * F.col("hash_u32") < F.col("quality_score") * F.lit(4294967296))
    )


# --------------------------------------------------------------------------
# Count-Min sketch: mergeable frequency estimates with an EXACT oracle
# --------------------------------------------------------------------------
_CM_SEEDS = 3
_CM_BUCKETS = 1024
_CM_TOP = 20


def _cm_bucket_sql(seed: int) -> str:
    """Bucket of `tok` for one CM row: first 32 md5 bits of 'seed|tok',
    mod the bucket count — portable hex arithmetic (functions/text.py),
    identical in Spark SQL and DuckDB."""
    return (
        "(" + md5_prefix_uint32_sql(f"'{seed}|' || tok") + f" % {_CM_BUCKETS})"
    )


def _cm_oracle() -> str:
    bucket_rows = "\n  UNION ALL ".join(
        f"SELECT tok, {s} AS seed, {_cm_bucket_sql(s)} AS bucket FROM toks"
        for s in range(_CM_SEEDS)
    )
    return f"""
WITH toks AS (
  SELECT unnest({_DUCK_TOKENS}) AS tok FROM documents
),
hashed AS (
  {bucket_rows}
),
cm AS (
  SELECT seed, bucket, COUNT(*) AS c FROM hashed GROUP BY seed, bucket
),
exact AS (
  SELECT tok, COUNT(*) AS exact_count FROM toks GROUP BY tok
),
top AS (
  SELECT tok, exact_count FROM exact
  ORDER BY exact_count DESC, tok ASC LIMIT {_CM_TOP}
),
probes AS (
  {bucket_rows.replace("FROM toks", "FROM top")}
),
est AS (
  SELECT p.tok, MIN(cm.c) AS cm_estimate
  FROM probes p JOIN cm ON cm.seed = p.seed AND cm.bucket = p.bucket
  GROUP BY p.tok
)
SELECT t.tok, CAST(t.exact_count AS BIGINT) AS exact_count,
       CAST(e.cm_estimate AS BIGINT) AS cm_estimate,
       e.cm_estimate >= t.exact_count AS overestimate_ok
FROM top t JOIN est e USING (tok)
"""


def _cm_estimates(tc: DataFrame, cm: DataFrame, bucket_structs: Column) -> DataFrame:
    """Point-query the CM counters `cm` (seed, bucket, c) for the exact
    top-k tokens of `tc` (tok, exact_count): min over the hash rows, plus
    the never-undercounts guarantee as a column."""
    top = tc.orderBy(F.col("exact_count").desc(), F.col("tok").asc()).limit(
        _CM_TOP
    )
    probes = top.select(
        "tok", "exact_count", F.explode(bucket_structs).alias("h")
    ).select("tok", "exact_count", "h.seed", "h.bucket")
    est = (
        probes.join(F.broadcast(cm), ["seed", "bucket"])
        .groupBy("tok", "exact_count")
        .agg(F.min("c").alias("cm_estimate"))
    )
    return est.select(
        "tok",
        F.col("exact_count").cast("long"),
        F.col("cm_estimate").cast("long"),
        (F.col("cm_estimate") >= F.col("exact_count")).alias("overestimate_ok"),
    )


@workload("sketch_countmin_token_counts", oracle=_cm_oracle())
def sketch_countmin_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch tier — COUNT-MIN frequency estimation over the raw token
    stream: {seeds} hash rows x {buckets} counters of bounded, MERGEABLE
    state (counter matrices add — the shape that survives shards and
    streams), point-queried for the exact top-{top} tokens as
    min-over-rows. Because the bucketing is the engine-portable md5
    arithmetic, the oracle rebuilds the IDENTICAL sketch in SQL and even
    the estimates value-hash — plus the structural guarantee
    overestimate_ok (CM never undercounts) stated as TRUE."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(tokens("text")).alias("tok"))
    bucket_structs = F.array(
        *[
            F.struct(
                F.lit(s).alias("seed"),
                F.expr(_cm_bucket_sql(s)).alias("bucket"),
            )
            for s in range(_CM_SEEDS)
        ]
    )
    # One pass collapses the token STREAM to (token, count) — then the
    # 3-seed md5 bucket arithmetic (8 hex-digit parses per hash) runs per
    # DISTINCT token, not per stream row, and the counter increments are
    # count-weighted sums. Identical counters (sum of per-token counts ==
    # stream row count per bucket) for vocabulary-many hashes instead of
    # corpus-many — measured 7.6s -> ~1s at sf0.1. The same distinct table
    # feeds the exact top-k, so the stream is aggregated exactly once.
    tc = materialize(
        toks.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_count")), "cache"
    )
    hashed = tc.select("exact_count", F.explode(bucket_structs).alias("h")).select(
        "exact_count", "h.seed", "h.bucket"
    )
    cm = hashed.groupBy("seed", "bucket").agg(
        F.sum("exact_count").alias("c")
    )
    return _cm_estimates(tc, cm, bucket_structs)


# --------------------------------------------------------------------------
# Repetition-based quality filter (the Gopher/MassiveText repetition
# rules, token-adapted): docs dominated by one repeated bigram or by
# duplicated 5-grams are boilerplate/spam and get dropped pre-training.
# --------------------------------------------------------------------------
_REP_TOP_BIGRAM_MAX = 0.10  # keep iff 2*top_bigram_n/n_tok <= 0.10
_REP_DUP_5GRAM_MAX = 0.10  # keep iff dup_5gram_n/n_5grams  <= 0.10

_REP_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
  FROM documents
),
sized AS (
  SELECT doc_id, t, len(t) AS n_tok,
         list_transform(range(1, greatest(len(t) - 3, 1)),
                        i -> array_to_string(t[i:i+4], ' ')) AS g5
  FROM toks
),
per_doc AS (
  SELECT doc_id, n_tok,
         len(g5) - len(list_distinct(g5)) AS dup_5gram_n,
         len(g5) AS n5
  FROM sized
),
bigrams AS (
  SELECT doc_id, unnest(t[1:len(t) - 1]) AS w1, unnest(t[2:len(t)]) AS w2
  FROM toks
),
top_bigram AS (
  SELECT doc_id, MAX(n_pair) AS top_bigram_n
  FROM (SELECT doc_id, w1, w2, COUNT(*) AS n_pair
        FROM bigrams GROUP BY doc_id, w1, w2)
  GROUP BY doc_id
)
SELECT p.doc_id,
       CAST(p.n_tok AS BIGINT) AS n_tok,
       CAST(COALESCE(tb.top_bigram_n, 0) AS BIGINT) AS top_bigram_n,
       CAST(p.dup_5gram_n AS BIGINT) AS dup_5gram_n,
       (20 * COALESCE(tb.top_bigram_n, 0) <= p.n_tok
        AND 10 * p.dup_5gram_n <= p.n5) AS keep
FROM per_doc p LEFT JOIN top_bigram tb ON p.doc_id = tb.doc_id
"""


@workload("text_repetition_filter", oracle=_REP_ORACLE)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REPETITION quality filter (the Gopher/MassiveText rule family,
    token-adapted): a doc is dropped when (a) its single most frequent
    ordered bigram covers more than {max_bi} of its tokens
    (2*top_bigram_n/n_tok) or (b) more than {max_g5} of its 5-gram
    instances are duplicates (n_5grams - distinct). The 5-gram metric is
    a pure per-row projection (array HOFs, zero shuffle); the top-bigram
    metric aggregates per (doc_id, bigram) then per doc_id — both
    shuffles are doc-partitioned, so the filter streams at corpus scale.
    Both keep-rules compare as EXACT INTEGERS (20*m <= n, 10*d <= n5) —
    no float ratio crosses the engine boundary."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    sized = d.select(
        "doc_id",
        toks.alias("t"),
        F.size(toks).cast("long").alias("n_tok"),
    ).withColumn(
        "g5",
        # short-doc-safe (<5 tokens -> empty): the index-range form dies
        # on Spark's descending sequence(1, 0); the helper guards it
        word_ngrams("t", 5),
    )
    per_doc = sized.select(
        "doc_id",
        "n_tok",
        (F.size("g5") - F.size(F.array_distinct("g5")))
        .cast("long")
        .alias("dup_5gram_n"),
        F.size("g5").cast("long").alias("n5"),
    )
    top_bigram = (
        sized.select("doc_id", F.explode(word_bigrams("t")).alias("b"))
        .groupBy("doc_id", "b.w1", "b.w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .groupBy("doc_id")
        .agg(F.max("n_pair").alias("top_bigram_n"))
    )
    j = per_doc.join(top_bigram, "doc_id", "left").withColumn(
        "top_bigram_n", F.coalesce(F.col("top_bigram_n"), F.lit(0)).cast("long")
    )
    return j.select(
        "doc_id",
        "n_tok",
        "top_bigram_n",
        "dup_5gram_n",
        (
            (20 * F.col("top_bigram_n") <= F.col("n_tok"))
            & (10 * F.col("dup_5gram_n") <= F.col("n5"))
        ).alias("keep"),
    )


# --------------------------------------------------------------------------
# Bigram-LM perplexity scoring (CCNet-style LM quality filtering)
# --------------------------------------------------------------------------
_PPL_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents
),
bi AS (
  SELECT doc_id,
         unnest(t[1:len(t) - 1]) AS w1,
         unnest(t[2:len(t)]) AS w2
  FROM toks
),
doc_bi AS (
  SELECT doc_id, w1, w2, COUNT(*) AS c FROM bi GROUP BY doc_id, w1, w2
),
pair_counts AS (
  SELECT w1, w2, SUM(c) AS n_pair FROM doc_bi GROUP BY w1, w2
),
prefix_counts AS (
  SELECT w1, SUM(n_pair) AS n_prefix FROM pair_counts GROUP BY w1
),
vocab AS (
  SELECT COUNT(DISTINCT tok) AS v
  FROM (SELECT unnest(t) AS tok FROM toks)
),
terms AS (
  SELECT d.doc_id, d.w1, d.w2,
         d.c * ln((p.n_pair + 1.0) / (x.n_prefix + vocab.v)) AS term,
         d.c
  FROM doc_bi d
  JOIN pair_counts p ON d.w1 = p.w1 AND d.w2 = p.w2
  JOIN prefix_counts x ON d.w1 = x.w1
  CROSS JOIN vocab
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_bigrams,
       ROUND(-list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                       list(term ORDER BY w1, w2)),
                          (acc, x) -> acc + x) / SUM(c), 9) AS avg_nll
FROM terms GROUP BY doc_id
"""


@workload("text_bigram_perplexity", oracle=_PPL_ORACLE)
def text_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-QUALITY scoring (the CCNet/Wikipedia-LM perplexity filter shape):
    every document scored by its average negative log-likelihood under the
    corpus's own add-one-smoothed bigram model, P(w2|w1) = (n_pair + 1) /
    (n_prefix + V). High avg_nll = improbable token sequences = the
    low-quality tail a curation pipeline drops. All model statistics are
    keyed aggregates/joins on (w1, w2); the per-doc float reduction is a
    LEFT FOLD over the (w1, w2)-sorted term list on BOTH engines (bounded
    per doc — no cross-partition float summation-order dependence), with
    the final ROUND(_, 9) absorbing ln()'s libm ulp."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    bi = (
        d.select("doc_id", toks.alias("__t"))
        .select("doc_id", F.explode(word_bigrams("__t")).alias("b"))
        .select("doc_id", "b.w1", "b.w2")
    )
    doc_bi = bi.groupBy("doc_id", "w1", "w2").agg(
        F.count(F.lit(1)).alias("c")
    )
    pair_counts = doc_bi.groupBy("w1", "w2").agg(F.sum("c").alias("n_pair"))
    prefix_counts = pair_counts.groupBy("w1").agg(
        F.sum("n_pair").alias("n_prefix")
    )
    vocab = (
        d.select(F.explode(toks).alias("tok"))
        .agg(F.count_distinct("tok").alias("v"))
    )
    terms = (
        doc_bi.join(pair_counts, ["w1", "w2"])
        .join(prefix_counts, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            "w1",
            "w2",
            "c",
            (
                F.col("c")
                * F.log((F.col("n_pair") + 1.0) / (F.col("n_prefix") + F.col("v")))
            ).alias("term"),
        )
    )
    return (
        terms.groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_bigrams"),
            F.expr(
                "aggregate(array_sort(collect_list(struct(w1, w2, term))), "
                "CAST(0.0 AS DOUBLE), (acc, p) -> acc + p.term)"
            ).alias("nll_sum"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.round(-F.col("nll_sum") / F.col("n_bigrams"), 9).alias("avg_nll"),
        )
    )


# --------------------------------------------------------------------------
# BPE merge-candidate scan (one tokenizer-training iteration)
# --------------------------------------------------------------------------
_BPE_MERGE_TOP = 10

_BPE_MERGE_ORACLE = f"""
WITH words AS (
  SELECT tok AS w, COUNT(*) AS f
  FROM (SELECT unnest({_DUCK_TOKENS}) AS tok FROM documents)
  GROUP BY tok
),
pos AS (
  SELECT f,
         unnest(list_transform(generate_series(1, length(w) - 1),
                               i -> substr(w, i, 2))) AS pair
  FROM words
  WHERE length(w) >= 2
),
pairs AS (
  SELECT substr(pair, 1, 1) AS left_sym, substr(pair, 2, 1) AS right_sym,
         SUM(f) AS merge_count
  FROM pos GROUP BY 1, 2
),
top AS (
  SELECT left_sym, right_sym, merge_count
  FROM pairs
  ORDER BY merge_count DESC, left_sym ASC, right_sym ASC
  LIMIT {_BPE_MERGE_TOP}
)
SELECT a.left_sym, a.right_sym, CAST(a.merge_count AS BIGINT) AS merge_count,
       CAST(1 + COUNT(b.left_sym) AS BIGINT) AS rnk
FROM top a
LEFT JOIN top b
  ON b.merge_count > a.merge_count
  OR (b.merge_count = a.merge_count AND b.left_sym < a.left_sym)
  OR (b.merge_count = a.merge_count AND b.left_sym = a.left_sym
      AND b.right_sym < a.right_sym)
GROUP BY a.left_sym, a.right_sym, a.merge_count
"""


@workload("text_bpe_merge_candidates", oracle=_BPE_MERGE_ORACLE)
def text_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE TOKENIZER-TRAINING iteration (Sennrich et al. 2016, the
    char-vocabulary first step): corpus-frequency-weighted counts of
    adjacent symbol pairs, the argmax of which is the next merge rule.
    The corpus collapses to the WORD-FREQUENCY table first (BPE's key
    trick — pair counting is over distinct words x their frequencies, not
    the token stream), positions enumerate per word (bounded by word
    length), and the top-{k} merge candidates come back via
    orderBy().limit() with the rank derived from a bounded k x k
    self-join — no global window anywhere."""
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
        .filter(F.length("w") >= 2)
    )
    pairs = (
        words.select(
            "f",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(w) - 1), "
                    "i -> struct(substring(w, i, 1) AS left_sym, "
                    "substring(w, i + 1, 1) AS right_sym))"
                )
            ).alias("p"),
        )
        .groupBy("p.left_sym", "p.right_sym")
        .agg(F.sum("f").alias("merge_count"))
    )
    top = pairs.orderBy(
        F.col("merge_count").desc(),
        F.col("left_sym").asc(),
        F.col("right_sym").asc(),
    ).limit(_BPE_MERGE_TOP)
    a, b = top.alias("a"), top.alias("b")
    ahead = (
        (F.col("b.merge_count") > F.col("a.merge_count"))
        | (
            (F.col("b.merge_count") == F.col("a.merge_count"))
            & (F.col("b.left_sym") < F.col("a.left_sym"))
        )
        | (
            (F.col("b.merge_count") == F.col("a.merge_count"))
            & (F.col("b.left_sym") == F.col("a.left_sym"))
            & (F.col("b.right_sym") < F.col("a.right_sym"))
        )
    )
    return (
        a.join(b, ahead, "left")
        .groupBy(
            F.col("a.left_sym").alias("left_sym"),
            F.col("a.right_sym").alias("right_sym"),
            F.col("a.merge_count").alias("merge_count"),
        )
        .agg((F.count(F.col("b.left_sym")) + 1).cast("long").alias("rnk"))
        .select(
            "left_sym",
            "right_sym",
            F.col("merge_count").cast("long"),
            "rnk",
        )
    )


# --------------------------------------------------------------------------
# Character-entropy quality signal (gibberish / low-information detector)
# --------------------------------------------------------------------------
_ENTROPY_ORACLE = """
WITH chars AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, length(lower(trim(text)))),
                               i -> substr(lower(trim(text)), i, 1))) AS ch
  FROM documents
  WHERE length(lower(trim(text))) >= 1
),
freq AS (
  SELECT doc_id, ch, COUNT(*) AS n FROM chars GROUP BY doc_id, ch
),
tot AS (
  SELECT doc_id, SUM(n) AS total FROM freq GROUP BY doc_id
)
SELECT f.doc_id,
       CAST(t.total AS BIGINT) AS n_chars_counted,
       ROUND(-list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
                        list(n * ln(CAST(n AS DOUBLE) / t.total) ORDER BY ch)),
           (acc, x) -> acc + x) / t.total, 9) AS char_entropy_nats
FROM freq f JOIN tot t ON f.doc_id = t.doc_id
GROUP BY f.doc_id, t.total
"""


@workload("text_char_entropy", oracle=_ENTROPY_ORACLE)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHARACTER-ENTROPY quality signal: Shannon entropy (nats) of each
    document's character distribution — near-zero entropy flags repeated-
    character gibberish and padding, abnormally high entropy flags binary
    spill / encoding noise; both tails are standard curation drops. Char
    enumeration is guarded for empty text (Spark's sequence(1, 0)
    descends); the per-doc float reduction is a LEFT FOLD over the
    char-sorted term list on both engines, ROUND(9) absorbing ln() ulp.
    Shuffles are keyed on (doc_id, char) then doc_id — corpus-scale-safe."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.lower(F.trim("text")).alias("s")
    ).filter(F.length("s") >= 1)
    chars = d.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(1, length(s)), i -> substring(s, i, 1))")
        ).alias("ch"),
    )
    freq = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("n"))
    tot = freq.groupBy("doc_id").agg(F.sum("n").alias("total"))
    terms = freq.join(tot, "doc_id").select(
        "doc_id",
        "ch",
        "total",
        (F.col("n") * F.log(F.col("n").cast("double") / F.col("total"))).alias(
            "term"
        ),
    )
    return (
        terms.groupBy("doc_id", "total")
        .agg(
            F.expr(
                "aggregate(array_sort(collect_list(struct(ch, term))), "
                "CAST(0.0 AS DOUBLE), (acc, p) -> acc + p.term)"
            ).alias("h_sum")
        )
        .select(
            "doc_id",
            F.col("total").cast("long").alias("n_chars_counted"),
            F.round(-F.col("h_sum") / F.col("total"), 9).alias(
                "char_entropy_nats"
            ),
        )
    )


# --------------------------------------------------------------------------
# Language-ID confusion matrix (classifier evaluation harness)
# --------------------------------------------------------------------------
_CONFUSION_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, {_DUCK_TOKENS} AS toks FROM documents
),
s AS (
  SELECT doc_id, lang,
         {_duck_lang_scores()}
  FROM t
),
pred AS (
  SELECT lang AS labeled_lang,
         CASE GREATEST(score_en, score_es, score_fr, score_de, score_zh)
           WHEN score_en THEN 'en'
           WHEN score_es THEN 'es'
           WHEN score_fr THEN 'fr'
           WHEN score_de THEN 'de'
           ELSE 'zh' END AS predicted_lang
  FROM s
),
cells AS (
  SELECT labeled_lang, predicted_lang, COUNT(*) AS n
  FROM pred GROUP BY labeled_lang, predicted_lang
),
row_tot AS (
  SELECT labeled_lang, SUM(n) AS row_n FROM cells GROUP BY labeled_lang
)
SELECT c.labeled_lang, c.predicted_lang, CAST(c.n AS BIGINT) AS n,
       CAST(c.n AS DOUBLE) / r.row_n AS row_share,
       (c.labeled_lang = c.predicted_lang) AS is_correct
FROM cells c JOIN row_tot r ON c.labeled_lang = r.labeled_lang
"""


@workload("text_lang_confusion_matrix", oracle=_CONFUSION_ORACLE)
def text_lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLASSIFIER EVALUATION harness over the lang-ID heuristic: the
    (labeled, predicted) confusion matrix with per-true-label recall
    shares — the eval every model-driven curation filter needs before its
    predictions gate data. Reuses text_lang_id's exact argmax expressions;
    two keyed aggregates (cells, then row totals joined back on the
    |langs|^2-bounded cell table). Counts exact ints; shares exact-int
    divisions."""
    d = load_table(spark, sf_dir, "documents").withColumn("toks", tokens("text"))
    scored = d.select(
        F.col("lang").alias("labeled_lang"),
        *[stopword_count("toks", lang).alias(f"score_{lang}") for lang in _LANGS],
    )
    best = F.greatest(*[F.col(f"score_{lang}") for lang in _LANGS])
    pred = F.when(F.col("score_en") == best, "en")
    for lang in _LANGS[1:-1]:
        pred = pred.when(F.col(f"score_{lang}") == best, lang)
    pred = pred.otherwise(_LANGS[-1])
    cells = (
        scored.select("labeled_lang", pred.alias("predicted_lang"))
        .groupBy("labeled_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    row_tot = cells.groupBy("labeled_lang").agg(F.sum("n").alias("row_n"))
    return (
        cells.join(F.broadcast(row_tot), "labeled_lang")
        .select(
            "labeled_lang",
            "predicted_lang",
            F.col("n").cast("long"),
            (F.col("n").cast("double") / F.col("row_n")).alias("row_share"),
            (F.col("labeled_lang") == F.col("predicted_lang")).alias(
                "is_correct"
            ),
        )
    )


# --------------------------------------------------------------------------
# Inverted-index build: capped postings lists per term
# --------------------------------------------------------------------------
_INVIDX_TOP = 3
_INVIDX_MIN_DF = 2

_INVIDX_ORACLE = f"""
WITH tf AS (
  SELECT tok AS term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (
    SELECT doc_id, unnest({_DUCK_TOKENS}) AS tok FROM documents
  )
  WHERE tok <> ''
  GROUP BY tok, doc_id
),
df AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df_term,
         CAST(SUM(tf) AS BIGINT) AS corpus_tf
  FROM tf GROUP BY term
),
ranked AS (
  SELECT term, doc_id, tf,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY term ORDER BY tf DESC, doc_id
         ) AS BIGINT) AS rnk
  FROM tf
)
SELECT r.term, d.df_term, d.corpus_tf, r.rnk, r.doc_id, r.tf
FROM ranked r JOIN df d ON r.term = d.term
WHERE r.rnk <= {_INVIDX_TOP} AND d.df_term >= {_INVIDX_MIN_DF}
"""


@workload("text_inverted_index", oracle=_INVIDX_ORACLE)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build — the indexing twin of text_bm25_search: per
    term, document frequency, corpus term frequency, and the top-3
    postings by (tf DESC, doc_id) — the impact-ordered, capped postings
    shape real sharded indexes store (doc_id tiebreak makes the cap
    deterministic). All columns are exact integers. Scale shape: one
    (term, doc) keyed aggregate (map-side combinable), then a
    term-partitioned rank whose input is already collapsed to distinct
    (term, doc) cells — stopword skew is bounded by distinct docs, not
    token occurrences; the df join rides the same term partitioning."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(tokens("text")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df_term"),
        F.sum("tf").alias("corpus_tf"),
    )
    w = Window.partitionBy("term").orderBy(F.col("tf").desc(), F.col("doc_id"))
    ranked = tf.withColumn("rnk", F.row_number().over(w).cast("long"))
    return (
        ranked.filter(F.col("rnk") <= _INVIDX_TOP)
        .join(df_t.filter(F.col("df_term") >= _INVIDX_MIN_DF), "term")
        .select(
            "term",
            F.col("df_term").cast("long"),
            F.col("corpus_tf").cast("long"),
            "rnk",
            "doc_id",
            F.col("tf").cast("long"),
        )
    )


# --------------------------------------------------------------------------
# Zipf power-law fit over the token rank-frequency curve
# --------------------------------------------------------------------------
_ZIPF_TOP = 200
_ZIPF_SCALE = 1_000_000  # ln values as 6-dp scaled integers

_ZIPF_ORACLE = f"""
WITH tc AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT unnest({_DUCK_TOKENS}) AS tok FROM documents)
  WHERE tok <> ''
  GROUP BY tok
),
top AS (
  SELECT tok, n FROM tc ORDER BY n DESC, tok ASC LIMIT {_ZIPF_TOP}
),
ranked AS (
  SELECT x.tok, x.n, CAST(1 + COUNT(y.tok) AS BIGINT) AS rnk
  FROM top x LEFT JOIN top y
    ON y.n > x.n OR (y.n = x.n AND y.tok < x.tok)
  GROUP BY x.tok, x.n
),
pts AS (
  SELECT CAST(ROUND(ln(CAST(rnk AS DOUBLE)) * {_ZIPF_SCALE}.0) AS BIGINT) AS x,
         CAST(ROUND(ln(CAST(n AS DOUBLE)) * {_ZIPF_SCALE}.0) AS BIGINT) AS y
  FROM ranked
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS np,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM pts
)
SELECT np,
       ROUND(CAST(np * sxy - sx * sy AS DOUBLE)
             / CAST(np * sxx - sx * sx AS DOUBLE), 9) AS zipf_slope,
       ROUND((CAST(sy AS DOUBLE) - CAST(np * sxy - sx * sy AS DOUBLE)
              / CAST(np * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))
             / CAST(np AS DOUBLE) / {_ZIPF_SCALE}.0, 9) AS ln_c_intercept
FROM s
"""


@workload("text_zipf_exponent", oracle=_ZIPF_ORACLE)
def text_zipf_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIPF power-law fit of the corpus rank-frequency curve: OLS of
    ln(count) on ln(rank) over the top-200 tokens — slope near -1 is the
    natural-language signature, deviations flag synthetic/boilerplate
    corpora (a corpus-level quality signal beside the per-doc filters).
    Determinism: ln values become 6-dp SCALED INTEGERS (ROUND absorbs
    libm ulps) so the five OLS sufficient statistics sum exactly —
    int64-safe by scale choice — and the slope/intercept are two final
    IEEE expressions ROUND(9)ed. Top-200 via TakeOrderedAndProject;
    ranks from the bounded k x k self-join (no global window)."""
    tc = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(tokens("text")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = tc.orderBy(F.col("n").desc(), F.col("tok").asc()).limit(_ZIPF_TOP)
    x, y = top.alias("x"), top.alias("y")
    ahead = (F.col("y.n") > F.col("x.n")) | (
        (F.col("y.n") == F.col("x.n")) & (F.col("y.tok") < F.col("x.tok"))
    )
    ranked = (
        x.join(y, ahead, "left")
        .groupBy(F.col("x.tok").alias("tok"), F.col("x.n").alias("n"))
        .agg((F.lit(1) + F.count(F.col("y.tok"))).cast("long").alias("rnk"))
    )
    pts = ranked.select(
        F.round(F.log(F.col("rnk").cast("double")) * _ZIPF_SCALE)
        .cast("long")
        .alias("x"),
        F.round(F.log(F.col("n").cast("double")) * _ZIPF_SCALE)
        .cast("long")
        .alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("long").alias("np"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    slope = (F.col("np") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    ) / (F.col("np") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    intercept = (
        (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
        / F.col("np").cast("double")
        / F.lit(float(_ZIPF_SCALE))
    )
    return s.select(
        "np",
        F.round(slope, 9).alias("zipf_slope"),
        F.round(intercept, 9).alias("ln_c_intercept"),
    )


# --------------------------------------------------------------------------
# LM training pairs: k-token context -> next-token target, hash-sampled
# --------------------------------------------------------------------------
_CTP_K = 4
_CTP_MOD = 20  # keep 5% of positions, deterministically
_CTP_U32 = md5_prefix_uint32_sql(
    "'ctp|' || CAST(doc_id AS STRING) || '|' || CAST(p AS STRING)"
)

_CTP_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents
),
pos AS (
  SELECT doc_id, toks, CAST(UNNEST(range({_CTP_K + 1}, len(toks) + 1)) AS BIGINT) AS p
  FROM t
)
SELECT doc_id, p,
       array_to_string(toks[p - {_CTP_K}:p - 1], ' ') AS context,
       toks[CAST(p AS INTEGER)] AS target
FROM pos
WHERE ({_CTP_U32}) % {_CTP_MOD} = 0
"""


@workload("train_context_target_pairs", oracle=_CTP_ORACLE)
def train_context_target_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-token-prediction training pairs: for each token position p >
    K(=4), emit the K-token context window and the target token, keeping
    a deterministic 5% hash sample of positions (md5('ctp|doc|p') mod
    20). Implementation is the LAG-window form — tokens are exploded to
    (doc_id, pos, tok) and the context is K LAG columns over a window
    PARTITIONED BY doc_id — so no row ever carries the whole token
    array: partitions are document-bounded, the explode is pipelined,
    and the sample predicate prunes before the (doc_id, pos) output
    projection. This is the dataset-assembly step between the repo's
    tokenization (text_token_stats) and sequence packing
    (text_sequence_packing)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    exploded = d.select(
        "doc_id", F.posexplode(toks).alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("p"), "tok")
    w = Window.partitionBy("doc_id").orderBy("p")
    lags = [F.lag("tok", k).over(w) for k in range(_CTP_K, 0, -1)]
    return (
        exploded.select(
            "doc_id",
            "p",
            F.concat_ws(" ", *lags).alias("context"),
            F.col("tok").alias("target"),
        )
        .filter(F.col("p") > _CTP_K)
        .filter(F.expr(f"({_CTP_U32}) % {_CTP_MOD} = 0"))
    )


# --------------------------------------------------------------------------
# Cohen's kappa: chance-corrected agreement between the lang-ID heuristic
# and the labeled lang column (inter-annotator agreement)
# --------------------------------------------------------------------------
_KAPPA_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, {_DUCK_TOKENS} AS toks FROM documents
),
s AS (
  SELECT doc_id, lang,
         {_duck_lang_scores()}
  FROM t
),
pred AS (
  SELECT lang AS a,
         CASE GREATEST(score_en, score_es, score_fr, score_de, score_zh)
           WHEN score_en THEN 'en'
           WHEN score_es THEN 'es'
           WHEN score_fr THEN 'fr'
           WHEN score_de THEN 'de'
           ELSE 'zh' END AS b
  FROM s
),
cells AS (SELECT a, b, COUNT(*) AS m FROM pred GROUP BY a, b),
ra AS (SELECT a, SUM(m) AS row_n FROM cells GROUP BY a),
cb AS (SELECT b, SUM(m) AS col_n FROM cells GROUP BY b),
agg AS (
  SELECT SUM(m) AS n,
         SUM(CASE WHEN a = b THEN m ELSE 0 END) AS agree
  FROM cells
),
chance AS (
  SELECT SUM(ra.row_n * cb.col_n) AS rc
  FROM ra JOIN cb ON ra.a = cb.b
)
SELECT CAST(agg.n AS BIGINT) AS n_docs,
       CAST(agg.agree AS BIGINT) AS n_agree,
       CAST(agg.n * agg.agree - chance.rc AS DOUBLE)
       / CAST(agg.n * agg.n - chance.rc AS DOUBLE) AS kappa
FROM agg CROSS JOIN chance
"""


@workload("stats_cohens_kappa_langid", oracle=_KAPPA_ORACLE)
def stats_cohens_kappa_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHEN'S KAPPA — chance-corrected inter-annotator agreement between
    the heuristic lang-ID (annotator A) and the labeled lang column
    (annotator B): the metric labeling pipelines report before trusting
    model-assigned labels (raw accuracy rewards majority-class collapse;
    kappa does not). Algebra stays exact integers end-to-end:
    kappa = (n*agree - sum(row_k*col_k)) / (n^2 - sum(row_k*col_k)) is
    ONE division of two int64 cross-products derived from the
    |langs|^2-bounded confusion cells. Reuses the C45 argmax expressions;
    all reductions are map-side combinable."""
    d = load_table(spark, sf_dir, "documents").withColumn("toks", tokens("text"))
    scored = d.select(
        F.col("lang").alias("a"),
        *[stopword_count("toks", lang).alias(f"score_{lang}") for lang in _LANGS],
    )
    best = F.greatest(*[F.col(f"score_{lang}") for lang in _LANGS])
    pred = F.when(F.col("score_en") == best, "en")
    for lang in _LANGS[1:-1]:
        pred = pred.when(F.col(f"score_{lang}") == best, lang)
    pred = pred.otherwise(_LANGS[-1])
    cells = (
        scored.select("a", pred.alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    ra = cells.groupBy("a").agg(F.sum("m").alias("row_n"))
    cb = cells.groupBy("b").agg(F.sum("m").alias("col_n"))
    agg = cells.agg(
        F.sum("m").alias("n"),
        F.sum(F.when(F.col("a") == F.col("b"), F.col("m")).otherwise(0)).alias(
            "agree"
        ),
    )
    chance = (
        ra.join(cb, ra["a"] == cb["b"])
        .agg(F.sum(F.col("row_n") * F.col("col_n")).alias("rc"))
    )
    out = agg.crossJoin(F.broadcast(chance))
    kappa = (
        (F.col("n") * F.col("agree") - F.col("rc")).cast("double")
        / (F.col("n") * F.col("n") - F.col("rc")).cast("double")
    )
    return out.select(
        F.col("n").cast("long").alias("n_docs"),
        F.col("agree").cast("long").alias("n_agree"),
        kappa.alias("kappa"),
    )


# --------------------------------------------------------------------------
# Flesch reading-ease readability score
# --------------------------------------------------------------------------
# DuckDB parses bare decimal literals as DECIMAL (1-ulp double hazard, the
# C94 lesson) -> constants ride as CAST('<repr>' AS DOUBLE) in the oracle.
_FLESCH_ORACLE = """
WITH m AS (
  SELECT doc_id,
         GREATEST(len(list_filter(string_split_regex(lower(trim(text)),
                  '\\s+'), t -> t != '')), 1) AS words,
         GREATEST(len(list_filter(string_split_regex(text, '[.!?]+'),
                  s -> trim(s) != '')), 1) AS sentences,
         GREATEST(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1)
           AS syllables
  FROM documents
)
SELECT doc_id, CAST(words AS BIGINT) AS words,
       CAST(sentences AS BIGINT) AS sentences,
       CAST(syllables AS BIGINT) AS syllables,
       CAST('206.835' AS DOUBLE)
       - CAST('1.015' AS DOUBLE)
         * (CAST(words AS DOUBLE) / CAST(sentences AS DOUBLE))
       - CAST('84.6' AS DOUBLE)
         * (CAST(syllables AS DOUBLE) / CAST(words AS DOUBLE))
         AS flesch
FROM m
"""


@workload("text_readability_flesch", oracle=_FLESCH_ORACLE)
def text_readability_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLESCH READING-EASE per document — the classic readability quality
    signal (very low scores flag legalese/boilerplate; implausibly high
    ones flag word-salad). Words from the shared whitespace tokenizer,
    sentences from a [.!?]+ split (empty fragments dropped), syllables
    approximated as vowel-group runs — all pure counting in JVM-side
    regex (the char classes behave identically under Java regex and
    RE2), clamped to >= 1 so the two divisions are total; the formula's
    constants are shortest-round-trip literals bound identically on both
    engines."""
    d = load_table(spark, sf_dir, "documents")
    words = F.greatest(
        F.expr(
            "size(filter(split(lower(trim(text)), '\\\\s+'), t -> t != ''))"
        ),
        F.lit(1),
    )
    sentences = F.greatest(
        F.expr("size(filter(split(text, '[.!?]+'), s -> trim(s) != ''))"),
        F.lit(1),
    )
    syllables = F.greatest(
        F.expr("regexp_count(lower(text), '[aeiouy]+')"), F.lit(1)
    )
    m = d.select(
        "doc_id",
        words.cast("long").alias("words"),
        sentences.cast("long").alias("sentences"),
        syllables.cast("long").alias("syllables"),
    )
    flesch = (
        F.lit(206.835)
        - F.lit(1.015)
        * (F.col("words").cast("double") / F.col("sentences").cast("double"))
        - F.lit(84.6)
        * (F.col("syllables").cast("double") / F.col("words").cast("double"))
    )
    return m.select(
        "doc_id", "words", "sentences", "syllables", flesch.alias("flesch")
    )


# --------------------------------------------------------------------------
# Feature-hashing trick: fixed-dim sparse token features per document
# --------------------------------------------------------------------------
_FH_BUCKETS = 64

_FH_BUCKET_EXPR = md5_prefix_uint32_sql("'fh|' || tok") + f" % {_FH_BUCKETS}"

_FH_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest({_DUCK_TOKENS}) AS tok FROM documents
),
bt AS (
  SELECT doc_id, {_FH_BUCKET_EXPR} AS bucket, COUNT(*) AS cnt
  FROM toks WHERE tok != ''
  GROUP BY doc_id, {_FH_BUCKET_EXPR}
)
SELECT doc_id,
       array_to_string(list_sort(list(bucket)), ',') AS buckets,
       array_to_string(list(cnt ORDER BY bucket), ',') AS counts,
       CAST(COUNT(*) AS BIGINT) AS nnz
FROM bt GROUP BY doc_id
"""


@workload("features_hashing_trick", oracle=_FH_ORACLE)
def features_hashing_trick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FEATURE HASHING (the hashing trick): each document's token counts
    folded into a FIXED {b}-bucket sparse vector via the portable
    md5-u32 bucket hash — the vocabulary-free featurization that needs no
    dictionary broadcast or vocabulary shuffle at any corpus size.
    Output is the sparse encoding as two PARALLEL SORTED sequences
    (buckets asc, aligned counts) serialized to comma-joined STRINGS:
    the driver's pandas canonicalizer cannot sort/factorize list-typed
    cells (r04 driver gate empirically failed this workload on raw
    array<bigint> output — arrays hash portably only in the repo's
    local checker, NOT in the driver), so the final schema is all
    scalars. Engine users get the typed array<bigint> form from
    operators/features.py hash_features(as_array=True) — the same plan
    minus this serialization step. Shuffle is keyed (doc, bucket),
    bounded by docs x {b}."""
    from sample_data_pipeline_project_spark.operators.features import (
        hash_features,
    )

    d = load_table(spark, sf_dir, "documents")
    return hash_features(d, n_buckets=_FH_BUCKETS, as_array=False).select(
        "doc_id", "buckets", "counts", "nnz"
    )


# --------------------------------------------------------------------------
# TF-IDF top terms per document
# --------------------------------------------------------------------------
_TFIDF_K = 3

_TFIDF_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
df AS (SELECT term, COUNT(*) AS doc_freq FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.doc_freq,
         ROW_NUMBER() OVER (
           PARTITION BY tf.doc_id
           ORDER BY ROUND(tf.tf * LN(CAST(n.n_docs AS DOUBLE)
                                     / CAST(df.doc_freq AS DOUBLE)), 9) DESC,
                    tf.term ASC
         ) AS rnk
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, doc_freq, rnk
FROM scored WHERE rnk <= {_TFIDF_K}
"""


@workload("text_tfidf_top_terms", oracle=_TFIDF_ORACLE)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4 — top-{k} TF-IDF terms per document. Term frequencies keep
    duplicates (unlike the distinct-token near-dup operators); document
    frequency comes from the tf table (one aggregate, no second tokenize
    pass); idf joins via broadcast (vocabulary << corpus). The float
    tf*ln(N/df) score exists ONLY inside the ranking and is rounded to 9
    decimals first, so mathematically-equal scores computed by different
    ln() libraries rank identically and the term tiebreak fires the same
    way on both engines; the hashed output is all-integer."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq"))
    n_docs = d.count()
    score = F.round(
        F.col("tf")
        * F.log(F.lit(float(n_docs)) / F.col("doc_freq").cast("double")),
        9,
    )
    w = Window.partitionBy("doc_id").orderBy(score.desc(), F.col("term").asc())
    return (
        tf.join(F.broadcast(df), "term")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TFIDF_K)
        .select("doc_id", "term", "tf", "doc_freq", "rnk")
    )


# --------------------------------------------------------------------------
# BM25 full-text ranking for a fixed query
# --------------------------------------------------------------------------
_BM25_TERMS = ("spark", "join", "window")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOP = 20

_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)

_BM25_ORACLE = f"""
WITH docs AS (
  SELECT doc_id,
         string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
),
dl AS (
  SELECT doc_id, len(toks) AS dl FROM docs
),
stats AS (
  SELECT COUNT(*) AS n_docs, SUM(dl) AS total_tok FROM dl
),
tf AS (
  SELECT doc_id, tok AS term, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(toks) AS tok FROM docs)
  WHERE tok IN ({_TERMS_SQL})
  GROUP BY doc_id, tok
),
df AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
),
scored AS (
  SELECT tf.doc_id,
         SUM(
           ln((s.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
           * (tf.tf * ({_BM25_K1} + 1.0))
           / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
              + {_BM25_B} * dl.dl
                / (CAST(s.total_tok AS DOUBLE) / s.n_docs)))
         ) AS score
  FROM tf
  JOIN df ON tf.term = df.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats s
  GROUP BY tf.doc_id
)
SELECT doc_id, ROUND(score, 9) AS bm25
FROM scored
ORDER BY ROUND(score, 9) DESC, doc_id ASC
LIMIT {_BM25_TOP}
"""


@workload("text_bm25_search", oracle=_BM25_ORACLE)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranking of `documents` for the fixed query {terms}: tf from the
    token stream FILTERED to query terms before any shuffle (the grouped
    state is |terms| x |matching docs|, not the corpus token count),
    document-frequency and corpus stats are single-row/3-row broadcasts,
    top-{k} via orderBy().limit() (TakeOrderedAndProject). Lucene-standard
    idf = ln((N - df + .5)/(df + .5) + 1); scores rounded to 9 dp on both
    engines because ln()'s last ulp is libm-specific."""
    from sample_data_pipeline_project_spark.functions.text import tokens

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("toks")
    )
    dl = d.select("doc_id", F.size("toks").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_tok")
    )
    tf = (
        d.select("doc_id", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "term_score",
            F.expr(
                f"ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)"
                f" * (tf * ({_BM25_K1} + 1.0))"
                f" / (tf + {_BM25_K1} * (1.0 - {_BM25_B}"
                f" + {_BM25_B} * dl / (CAST(total_tok AS DOUBLE) / n_docs)))"
            ),
        )
        .groupBy("doc_id")
        .agg(F.sum("term_score").alias("score"))
    )
    return (
        scored.select("doc_id", F.round("score", 9).alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(_BM25_TOP)
    )


# --------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of BM25 + token-Jaccard
# --------------------------------------------------------------------------
_RRF_K = 60
_RRF_TOP = 10
_RRF_NQ = len(_BM25_TERMS)

_RRF_ORACLE = f"""
WITH docs AS (
  SELECT doc_id,
         string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
),
dl AS (
  SELECT doc_id, len(toks) AS dl FROM docs
),
stats AS (
  SELECT COUNT(*) AS n_docs, SUM(dl) AS total_tok FROM dl
),
tf AS (
  SELECT doc_id, tok AS term, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(toks) AS tok FROM docs)
  WHERE tok IN ({_TERMS_SQL})
  GROUP BY doc_id, tok
),
dfx AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
),
scored AS (
  SELECT tf.doc_id,
         SUM(
           ln((s.n_docs - dfx.df + 0.5) / (dfx.df + 0.5) + 1.0)
           * (tf.tf * ({_BM25_K1} + 1.0))
           / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
              + {_BM25_B} * dl.dl
                / (CAST(s.total_tok AS DOUBLE) / s.n_docs)))
         ) AS score
  FROM tf
  JOIN dfx ON tf.term = dfx.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats s
  GROUP BY tf.doc_id
),
bmtop AS (
  SELECT doc_id, ROUND(score, 9) AS bm25
  FROM scored
  ORDER BY ROUND(score, 9) DESC, doc_id ASC
  LIMIT {_BM25_TOP}
),
ra AS (
  SELECT x.doc_id, CAST(1 + COUNT(y.doc_id) AS BIGINT) AS rank_a
  FROM bmtop x LEFT JOIN bmtop y
    ON y.bm25 > x.bm25 OR (y.bm25 = x.bm25 AND y.doc_id < x.doc_id)
  GROUP BY x.doc_id
),
jtoks AS (
  SELECT doc_id, unnest(list_distinct(toks)) AS tok FROM docs
),
jac AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN tok IN ({_TERMS_SQL}) THEN 1 ELSE 0 END)
              AS BIGINT) AS shared,
         CAST(COUNT(*) AS BIGINT) AS n_tok
  FROM jtoks GROUP BY doc_id
),
jtop AS (
  SELECT doc_id,
         CAST(shared AS DOUBLE)
           / CAST(n_tok + {_RRF_NQ} - shared AS DOUBLE) AS jacc
  FROM jac
  ORDER BY CAST(shared AS DOUBLE)
             / CAST(n_tok + {_RRF_NQ} - shared AS DOUBLE) DESC,
           doc_id ASC
  LIMIT {_BM25_TOP}
),
rb AS (
  SELECT x.doc_id, CAST(1 + COUNT(y.doc_id) AS BIGINT) AS rank_b
  FROM jtop x LEFT JOIN jtop y
    ON y.jacc > x.jacc OR (y.jacc = x.jacc AND y.doc_id < x.doc_id)
  GROUP BY x.doc_id
),
fused AS (
  SELECT COALESCE(ra.doc_id, rb.doc_id) AS doc_id,
         ra.rank_a, rb.rank_b,
         COALESCE(1.0 / ({_RRF_K}.0 + CAST(ra.rank_a AS DOUBLE)), 0.0)
         + COALESCE(1.0 / ({_RRF_K}.0 + CAST(rb.rank_b AS DOUBLE)), 0.0)
           AS rrf
  FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id
)
SELECT doc_id, rank_a, rank_b, rrf
FROM fused
ORDER BY rrf DESC, doc_id ASC
LIMIT {_RRF_TOP}
"""


def _selfjoin_rank(top: DataFrame, score: str, rank_name: str) -> DataFrame:
    """Rank a bounded top-k frame by (score DESC, doc_id ASC) via a k x k
    self-join count — no window, no single-partition Exchange (the
    bigram-LM/BPE rank pattern)."""
    x = top.alias("x")
    y = top.alias("y")
    ahead = (F.col(f"y.{score}") > F.col(f"x.{score}")) | (
        (F.col(f"y.{score}") == F.col(f"x.{score}"))
        & (F.col("y.doc_id") < F.col("x.doc_id"))
    )
    return (
        x.join(y, ahead, "left")
        .groupBy(F.col("x.doc_id").alias("doc_id"))
        .agg((F.lit(1) + F.count(F.col("y.doc_id"))).cast("long").alias(rank_name))
    )


@workload("text_hybrid_rrf_fusion", oracle=_RRF_ORACLE)
def text_hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID SEARCH: reciprocal-rank fusion (k=60) of two independent
    retrievers over the same fixed query — lexical BM25 (the
    text_bm25_search ranking, reused verbatim) and token-set Jaccard —
    the standard way RAG stacks combine sparse retrievers without
    score calibration, since RRF consumes only RANKS. Both top-20 lists
    come from TakeOrderedAndProject; ranks are derived by bounded k x k
    self-joins (no global window); fusion is a 20-row full outer join.
    1/(60+rank) terms are exact-input IEEE divisions, identical on both
    engines. At 100 TB only the two retrievers touch the corpus — the
    fusion cost is O(k)."""
    from sample_data_pipeline_project_spark.functions.text import tokens

    bmtop = text_bm25_search(spark, sf_dir)
    ra = _selfjoin_rank(bmtop, "bm25", "rank_a")

    d = load_table(spark, sf_dir, "documents")
    jac = (
        d.select(
            "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("tok")
        )
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("tok").isin(*_BM25_TERMS), 1).otherwise(0)
            )
            .cast("long")
            .alias("shared"),
            F.count(F.lit(1)).cast("long").alias("n_tok"),
        )
    )
    jtop = (
        jac.select(
            "doc_id",
            (
                F.col("shared").cast("double")
                / (F.col("n_tok") + F.lit(_RRF_NQ) - F.col("shared")).cast(
                    "double"
                )
            ).alias("jacc"),
        )
        .orderBy(F.col("jacc").desc(), F.col("doc_id").asc())
        .limit(_BM25_TOP)
    )
    rb = _selfjoin_rank(jtop, "jacc", "rank_b")

    fused = ra.join(rb, "doc_id", "full_outer").select(
        "doc_id",
        "rank_a",
        "rank_b",
        (
            F.coalesce(
                F.lit(1.0) / (F.lit(float(_RRF_K)) + F.col("rank_a").cast("double")),
                F.lit(0.0),
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(float(_RRF_K)) + F.col("rank_b").cast("double")),
                F.lit(0.0),
            )
        ).alias("rrf"),
    )
    return fused.orderBy(F.col("rrf").desc(), F.col("doc_id").asc()).limit(
        _RRF_TOP
    )


# --------------------------------------------------------------------------
# KL divergence of each source's token distribution vs the corpus
# --------------------------------------------------------------------------
_KL_TERM = (
    "(CAST(c_st AS DOUBLE) / CAST(n_s AS DOUBLE))"
    " * ln((CAST(c_st AS DOUBLE) * CAST(n AS DOUBLE))"
    " / (CAST(n_s AS DOUBLE) * CAST(c_t AS DOUBLE)))"
)

_KL_ORACLE = f"""
WITH t AS (
  SELECT source, unnest({_DUCK_TOKENS}) AS tok FROM documents
),
st AS (
  SELECT source, tok, COUNT(*) AS c_st FROM t WHERE tok != ''
  GROUP BY source, tok
),
src AS (SELECT source, SUM(c_st) AS n_s FROM st GROUP BY source),
gt AS (SELECT tok, SUM(c_st) AS c_t FROM st GROUP BY tok),
n AS (SELECT SUM(c_st) AS n FROM st),
terms AS (
  SELECT st.source,
         CAST(ROUND({_KL_TERM} * 1000000000.0, 0) AS BIGINT) AS term_scaled
  FROM st
  JOIN src ON st.source = src.source
  JOIN gt ON st.tok = gt.tok
  CROSS JOIN n
)
SELECT t.source, CAST(src.n_s AS BIGINT) AS n_tokens,
       CAST(SUM(t.term_scaled) AS DOUBLE) / 1000000000.0 AS kl_nats
FROM terms t JOIN src ON t.source = src.source
GROUP BY t.source, src.n_s
"""


@workload("text_kl_divergence_by_source", oracle=_KL_ORACLE)
def text_kl_divergence_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOMAIN-SKEW detector: KL(source || corpus) over token unigram
    distributions — how far each provenance source's language drifts from
    the overall mix (the quantitative side of corpus-mix curation). All
    distributions are exact integer counts; each (source, token) cell's
    p*ln(p/q) term uses the SCALED-INTEGER TERM SUM tactic (term * 1e9
    rounded to BIGINT), so the per-source reduction is an exact,
    map-side-combinable int64 SUM with no float summation-order
    dependence. Shuffles are keyed (source, token) then source; the token
    marginal joins broadcast (vocabulary-bounded)."""
    d = load_table(spark, sf_dir, "documents")
    st = (
        d.select("source", F.explode(tokens("text")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c_st"))
    )
    src = st.groupBy("source").agg(F.sum("c_st").alias("n_s"))
    gt = st.groupBy("tok").agg(F.sum("c_st").alias("c_t"))
    n = st.agg(F.sum("c_st").alias("n"))
    term = (
        F.col("c_st").cast("double") / F.col("n_s").cast("double")
    ) * F.log(
        (F.col("c_st").cast("double") * F.col("n").cast("double"))
        / (F.col("n_s").cast("double") * F.col("c_t").cast("double"))
    )
    terms = (
        st.join(F.broadcast(src), "source")
        .join(F.broadcast(gt), "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "source",
            "n_s",
            F.round(term * 1000000000.0, 0).cast("long").alias("term_scaled"),
        )
    )
    return (
        terms.groupBy("source", "n_s")
        .agg(F.sum("term_scaled").alias("s"))
        .select(
            "source",
            F.col("n_s").cast("long").alias("n_tokens"),
            (F.col("s").cast("double") / 1000000000.0).alias("kl_nats"),
        )
    )


# --------------------------------------------------------------------------
# PMI collocations (pointwise mutual information over adjacent bigrams)
# --------------------------------------------------------------------------
_PMI_TOP_K = 25
_PMI_MIN_PAIR = 5

_PMI_SCORE = (
    "ln((CAST(n_pair AS DOUBLE) * CAST(n_uni AS DOUBLE) * CAST(n_uni AS DOUBLE))"
    " / (CAST(n_big AS DOUBLE) * CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE)))"
)

_PMI_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
  FROM documents
),
uni AS (
  SELECT unnest(t) AS w FROM toks
),
c_uni AS (SELECT w, COUNT(*) AS c FROM uni WHERE w != '' GROUP BY w),
n_uni AS (SELECT CAST(SUM(c) AS BIGINT) AS n_uni FROM c_uni),
bigrams AS (
  SELECT unnest(t[1:len(t) - 1]) AS w1, unnest(t[2:len(t)]) AS w2
  FROM toks
),
pair_counts AS (
  SELECT w1, w2, COUNT(*) AS n_pair FROM bigrams
  WHERE w1 != '' AND w2 != ''
  GROUP BY w1, w2
),
n_big AS (SELECT CAST(SUM(n_pair) AS BIGINT) AS n_big FROM pair_counts),
scored AS (
  SELECT w1, w2, n_pair,
         CAST(ROUND({_PMI_SCORE} * 1000000000.0, 0) AS BIGINT) AS pmi_scaled
  FROM (
    SELECT p.w1, p.w2, p.n_pair, u1.c AS c1, u2.c AS c2,
           n_uni.n_uni, n_big.n_big
    FROM pair_counts p
    JOIN c_uni u1 ON p.w1 = u1.w
    JOIN c_uni u2 ON p.w2 = u2.w
    CROSS JOIN n_uni CROSS JOIN n_big
    WHERE p.n_pair >= {_PMI_MIN_PAIR}
  )
),
ranked AS (
  SELECT w1, w2, n_pair, pmi_scaled,
         ROW_NUMBER() OVER (ORDER BY pmi_scaled DESC, w1 ASC, w2 ASC) AS rnk
  FROM scored
)
SELECT w1, w2, CAST(n_pair AS BIGINT) AS n_pair, pmi_scaled,
       CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= {_PMI_TOP_K}
"""


@workload("text_pmi_collocations", oracle=_PMI_ORACLE)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLLOCATION mining by pointwise mutual information: PMI(w1,w2) =
    ln(p(w1,w2) / (p(w1)p(w2))) over adjacent in-order bigrams — the
    classic phrase detector (Church & Hanks 1990; the word2vec phrase
    pass uses the same statistic). Counts are exact integers; the ln()
    score is pre-scaled to BIGINT (ROUND(.*1e9)) so the top-k ORDER is an
    exact integer sort no libm ulp can flip. Top-{k} via
    TakeOrderedAndProject + bounded k x k rank join (the C15 pattern —
    no global window over the vocabulary^2 pair table); unigram marginals
    join on the word key (vocabulary-sized, broadcast)."""
    from sample_data_pipeline_project_spark.functions.text import word_bigrams

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(tokens("text").alias("__t"))
    uni = (
        toks.select(F.explode("__t").alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_uni = uni.agg(F.sum("c").cast("long").alias("n_uni"))
    pair_counts = (
        toks.select(F.explode(word_bigrams("__t")).alias("b"))
        .select("b.w1", "b.w2")
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    n_big = pair_counts.agg(F.sum("n_pair").cast("long").alias("n_big"))
    scored = (
        pair_counts.filter(F.col("n_pair") >= _PMI_MIN_PAIR)
        .join(F.broadcast(uni.withColumnRenamed("w", "w1").withColumnRenamed("c", "c1")), "w1")
        .join(F.broadcast(uni.withColumnRenamed("w", "w2").withColumnRenamed("c", "c2")), "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_big))
        .select(
            "w1",
            "w2",
            "n_pair",
            F.round(F.expr(_PMI_SCORE) * 1000000000.0, 0)
            .cast("long")
            .alias("pmi_scaled"),
        )
    )
    top = scored.orderBy(
        F.col("pmi_scaled").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(_PMI_TOP_K)
    lhs, rhs = top.alias("l"), top.alias("r")
    ahead = (
        (F.col("r.pmi_scaled") > F.col("l.pmi_scaled"))
        | (
            (F.col("r.pmi_scaled") == F.col("l.pmi_scaled"))
            & (F.col("r.w1") < F.col("l.w1"))
        )
        | (
            (F.col("r.pmi_scaled") == F.col("l.pmi_scaled"))
            & (F.col("r.w1") == F.col("l.w1"))
            & (F.col("r.w2") < F.col("l.w2"))
        )
    )
    return (
        lhs.join(rhs, ahead, "left")
        .groupBy(
            F.col("l.w1").alias("w1"),
            F.col("l.w2").alias("w2"),
            F.col("l.n_pair").alias("n_pair"),
            F.col("l.pmi_scaled").alias("pmi_scaled"),
        )
        .agg((F.count(F.col("r.w1")) + 1).cast("long").alias("rnk"))
        .select(
            "w1", "w2", F.col("n_pair").cast("long"), "pmi_scaled", "rnk"
        )
    )


# --------------------------------------------------------------------------
# Source-pair vocabulary overlap (corpus provenance structure)
# --------------------------------------------------------------------------
_VOCAB_ORACLE = """
WITH vt AS (
  SELECT DISTINCT source,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM documents
),
v AS (SELECT source, tok FROM vt WHERE tok != ''),
sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_vocab FROM v GROUP BY source),
inter AS (
  SELECT a.source AS src_a, b.source AS src_b, CAST(COUNT(*) AS BIGINT) AS n_inter
  FROM v a JOIN v b ON a.tok = b.tok AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT i.src_a, i.src_b, sa.n_vocab AS vocab_a, sb.n_vocab AS vocab_b,
       i.n_inter,
       CAST(i.n_inter AS DOUBLE)
       / CAST(sa.n_vocab + sb.n_vocab - i.n_inter AS DOUBLE) AS jaccard
FROM inter i
JOIN sizes sa ON i.src_a = sa.source
JOIN sizes sb ON i.src_b = sb.source
"""


@workload("text_source_vocab_overlap", oracle=_VOCAB_ORACLE)
def text_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROVENANCE-pair VOCABULARY overlap: Jaccard similarity between the
    distinct-token vocabularies of every source pair — the coarse "are
    these two crawls the same distribution" screen run before the
    per-document dedup machinery (cheap: vocabulary-sized, not
    corpus-sized). Exact integer intersections via a token-keyed
    equi-join of per-source vocabularies; output is |sources|^2-bounded."""
    d = load_table(spark, sf_dir, "documents")
    v = (
        d.select("source", F.explode(tokens("text")).alias("tok"))
        .filter(F.col("tok") != "")
        .distinct()
    )
    sizes = v.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_vocab"))
    a, b = v.alias("a"), v.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    return (
        inter.join(
            sizes.withColumnRenamed("source", "src_a").withColumnRenamed(
                "n_vocab", "vocab_a"
            ),
            "src_a",
        )
        .join(
            sizes.withColumnRenamed("source", "src_b").withColumnRenamed(
                "n_vocab", "vocab_b"
            ),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "vocab_a",
            "vocab_b",
            "n_inter",
            (
                F.col("n_inter").cast("double")
                / (F.col("vocab_a") + F.col("vocab_b") - F.col("n_inter")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
# C181 — Good-Turing count-of-counts and adjusted counts
# --------------------------------------------------------------------------

_GT_TOP_R = 50

_GT_ORACLE = f"""
WITH toks AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM documents
),
tc AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY tok),
coc AS (SELECT c AS r, CAST(COUNT(*) AS BIGINT) AS n_r FROM tc GROUP BY c)
SELECT a.r, a.n_r,
       CAST((a.r + 1) * b.n_r AS DOUBLE) / CAST(a.n_r AS DOUBLE) AS r_star
FROM coc a LEFT JOIN coc b ON b.r = a.r + 1
ORDER BY a.r ASC LIMIT {_GT_TOP_R}
"""


@workload("text_good_turing_counts", oracle=_GT_ORACLE)
def text_good_turing_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing frequency re-estimation over the corpus vocabulary:
    the count-of-counts table N_r (how many token types occur exactly r
    times) and the adjusted count r* = (r+1) * N_{r+1} / N_r — the
    classic estimator of unseen-event mass (r*=NULL where N_{r+1}=0, the
    point where practical SGT switches to a fitted line). Two grouped
    aggregations (token counts, then count-of-counts); the N_r table is
    at most #distinct-frequencies rows, so the r+1 self-join is tiny at
    any corpus size. Exact integer counts; the single division is the
    only double op."""
    d = load_table(spark, sf_dir, "documents")
    tc = (
        d.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    coc = tc.groupBy(F.col("c").alias("r")).agg(
        F.count(F.lit(1)).cast("long").alias("n_r")
    )
    a, b = coc.alias("a"), coc.alias("b")
    return (
        a.join(b, F.col("b.r") == F.col("a.r") + 1, "left")
        .select(
            F.col("a.r").alias("r"),
            F.col("a.n_r").alias("n_r"),
            (
                ((F.col("a.r") + 1) * F.col("b.n_r")).cast("double")
                / F.col("a.n_r").cast("double")
            ).alias("r_star"),
        )
        .orderBy(F.col("r").asc())
        .limit(_GT_TOP_R)
    )


# --------------------------------------------------------------------------
# C184 — interpolated Kneser-Ney bigram probabilities (D = 0.75)
# --------------------------------------------------------------------------

_KN_TOP_K = 50
_KN_P_EXPR = (
    "(GREATEST(CAST(c AS DOUBLE) - 0.75, CAST(0 AS DOUBLE)) / CAST(c1 AS DOUBLE))"
    " + ((0.75 * CAST(n1fw AS DOUBLE) / CAST(c1 AS DOUBLE))"
    " * (CAST(n1bw AS DOUBLE) / CAST(t_pairs AS DOUBLE)))"
)

_KN_ORACLE = f"""
WITH toks AS (
  SELECT string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents
),
bigrams AS (
  SELECT unnest(t[1:len(t) - 1]) AS w1, unnest(t[2:len(t)]) AS w2 FROM toks
),
pc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM bigrams GROUP BY w1, w2),
fw AS (
  SELECT w1, CAST(SUM(c) AS BIGINT) AS c1, CAST(COUNT(*) AS BIGINT) AS n1fw
  FROM pc GROUP BY w1
),
bw AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1bw FROM pc GROUP BY w2),
tp AS (SELECT CAST(COUNT(*) AS BIGINT) AS t_pairs FROM pc),
top AS (SELECT w1, w2, c FROM pc ORDER BY c DESC, w1 ASC, w2 ASC LIMIT {_KN_TOP_K})
SELECT t.w1, t.w2, t.c, f.c1, f.n1fw, b.n1bw, tp.t_pairs,
       {_KN_P_EXPR} AS p_kn
FROM top t
JOIN fw f USING (w1)
JOIN bw b USING (w2)
JOIN tp ON 1 = 1
"""


@workload("text_kneser_ney_bigram", oracle=_KN_ORACLE)
def text_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities with absolute
    discount D=0.75: P(w2|w1) = max(c-D,0)/c(w1.) + D*N1+(w1.)/c(w1.) *
    N1+(.w2)/T — the continuation-count smoothing that modern n-gram LM
    toolkits (KenLM) use, built ENTIRELY from four grouped integer count
    tables (pair counts, forward prefix totals + distinct-successor
    counts, distinct-predecessor counts, total bigram types). Reported
    for the top-{k} bigrams by raw count (TakeOrderedAndProject + stats
    joined AFTER the limit, broadcast k-row side); the probability is
    one fixed shared double expression, D being exactly representable.
    The scalar type total joins on a constant key (broadcast hash), not
    a cross join."""
    d = load_table(spark, sf_dir, "documents")
    bigrams = (
        d.select(tokens("text").alias("__t"))
        .select(F.explode(word_bigrams("__t")).alias("b"))
        .select("b.w1", "b.w2")
    )
    pc = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("c"))
    fw = pc.groupBy("w1").agg(
        F.sum("c").cast("long").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("n1fw"),
    )
    bw = pc.groupBy("w2").agg(F.count(F.lit(1)).cast("long").alias("n1bw"))
    tp = pc.agg(F.count(F.lit(1)).cast("long").alias("t_pairs")).withColumn(
        "j", F.lit(1)
    )
    top = (
        pc.orderBy(F.col("c").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(_KN_TOP_K)
        .withColumn("j", F.lit(1))
    )
    joined = (
        fw.join(F.broadcast(top), "w1")
        .join(bw, "w2")
        .join(F.broadcast(tp), "j")
    )
    return joined.select(
        "w1",
        "w2",
        "c",
        "c1",
        "n1fw",
        "n1bw",
        "t_pairs",
        F.expr(_KN_P_EXPR).alias("p_kn"),
    )


# --------------------------------------------------------------------------
# C207 — corpus n-gram novelty rate by source
# --------------------------------------------------------------------------

_NOV_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
  FROM documents
),
bigrams AS (
  SELECT DISTINCT doc_id,
         unnest(t[1:len(t) - 1]) AS w1, unnest(t[2:len(t)]) AS w2
  FROM toks
),
firsts AS (
  SELECT w1, w2, MIN(doc_id) AS first_doc FROM bigrams GROUP BY w1, w2
),
per_doc AS (
  SELECT b.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(CASE WHEN f.first_doc = b.doc_id THEN 1 ELSE 0 END)
              AS BIGINT) AS n_novel
  FROM bigrams b JOIN firsts f ON b.w1 = f.w1 AND b.w2 = f.w2
  GROUP BY b.doc_id
)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(p.n_bigrams) AS BIGINT) AS n_bigrams,
       CAST(SUM(p.n_novel) AS BIGINT) AS n_novel,
       CAST(SUM(p.n_novel) AS DOUBLE) / CAST(SUM(p.n_bigrams) AS DOUBLE)
         AS novelty_rate
FROM per_doc p JOIN documents d ON p.doc_id = d.doc_id
GROUP BY d.source
"""


@workload("text_novelty_rate", oracle=_NOV_ORACLE)
def text_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus NOVELTY accounting: every distinct bigram is attributed to
    its first-occurrence document (MIN doc_id over an ingestion-ordered
    corpus), and each source reports what fraction of its documents'
    bigrams were first seen there — the marginal-information curve that
    says when additional scraping stops adding content (the
    diminishing-returns signal behind dedup-aware corpus growth, cf.
    the repeated-ngram and decontamination tiers). Two grouped
    aggregations plus a bigram-keyed join back — all shuffles keyed on
    bigrams or doc ids, exact counts, one final division."""
    from sample_data_pipeline_project_spark.functions.text import (
        tokens,
        word_bigrams,
    )

    d = load_table(spark, sf_dir, "documents")
    bigrams = (
        d.select("doc_id", tokens("text").alias("__t"))
        .select("doc_id", F.explode(word_bigrams("__t")).alias("b"))
        .select("doc_id", "b.w1", "b.w2")
        .distinct()
    )
    firsts = bigrams.groupBy("w1", "w2").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        bigrams.join(firsts, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
        )
    )
    return (
        per_doc.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_bigrams").cast("long").alias("n_bigrams"),
            F.sum("n_novel").cast("long").alias("n_novel"),
        )
        .select(
            "source",
            "n_docs",
            "n_bigrams",
            "n_novel",
            (
                F.col("n_novel").cast("double") / F.col("n_bigrams").cast("double")
            ).alias("novelty_rate"),
        )
    )


# --------------------------------------------------------------------------
# C224 — Gopher-style quality gates (rule ensemble over token statistics)
# --------------------------------------------------------------------------
_GOPHER_STOP = ("the", "a")  # corpus stopwords (synthetic vocab)
_G_MIN_TOK, _G_MAX_TOK = 20, 80
_G_MIN_MEAN, _G_MAX_MEAN = 3.0, 10.0
_G_MIN_STOP = 2
_G_MAX_TOP_SHARE = 0.12

_GOPHER_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
  FROM documents
),
tc AS (
  SELECT doc_id, tok, COUNT(*) AS cnt
  FROM tok WHERE tok <> '' GROUP BY doc_id, tok
),
d AS (
  SELECT doc_id,
         CAST(SUM(cnt) AS BIGINT) AS n_tokens,
         CAST(SUM(CAST(LENGTH(tok) AS BIGINT) * cnt) AS BIGINT) AS n_chars_tok,
         CAST(COALESCE(SUM(cnt) FILTER (
             WHERE tok IN {str(tuple(_GOPHER_STOP))}), 0) AS BIGINT) AS n_stop,
         CAST(MAX(cnt) AS BIGINT) AS top_cnt
  FROM tc GROUP BY doc_id
),
g AS (
  SELECT doc_id, n_tokens, n_stop,
         ROUND(CAST(n_chars_tok AS DOUBLE) / n_tokens, 6) AS mean_tok_len,
         ROUND(CAST(top_cnt AS DOUBLE) / n_tokens, 6) AS top_share,
         (n_tokens BETWEEN {_G_MIN_TOK} AND {_G_MAX_TOK}) AS g_length,
         (CAST(n_chars_tok AS DOUBLE) / n_tokens >= {_G_MIN_MEAN}
          AND CAST(n_chars_tok AS DOUBLE) / n_tokens <= {_G_MAX_MEAN})
           AS g_mean_len,
         (n_stop >= {_G_MIN_STOP}) AS g_stopwords,
         (CAST(top_cnt AS DOUBLE) / n_tokens <= {_G_MAX_TOP_SHARE})
           AS g_repetition
  FROM d
)
SELECT doc_id, n_tokens, mean_tok_len, n_stop, top_share,
       g_length, g_mean_len, g_stopwords, g_repetition,
       (g_length AND g_mean_len AND g_stopwords AND g_repetition)
         AS passes_all
FROM g
"""


@workload("text_gopher_quality_gates", oracle=_GOPHER_ORACLE)
def text_gopher_quality_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GOPHER-STYLE QUALITY GATES (Rae et al. 2021's rule-ensemble
    document filter, the standard pre-training curation stage): per-doc
    token-length band, mean-token-length band, minimum stopword count,
    and top-token repetition share — each surfaced as its own boolean
    gate plus the conjunction, so downstream curation can report WHICH
    rule rejected a document, not just that one did. Two-level exact-int
    aggregation ((doc, token) counts -> per-doc stats, the same shuffle
    key chain), two ROUND(_,6) divisions of exact ints — no double
    summation anywhere. Complements the single-signal filters C20
    (repetition) and B4 quality scoring."""
    from sample_data_pipeline_project_spark.functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    tc = (
        d.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    stats = tc.groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.sum(F.length("tok").cast("long") * F.col("cnt"))
        .cast("long")
        .alias("n_chars_tok"),
        F.coalesce(
            F.sum(F.when(F.col("tok").isin(*_GOPHER_STOP), F.col("cnt"))),
            F.lit(0),
        )
        .cast("long")
        .alias("n_stop"),
        F.max("cnt").cast("long").alias("top_cnt"),
    )
    mean_len = F.col("n_chars_tok").cast("double") / F.col("n_tokens")
    top_share = F.col("top_cnt").cast("double") / F.col("n_tokens")
    g_length = F.col("n_tokens").between(_G_MIN_TOK, _G_MAX_TOK)
    g_mean = (mean_len >= _G_MIN_MEAN) & (mean_len <= _G_MAX_MEAN)
    g_stop = F.col("n_stop") >= _G_MIN_STOP
    g_rep = top_share <= _G_MAX_TOP_SHARE
    return stats.select(
        "doc_id",
        "n_tokens",
        F.round(mean_len, 6).alias("mean_tok_len"),
        "n_stop",
        F.round(top_share, 6).alias("top_share"),
        g_length.alias("g_length"),
        g_mean.alias("g_mean_len"),
        g_stop.alias("g_stopwords"),
        g_rep.alias("g_repetition"),
        (g_length & g_mean & g_stop & g_rep).alias("passes_all"),
    )


_CHUNK = 50
_STRIDE = 40

_CHUNK_CTE = f"""
toks AS (
  SELECT doc_id, COALESCE({_DUCK_TOKENS}, []) AS t FROM documents
),
starts AS (
  SELECT doc_id, t,
         unnest(range(0, GREATEST(len(t), 1), {_STRIDE})) AS start
  FROM toks
),
chunks AS (
  SELECT doc_id,
         CAST(start // {_STRIDE} AS BIGINT) AS chunk_index,
         CAST(start AS BIGINT) AS start_token,
         CAST(len(list_slice(t, start + 1, start + {_CHUNK})) AS BIGINT) AS n_tokens,
         md5(array_to_string(list_slice(t, start + 1, start + {_CHUNK}), ' ')) AS chunk_hash
  FROM starts
)
"""


@workload(
    "text_chunk_overlap",
    oracle=f"""
WITH {_CHUNK_CTE}
SELECT doc_id, chunk_index, start_token, n_tokens, chunk_hash FROM chunks
""",
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C229 — RAG/window chunking: fixed 50-token chunks on a 40-token
    stride (tail chunks shorter; every doc yields >= 1 chunk). JVM-side
    sequence + slice + posexplode — one narrow projection, no shuffle,
    trivially shard-parallel at 100 TB. Token arrays are coalesced to
    empty on BOTH sides: without it a NULL `text` diverges between the
    engines (Spark size(slice(NULL,..)) = -1 vs DuckDB
    len(list_slice(NULL,..)) = NULL), a silent dependence on the
    generator never emitting NULL text."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.coalesce(
            tokens("text"), F.expr("CAST(array() AS array<string>)")
        ).alias("t"),
    )
    return (
        t.select(
            "doc_id",
            "t",
            F.posexplode(
                F.expr(f"sequence(0, greatest(size(t) - 1, 0), {_STRIDE})")
            ).alias("chunk_index", "start"),
        )
        .select(
            "doc_id",
            F.col("chunk_index").cast("long").alias("chunk_index"),
            F.col("start").cast("long").alias("start_token"),
            F.expr(f"size(slice(t, start + 1, {_CHUNK}))")
            .cast("long")
            .alias("n_tokens"),
            F.expr(
                f"md5(array_join(slice(t, start + 1, {_CHUNK}), ' '))"
            ).alias("chunk_hash"),
        )
    )


# ---------------------------------------------------------------------------
# C239 — DSIR-style importance resampling (hashed-ngram LM log-ratio)
# ---------------------------------------------------------------------------
_DSIR_TARGET = "src7"
_DSIR_B = 256
_DSIR_TOP = 50


def _dsir_bucket_expr() -> str:
    from sample_data_pipeline_project_spark.functions.text import (
        md5_prefix_uint32_sql,
    )

    return md5_prefix_uint32_sql("'dsir|' || tok") + f" % {_DSIR_B}"


def _dsir_lnratio_expr() -> str:
    """ln of an exact integer rational: both counts and totals are exact
    BIGINTs cast to DOUBLE before one multiply/divide each side — the only
    libm call is the single ln, absorbed by the final ROUND(.., 9)."""
    return (
        f"ln((CAST(COALESCE(cnt_t, 0) + 1 AS DOUBLE)"
        f" * CAST(n_r + {_DSIR_B} AS DOUBLE))"
        f" / (CAST(cnt_r + 1 AS DOUBLE)"
        f" * CAST(n_t + {_DSIR_B} AS DOUBLE)))"
    )


def _dsir_oracle() -> str:
    bucket = _dsir_bucket_expr()
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({_DUCK_TOKENS}) AS tok FROM documents
),
tf AS (
  SELECT doc_id, {bucket} AS bucket, COUNT(*) AS tf
  FROM toks WHERE tok != '' GROUP BY doc_id, {bucket}
),
raw AS (SELECT bucket, CAST(SUM(tf) AS BIGINT) AS cnt_r FROM tf GROUP BY bucket),
tgt AS (
  SELECT t.bucket, CAST(SUM(t.tf) AS BIGINT) AS cnt_t
  FROM tf t JOIN documents d ON t.doc_id = d.doc_id
  WHERE d.source = '{_DSIR_TARGET}'
  GROUP BY t.bucket
),
tot AS (
  SELECT CAST(SUM(t.tf) AS BIGINT) AS n_r,
         CAST(SUM(CASE WHEN d.source = '{_DSIR_TARGET}' THEN t.tf ELSE 0 END)
              AS BIGINT) AS n_t
  FROM tf t JOIN documents d ON t.doc_id = d.doc_id
),
lr AS (
  SELECT r.bucket, {_dsir_lnratio_expr()} AS lnratio
  FROM raw r LEFT JOIN tgt g ON r.bucket = g.bucket CROSS JOIN tot
)
SELECT t.doc_id, d.source AS source,
       ROUND(SUM(t.tf * lr.lnratio), 9) AS llr_score
FROM tf t JOIN lr ON t.bucket = lr.bucket
JOIN documents d ON t.doc_id = d.doc_id
GROUP BY t.doc_id, d.source
ORDER BY llr_score DESC, t.doc_id ASC
LIMIT {_DSIR_TOP}
"""


@workload("text_dsir_importance_sample", oracle=_dsir_oracle())
def text_dsir_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C239 — data selection by importance resampling (DSIR, Xie et al.
    2023): score every document by the log-likelihood ratio of a hashed
    unigram LM fit on a TARGET domain (source = {target}) vs one fit on
    the raw corpus, add-one smoothed over {b} md5 buckets, and keep the
    top-{n} — the published recipe for "select pretraining data that
    looks like my high-quality domain" without a trained classifier.

    Spark-first / 100 TB shape: the token explode is map-side; the only
    corpus-sized shuffles are keyed (doc_id, bucket) then doc_id; both
    LMs are <= {b}-row aggregates joined back by BROADCAST (the bucket
    domain is fixed, never vocabulary-sized — the hashing trick is what
    makes DSIR shuffle-free at any vocabulary); the corpus-total frame
    is a 1-row broadcast crossJoin (BNLJ-allowlisted); the final top-{n}
    is TakeOrderedAndProject. Determinism: bucket counts are exact
    integers, each bucket's log-ratio is ONE ln of an exact rational,
    and per-doc scores round to 9 dp on both engines (the
    text_bm25_search libm rule)."""
    from sample_data_pipeline_project_spark.functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    src = d.select("doc_id", "source")
    tf = (
        d.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .filter(F.col("tok") != "")
        .select("doc_id", F.expr(_dsir_bucket_expr()).alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    tf_src = tf.join(src, "doc_id")
    raw = tf.groupBy("bucket").agg(F.sum("tf").alias("cnt_r"))
    tgt = (
        tf_src.filter(F.col("source") == _DSIR_TARGET)
        .groupBy("bucket")
        .agg(F.sum("tf").alias("cnt_t"))
    )
    tot = tf_src.agg(
        F.sum("tf").alias("n_r"),
        F.sum(
            F.when(F.col("source") == _DSIR_TARGET, F.col("tf")).otherwise(0)
        ).alias("n_t"),
    )
    lr = (
        raw.join(tgt, "bucket", "left")
        .crossJoin(F.broadcast(tot))
        .select("bucket", F.expr(_dsir_lnratio_expr()).alias("lnratio"))
    )
    scored = (
        tf.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(F.col("tf") * F.col("lnratio")), 9).alias(
                "llr_score"
            )
        )
    )
    return (
        scored.join(src, "doc_id")
        .select("doc_id", "source", "llr_score")
        .orderBy(F.col("llr_score").desc(), F.col("doc_id").asc())
        .limit(_DSIR_TOP)
    )
