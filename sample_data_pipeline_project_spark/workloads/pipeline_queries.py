"""Pipeline-lifecycle workloads: SCD2 history, data-quality profiling,
curation funnel, edit-distance near-dup verification.

These extend the reference's run-ledger bookkeeping (snowflake_tasks.py's
status/gap/overlap auditing) with the surrounding operations a production
training-data pipeline runs on the same cadence: dimension history
maintenance, per-column data-quality profiles, the multi-stage curation
funnel report, and an exact edit-distance verifier for near-dup pairs.
Every workload here is SQL-expressible and carries a DuckDB oracle.

Incremental maintenance workloads (delta aggregates, delta joins, Z-set
maintenance) certify that applying deltas to a maintained result equals
recomputing it from scratch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sample_data_pipeline_project_spark.functions.text import token_count
from sample_data_pipeline_project_spark.operators.asof import asof_join
from sample_data_pipeline_project_spark.operators.scd2 import scd2_from_changelog
from sample_data_pipeline_project_spark.sources.catalog import load_table
from sample_data_pipeline_project_spark.workloads import workload


@workload(
    "scd2_customer_priority_history",
    oracle="""
WITH dedup AS (
  SELECT o_custkey, o_orderdate, o_orderpriority
  FROM (
    SELECT o_custkey, o_orderdate, o_orderpriority,
           ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
                              ORDER BY o_orderkey DESC) AS rn
    FROM orders
  ) WHERE rn = 1
), collapsed AS (
  SELECT o_custkey, o_orderdate, o_orderpriority
  FROM (
    SELECT o_custkey, o_orderdate, o_orderpriority,
           LAG(o_orderpriority) OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate) AS prev
    FROM dedup
  ) WHERE prev IS NULL OR prev <> o_orderpriority
)
SELECT o_custkey AS custkey,
       o_orderpriority AS priority,
       o_orderdate AS valid_from,
       COALESCE(LEAD(o_orderdate) OVER w,
                TIMESTAMP '2262-01-01 00:00:00') AS valid_to,
       (LEAD(o_orderdate) OVER w IS NULL) AS is_current
FROM collapsed
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate)
""",
)
def scd2_customer_priority_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension build: treat each customer's order stream as a
    change log of their order priority and emit versioned history rows
    (valid_from / valid_to / is_current). Same-day duplicate changes
    resolve by highest orderkey; consecutive identical priorities collapse
    into one version. One shuffle on the business key (operators/scd2.py)."""
    changes = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").alias("ts"),
        F.col("o_orderpriority").alias("priority"),
        "o_orderkey",
    )
    return scd2_from_changelog(
        changes,
        key_cols=["custkey"],
        ts_col="ts",
        attr_cols=["priority"],
        tiebreak_col="o_orderkey",
    )


# Per-column profile spec for `orders`: (column, value-expression kind).
# `decimal2` routes doubles through ROUND+DECIMAL(18,2) so min/max render
# identically in Spark and DuckDB (float->string repr is not portable).
_PROFILE_COLS: list[tuple[str, str]] = [
    ("o_orderkey", "plain"),
    ("o_custkey", "plain"),
    ("o_orderstatus", "plain"),
    ("o_orderpriority", "plain"),
    ("o_orderdate", "plain"),
    ("o_totalprice", "decimal2"),
]


def _profile_sql_value(col: str, kind: str, agg: str) -> str:
    if kind == "decimal2":
        return f"CAST(CAST(ROUND({agg}({col}), 2) AS DECIMAL(18,2)) AS VARCHAR)"
    return f"CAST({agg}({col}) AS VARCHAR)"


def _build_profile_oracle() -> str:
    aggs: list[str] = []
    rows: list[str] = []
    for col, kind in _PROFILE_COLS:
        aggs += [
            f"COUNT({col}) AS {col}__n_nonnull",
            f"COUNT(*) - COUNT({col}) AS {col}__n_null",
            f"COUNT(DISTINCT {col}) AS {col}__n_distinct",
            f"{_profile_sql_value(col, kind, 'MIN')} AS {col}__min",
            f"{_profile_sql_value(col, kind, 'MAX')} AS {col}__max",
        ]
        for metric in ("n_nonnull", "n_null", "n_distinct", "min", "max"):
            rows.append(
                f"SELECT '{col}' AS column_name, '{metric}' AS metric, "
                f"CAST({col}__{metric} AS VARCHAR) AS value FROM a"
            )
    return (
        "WITH a AS (SELECT " + ", ".join(aggs) + " FROM orders)\n"
        + "\nUNION ALL ".join(rows)
    )


@workload("dq_profile_orders", oracle=_build_profile_oracle())
def dq_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality column profile of `orders` in long form: per column,
    non-null / null / distinct counts and min/max rendered as strings.
    Single aggregation pass over the table (all 30 aggregates in one
    groupBy().agg()), then an explode of literal structs — so the profile
    costs ONE scan + ONE partial-aggregate shuffle regardless of how many
    columns are profiled."""
    o = load_table(spark, sf_dir, "orders")
    aggs, entries = [], []
    for col, kind in _PROFILE_COLS:
        if kind == "decimal2":
            vmin = F.round(F.min(col), 2).cast("decimal(18,2)").cast("string")
            vmax = F.round(F.max(col), 2).cast("decimal(18,2)").cast("string")
        else:
            vmin = F.min(col).cast("string")
            vmax = F.max(col).cast("string")
        aggs += [
            F.count(col).alias(f"{col}__n_nonnull"),
            (F.count(F.lit(1)) - F.count(col)).alias(f"{col}__n_null"),
            F.countDistinct(col).alias(f"{col}__n_distinct"),
            vmin.alias(f"{col}__min"),
            vmax.alias(f"{col}__max"),
        ]
    one = o.agg(*aggs)
    for col, _ in _PROFILE_COLS:
        for metric in ("n_nonnull", "n_null", "n_distinct", "min", "max"):
            entries.append(
                F.struct(
                    F.lit(col).alias("column_name"),
                    F.lit(metric).alias("metric"),
                    F.col(f"{col}__{metric}").cast("string").alias("value"),
                )
            )
    return one.select(F.explode(F.array(*entries)).alias("e")).select("e.*")


_DUCK_NT = "len(string_split_regex(lower(trim(text)), '\\s+'))"


@workload(
    "text_curation_funnel",
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang, text, {_DUCK_NT} AS nt,
         substr(text, 1, 40) AS fp
  FROM documents
), s1 AS (
  SELECT * FROM t WHERE nt BETWEEN 15 AND 70
), s2 AS (
  SELECT * FROM s1 WHERE lang IN ('en','es','de','fr')
), s3 AS (
  SELECT * FROM s2
  WHERE doc_id IN (SELECT MIN(doc_id) FROM s2 GROUP BY fp)
)
SELECT 0 AS stage_idx, 'raw' AS stage,
       COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS n_tokens FROM t
UNION ALL
SELECT 1, 'length_gate', COUNT(*), CAST(SUM(nt) AS BIGINT) FROM s1
UNION ALL
SELECT 2, 'lang_gate', COUNT(*), CAST(SUM(nt) AS BIGINT) FROM s2
UNION ALL
SELECT 3, 'prefix_dedup', COUNT(*), CAST(SUM(nt) AS BIGINT) FROM s3
""",
)
def text_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation funnel report: raw -> token-length gate ->
    language allowlist -> prefix-fingerprint dedup (keep lowest doc_id per
    40-char prefix), with surviving doc and token counts per stage. The
    stages compose lazily as chained filters over ONE scan; the per-stage
    counts are four small aggregates unioned — at 100 TB each stage is a
    map-side predicate and the dedup is one shuffle on the fingerprint."""
    t = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        token_count("text").alias("nt"),
        F.substring("text", 1, 40).alias("fp"),
    )
    s1 = t.filter(F.col("nt").between(15, 70))
    s2 = s1.filter(F.col("lang").isin("en", "es", "de", "fr"))
    w = Window.partitionBy("fp")
    s3 = s2.withColumn("keep", F.min("doc_id").over(w) == F.col("doc_id")).filter(
        "keep"
    )

    def stage(df: DataFrame, idx: int, name: str) -> DataFrame:
        return df.agg(
            F.lit(idx).alias("stage_idx"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").alias("n_tokens"),
        )

    return (
        stage(t, 0, "raw")
        .unionByName(stage(s1, 1, "length_gate"))
        .unionByName(stage(s2, 2, "lang_gate"))
        .unionByName(stage(s3, 3, "prefix_dedup"))
    )


@workload(
    "dedup_levenshtein_pairs",
    oracle="""
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) AS prefix_edit_distance
FROM documents a
JOIN documents b
  ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) <= 2
""",
)
def dedup_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact edit-distance near-dup pairs: 40-char prefixes within
    levenshtein distance 2, language-blocked. The Spark plan is NOT the
    oracle's quadratic per-block cross join: a pigeonhole q-gram
    prefilter (operators/dedup.py:edit_distance_pairs) reduces candidates
    to gram-sharing pairs — provably lossless at this (40, q=12, t=2)
    geometry — and only candidates pay the banded DP. The oracle being
    quadratic and the engine sub-quadratic is exactly the point: same
    answer, scalable plan."""
    from sample_data_pipeline_project_spark.operators.dedup import (
        edit_distance_pairs,
    )

    return edit_distance_pairs(
        load_table(spark, sf_dir, "documents"),
        prefix_len=40,
        threshold=2,
        q=12,
    )


@workload(
    "text_chunk_documents",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
), e AS (
  SELECT doc_id, toks,
         unnest(range(0, CAST((len(toks)-1)//16 AS BIGINT) + 1)) AS i
  FROM t
)
SELECT doc_id,
       CAST(i AS INT) AS chunk_idx,
       array_to_string(toks[CAST(i*16+1 AS INT) : CAST(i*16+32 AS INT)], ' ') AS chunk_text,
       CAST(len(toks[CAST(i*16+1 AS INT) : CAST(i*16+32 AS INT)]) AS INT) AS chunk_tokens
FROM e
""",
)
def text_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking via Python UDTF (lateral generator join):
    every document fans out into 32-token chunks at stride 16 (50%%
    overlap). The generator runs executor-side (row-path UDTF, see
    operators/chunking.py) so no per-doc array ever sits on the driver.
    At corpus scale this is a map-only stage — no shuffle at all."""
    from sample_data_pipeline_project_spark.operators.chunking import (
        register_chunker,
    )

    register_chunker(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("_docs_chunk_src")
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_idx, c.chunk_text, c.chunk_tokens
        FROM _docs_chunk_src d,
             LATERAL token_chunker(d.text, 32, 16) c
        """
    )


# Declarative data-quality EXPECTATIONS over `orders`: each rule is a
# boolean predicate; violations are counted in ONE aggregation pass
# (conditional sums — no per-rule scans), uniqueness via a distinct
# count in the same pass.
_EXPECTATION_RULES: list[tuple[str, str]] = [
    ("totalprice_positive", "o_totalprice > 0"),
    ("orderdate_in_range",
     "o_orderdate >= TIMESTAMP '1992-01-01 00:00:00' AND "
     "o_orderdate < TIMESTAMP '1999-01-01 00:00:00'"),
    ("status_in_domain", "o_orderstatus IN ('O', 'F', 'P')"),
    ("custkey_not_null", "o_custkey IS NOT NULL"),
]


def _build_expectations_oracle() -> str:
    aggs = [
        f"SUM(CASE WHEN NOT ({pred}) OR ({pred}) IS NULL THEN 1 ELSE 0 END)"
        f" AS v_{name}"
        for name, pred in _EXPECTATION_RULES
    ] + ["COUNT(*) - COUNT(DISTINCT o_orderkey) AS v_orderkey_unique"]
    rows = [
        f"SELECT '{name}' AS rule_name, CAST(v_{name} AS BIGINT) AS n_violations,"
        f" v_{name} = 0 AS passed FROM a"
        for name, _ in _EXPECTATION_RULES
    ] + [
        "SELECT 'orderkey_unique' AS rule_name,"
        " CAST(v_orderkey_unique AS BIGINT) AS n_violations,"
        " v_orderkey_unique = 0 AS passed FROM a"
    ]
    return (
        "WITH a AS (SELECT " + ", ".join(aggs) + " FROM orders)\n"
        + "\nUNION ALL ".join(rows)
    )


@workload("dq_expectations_orders", oracle=_build_expectations_oracle())
def dq_expectations_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative DQ expectations (the assertion half of the DQ story,
    next to dq_profile_orders' statistics half): every rule predicate is
    counted in a single aggregation pass via conditional sums — adding a
    rule adds one agg expression, never another scan — plus a same-pass
    distinct count for key uniqueness. NULL predicate results count as
    violations (a null price is not 'positive'). Long-form output: one
    row per rule with its violation count and pass flag."""
    o = load_table(spark, sf_dir, "orders")
    aggs = [
        F.sum(
            F.when(F.expr(pred).isNull() | ~F.expr(pred), 1).otherwise(0)
        ).alias(f"v_{name}")
        for name, pred in _EXPECTATION_RULES
    ] + [
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias(
            "v_orderkey_unique"
        )
    ]
    one = o.agg(*aggs)
    names = [n for n, _ in _EXPECTATION_RULES] + ["orderkey_unique"]
    entries = [
        F.struct(
            F.lit(name).alias("rule_name"),
            F.col(f"v_{name}").cast("long").alias("n_violations"),
            (F.col(f"v_{name}") == 0).alias("passed"),
        )
        for name in names
    ]
    return one.select(F.explode(F.array(*entries)).alias("e")).select("e.*")


# --------------------------------------------------------------------------
# Incremental aggregate maintenance (snapshot + delta merge)
# --------------------------------------------------------------------------
_INCR_CUTOFF = "2024-06-01"

_INCR_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events
GROUP BY event_type
"""


@workload("incremental_agg_maintenance", oracle=_INCR_ORACLE)
def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance with MERGEABLE partial aggregates: the
    standing state (events strictly before the cutoff day) and the new
    delta (on/after) are aggregated independently, then merged by
    re-aggregating the partials (operators/incremental.py) — the
    snapshot+delta update a 100 TB pipeline runs nightly instead of a
    full recompute. COUNT merges as SUM of counts; SUM as SUM of decimal
    partial sums (exact, order-independent). The oracle is the full
    recompute the merge must equal."""
    from sample_data_pipeline_project_spark.operators.incremental import (
        merge_partial_aggs,
    )

    e = load_table(spark, sf_dir, "events")
    cutoff = F.lit(_INCR_CUTOFF).cast("date")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("total_value_dec"),
        )

    state = partial(e.filter(F.to_date("ts") < cutoff))
    delta = partial(e.filter(F.to_date("ts") >= cutoff))
    merged = merge_partial_aggs(
        state,
        delta,
        key_cols=["event_type"],
        sum_cols=["n_events", "total_value_dec"],
    )
    return merged.select(
        "event_type",
        F.col("n_events").cast("long"),
        F.col("total_value_dec").cast("double").alias("total_value"),
    )


# --------------------------------------------------------------------------
# Incremental JOIN-view maintenance (delta-join IVM)
# --------------------------------------------------------------------------
_IVM_CUTOFF = "2000-01-01"

_IVM_ORACLE = f"""
SELECT n.n_name AS nation,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
"""


@workload("incremental_join_maintenance", oracle=_IVM_ORACLE)
def incremental_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view (delta-join IVM) — the join
    extension of C6's mergeable-aggregate maintenance: the standing
    revenue-per-nation view V = agg(orders |><| customer |><| nation) is
    updated for an orders delta by joining ONLY the delta against the
    dimensions (d(A |><| B) = dA |><| B when B is static; the symmetric
    dA |><| B union A |><| dB rule covers a two-sided delta) and merging
    partial aggregates — the base fact partition is never rescanned. The
    oracle is the full recompute the maintained view must equal exactly
    (DECIMAL partials keep the merge order-independent)."""
    from sample_data_pipeline_project_spark.operators.incremental import (
        merge_partial_aggs,
    )

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), F.col("n_name").alias("nation")
    )
    cutoff = F.lit(_IVM_CUTOFF).cast("date")

    def view_partial(fact: DataFrame) -> DataFrame:
        return (
            fact.join(F.broadcast(c), "o_custkey")
            .join(F.broadcast(n), "c_nationkey")
            .groupBy("nation")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias(
                    "rev_dec"
                ),
            )
        )

    state = view_partial(o.filter(F.to_date("o_orderdate") < cutoff))
    delta = view_partial(o.filter(F.to_date("o_orderdate") >= cutoff))
    merged = merge_partial_aggs(
        state, delta, key_cols=["nation"], sum_cols=["n_orders", "rev_dec"]
    )
    return merged.select(
        "nation",
        F.col("n_orders").cast("long"),
        F.col("rev_dec").cast("double").alias("revenue"),
    )


# --------------------------------------------------------------------------
# Z-set (signed-multiplicity) incremental maintenance with retractions
# --------------------------------------------------------------------------
_ZSET_CUTOFF = "2024-01-15"
_ZSET_DEL_MOD = 10
_ZSET_DEL_RESIDUE = 3

_ZSET_ORACLE = f"""
WITH net AS (
  SELECT * FROM events
  WHERE NOT (CAST(ts AS DATE) < DATE '{_ZSET_CUTOFF}'
             AND event_id % {_ZSET_DEL_MOD} = {_ZSET_DEL_RESIDUE})
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM net GROUP BY event_type
"""


@workload("incremental_zset_maintenance", oracle=_ZSET_ORACLE)
def incremental_zset_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-SET INCREMENTAL MAINTENANCE — the RETRACTION algebra (DBSP /
    differential-dataflow style) that C6's append-only merge can't
    express: the changelog carries SIGNED multiplicities (+1 insert,
    -1 delete), and any linear aggregate is maintained by summing
    weighted contributions — deletes are just negative rows, no
    rewriting, no reprocessing of the base. Here the standing state (all
    events), a delete batch (every {m}th early event retracted), and the
    maintained view combine as ONE weighted aggregate: COUNT becomes
    SUM(w), SUM(value) becomes SUM(w * value_dec), both exact (DECIMAL
    partials). The oracle recomputes from the NET row set — equality
    proves the retraction algebra is lossless. Scale shape: changelogs
    are delta-sized; each maintenance tick is a map-side-combinable
    aggregate over the delta merged with aggregate-sized state."""
    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit(_ZSET_CUTOFF).cast("date")
    inserts = ev.select(
        "event_type",
        F.col("value").cast("decimal(18,6)").alias("v"),
        F.lit(1).alias("w"),
    )
    deletes = (
        ev.filter(
            (F.col("ts").cast("date") < cutoff)
            & (F.col("event_id") % _ZSET_DEL_MOD == _ZSET_DEL_RESIDUE)
        )
        .select(
            "event_type",
            F.col("value").cast("decimal(18,6)").alias("v"),
            F.lit(-1).alias("w"),
        )
    )
    changelog = inserts.unionByName(deletes)
    return (
        changelog.groupBy("event_type")
        .agg(
            F.sum("w").cast("long").alias("n_events"),
            F.sum(F.col("w") * F.col("v")).cast("double").alias("sum_value"),
        )
    )


# --------------------------------------------------------------------------
# Z-set JOIN maintenance: the bilinear delta rule with retractions
# --------------------------------------------------------------------------
# Deterministic change scenario:
#   orders: keys %7==3 arrive LATE (excluded from base, +1 in dO);
#           keys %7==2 are RETRACTED (-1 in dO)
#   customer: keys %5==0 MOVE to nation (nk+1)%25 (-1 old row, +1 new row)
_ZJ_ORACLE = """
WITH net_o AS (
  SELECT o_orderkey, o_custkey,
         CAST(o_totalprice AS DECIMAL(18,2)) AS price_dec
  FROM orders WHERE o_orderkey % 7 != 2
),
net_c AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 5 = 0 THEN (c_nationkey + 1) % 25
              ELSE c_nationkey END AS nk
  FROM customer
)
SELECT CAST(c.nk AS BIGINT) AS nk,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(o.price_dec) AS DOUBLE) AS revenue
FROM net_o o JOIN net_c c ON o.o_custkey = c.c_custkey
GROUP BY c.nk
"""


@workload("incremental_zset_join_maintenance", oracle=_ZJ_ORACLE)
def incremental_zset_join_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Z-SET JOIN MAINTENANCE — the BILINEAR delta rule
    d(A |><| B) = dA |><| B + A |><| dB + dA |><| dB with signed
    multiplicities on BOTH sides (C96 covered the static-dimension
    special case; C131 the linear-aggregate case). The scenario retracts
    some orders, adds late-arriving ones, AND moves some customers to a
    new nation (a -1/+1 pair in dC); the maintained revenue-per-nation
    view is the standing view PLUS three delta-term aggregates, each
    join carrying weight w_o * w_c, merged by re-aggregating partials.
    Every term's join is delta-sized on at least one side except the
    standing view (computed once); weights make COUNT = SUM(w) and
    SUM = SUM(w * price_dec), both exact. The oracle recomputes from the
    net tables — equality proves the bilinear expansion lossless."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price_dec"),
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_nationkey").alias("nk"),
        "c_custkey",
    )
    base_o = o.filter(F.col("o_orderkey") % 7 != 3).withColumn("wo", F.lit(1))
    d_o = (
        o.filter(F.col("o_orderkey") % 7 == 3).withColumn("wo", F.lit(1))
    ).unionByName(
        o.filter(F.col("o_orderkey") % 7 == 2).withColumn("wo", F.lit(-1))
    )
    base_c = c.select("o_custkey", "nk").withColumn("wc", F.lit(1))
    movers = c.filter(F.col("c_custkey") % 5 == 0)
    d_c = (
        movers.select("o_custkey", "nk").withColumn("wc", F.lit(-1))
    ).unionByName(
        movers.select(
            "o_custkey", ((F.col("nk") + 1) % 25).alias("nk")
        ).withColumn("wc", F.lit(1))
    )

    def term(ods: DataFrame, cds: DataFrame) -> DataFrame:
        j = ods.join(cds, "o_custkey")
        w = F.col("wo") * F.col("wc")
        return j.groupBy("nk").agg(
            F.sum(w).alias("n_orders"),
            F.sum(w.cast("decimal(18,2)") * F.col("price_dec")).alias(
                "rev_dec"
            ),
        )

    merged = (
        term(base_o, base_c)
        .unionByName(term(d_o, base_c))
        .unionByName(term(base_o, d_c))
        .unionByName(term(d_o, d_c))
        .groupBy("nk")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("rev_dec").alias("rev_dec"),
        )
        .filter(F.col("n_orders") != 0)
    )
    return merged.select(
        F.col("nk").cast("long"),
        F.col("n_orders").cast("long"),
        F.col("rev_dec").cast("double").alias("revenue"),
    )


# --------------------------------------------------------------------------
# C175 — point-in-time (PIT) join of facts against an SCD2 dimension
# --------------------------------------------------------------------------

_PIT_ORACLE = """
WITH dedup AS (
  SELECT o_custkey, o_orderdate, o_orderpriority
  FROM (
    SELECT o_custkey, o_orderdate, o_orderpriority,
           ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
                              ORDER BY o_orderkey DESC) AS rn
    FROM orders
  ) WHERE rn = 1
), collapsed AS (
  SELECT o_custkey, o_orderdate, o_orderpriority
  FROM (
    SELECT o_custkey, o_orderdate, o_orderpriority,
           LAG(o_orderpriority) OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate) AS prev
    FROM dedup
  ) WHERE prev IS NULL OR prev <> o_orderpriority
), hist AS (
  SELECT o_custkey AS custkey,
         o_orderpriority AS priority,
         o_orderdate AS valid_from,
         COALESCE(LEAD(o_orderdate) OVER w,
                  TIMESTAMP '2262-01-01 00:00:00') AS valid_to
  FROM collapsed
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate)
), ships AS (
  SELECT o.o_custkey AS custkey, l.l_shipdate AS ship_ts, l.l_quantity
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT h.priority AS priority_at_ship,
       CAST(COUNT(*) AS BIGINT) AS n_shipments,
       CAST(SUM(CAST(s.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM ships s
LEFT JOIN hist h
  ON s.custkey = h.custkey
 AND s.ship_ts >= h.valid_from
 AND s.ship_ts < h.valid_to
GROUP BY h.priority
"""


@workload("scd2_point_in_time_join", oracle=_PIT_ORACLE)
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time enrichment against a versioned dimension: what was
    each customer's order priority AS OF each lineitem's ship date? The
    SCD2 history (operators/scd2.py, one shuffle on the business key) is
    probed with the as-of operator (operators/asof.py union-merge) rather
    than a BETWEEN range join — the naive validity-interval join is a
    non-equi join Spark can only BNLJ, while the as-of form is ONE
    shuffle shared by both sides and a key-partitioned window, the shape
    that survives a dimension with billions of versions. Backward as-of
    on valid_from is exactly SCD2 validity-window semantics because
    versions tile the time axis half-open."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    changes = o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").alias("ts"),
        F.col("o_orderpriority").alias("priority"),
        "o_orderkey",
    )
    hist = scd2_from_changelog(
        changes,
        key_cols=["custkey"],
        ts_col="ts",
        attr_cols=["priority"],
        tiebreak_col="o_orderkey",
    ).select("custkey", F.col("valid_from").alias("vf"), "priority")
    ships = li.join(
        o.select("o_orderkey", F.col("o_custkey").alias("custkey")),
        li["l_orderkey"] == F.col("o_orderkey"),
    ).select("custkey", F.col("l_shipdate").alias("ship_ts"), "l_quantity")
    enriched = asof_join(
        ships,
        hist,
        on=["custkey"],
        left_ts="ship_ts",
        right_ts="vf",
        how="left",
    )
    return enriched.groupBy(F.col("priority").alias("priority_at_ship")).agg(
        F.count(F.lit(1)).cast("long").alias("n_shipments"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_qty"),
    )
