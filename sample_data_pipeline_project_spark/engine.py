"""SparkSession lifecycle + engine configuration.

Replaces the reference's connection handling
(`snowflake_utils/snowflake_query_client.py:83-116`: lazy connect +
reuse-if-open) with the Spark-native equivalent: a process-wide
`SparkSession` built through `getOrCreate()`. Namespace switching
(`USE DATABASE` / `USE SCHEMA`, snowflake_query_client.py:151-152) maps to
`spark.catalog.setCurrentDatabase` / multipart names; here we expose a
helper for it.

Configuration is chosen for scale-out semantics even though tests run on
local[N]:
  - AQE on (runtime re-plan: shuffle coalescing, skew-join splitting,
    dynamic broadcast conversion),
  - UTC session timezone (stable timestamp semantics vs. any oracle),
  - Arrow for any toPandas/pandas-UDF edge,
  - one width rule (`width_conf`): shuffle partitions sized to the
    session's core count rather than the 200 default, and AQE's wide
    start at 8 x cores (256 at 32); at cluster scale either is
    overridden per-deploy through `extra_conf`.

This is the only module that changes a session's conf. A query that
needs other settings takes them as writer/UDTF options or runs in
`session_with(spark, conf)`, so queries sharing one session never see
each other's settings. Deploy-specific confs (e.g. the RocksDB state
store provider) go in through `get_spark(extra_conf=...)`.
"""

from __future__ import annotations

import os
import threading
import weakref

from pyspark.sql import SparkSession

from sample_data_pipeline_project_spark.functions.timeops import (
    NANOS_AS_LONG_CONF,
)

_DEFAULTS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # canChangeCachedPlanOutputPartitioning stays at its DEFAULT (false)
    # — round 12 reverted the round-11 "true". The round-11 rationale
    # (cache-population shuffles run 8 x cores near-empty tasks, 256 at
    # local[32]) mistook task-launch noise (milliseconds) for the cost
    # at that width; what the flag
    # actually did was let AQE coalesce the cached signature/pair/token
    # tables down to 1-3 partitions (they are KB-to-MB-sized inputs),
    # and every downstream stage that fans OUT of those caches — band
    # self-joins, prefix candidate joins, token-intersection joins,
    # whose outputs are millions of rows from tiny inputs — inherited
    # that near-serial layout. Same-session conf-only A/B at sf0.1
    # (BENCH-NOTES round 12, non-overlapping spreads): the 10-workload
    # cached-dedup family went 150.1 s (true) -> 36.2 s (false), with
    # dedup_minhash_jaccard_estimate alone 83.5 s -> 7.5 s (11.2x).
    # This also resolves the driver-measured r11 regression on
    # dedup_minhash_lsh (3.67 -> 1.69 s in the same A/B).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # events.parquet's TIMESTAMP(NANOS) `ts` arrives as BIGINT epoch-nanos
    # (functions/timeops.py); on from the start, so loading events does
    # not change a live session's conf.
    NANOS_AS_LONG_CONF: "true",
    # Keep planner stats honest on raw parquet dirs.
    "spark.sql.parquet.filterPushdown": "true",
    # local[N] runs single-JVM; cap UI/noise.
    "spark.ui.enabled": "false",
    # In local mode the driver JVM IS the executor. Spark's 1g default
    # heap GC-thrashes a multi-query session (cached signature tables,
    # broadcasts, Arrow batches) — but BIGGER IS NOT BETTER: measured on
    # the full 64-workload bench at sf0.1, a 32g heap produced 30-90s
    # random stalls (full-GC pauses over a mostly-garbage heap) for a
    # 682s total, while 8g ran the same bench in 116s. Applied only at
    # JVM launch — getOrCreate on a live session ignores it, so set from
    # the first session of the process.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}

# One width rule, applied by `get_spark` when it STARTS a session (a
# live session's widths are left alone — they may be a caller's pins).
# With P the session's default parallelism (its core count in local
# mode):
#   - spark.sql.shuffle.partitions = P, the width of shuffles AQE does
#     not re-plan (streaming state, non-adaptive paths);
#   - AQE starts every shuffle 8 x P wide (256 at local[32]) and lets
#     coalescing shrink it. With a flat 32, one decade of data growth put
#     22M-row sort/agg tasks on a shared 8g heap and OOM'd
#     (er_blocking_quality at sf10, round 7 — 96M truth pairs through 32
#     fat tasks). At 256 initial partitions on local[32] the same
#     workload completes in 196s: per-task memory is bounded by partition
#     width, and AQE's coalescer still collapses small stages to ~P
#     tasks. The wide start is NOT free where AQE cannot coalesce —
#     caches and checkpoints keep their population width, so every join
#     against them runs one task per partition — which is why it scales
#     with the cores instead of being a constant tuned for local[32]:
#     at local[4] a 256 start ran every cached-table join as 256
#     near-empty tasks.
# Either value pinned in `extra_conf` wins over the rule.
_WIDE_START_FACTOR = 8
_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
_INITIAL_PARTITIONS = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"


def width_conf(parallelism: int) -> dict[str, str]:
    """The engine's width confs for a session of `parallelism` cores."""
    p = max(1, int(parallelism))
    return {
        _SHUFFLE_PARTITIONS: str(p),
        _INITIAL_PARTITIONS: str(_WIDE_START_FACTOR * p),
    }


def _cpus() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        try:
            return max(1, int(env))
        except ValueError:
            pass
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "sample_data_pipeline_project_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Get-or-create the engine session (reference A28: connection reuse).

    A new session gets `width_conf(defaultParallelism)` for every width
    conf not pinned in `extra_conf`; on a live session the width confs
    are left as they are (explicit `extra_conf` pins still apply, like
    every other key)."""
    # the same test getOrCreate makes to decide whether to build a session
    live = SparkSession._instantiatedSession
    starting = live is None or live._sc._jsc is None
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{_cpus()}]")
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if starting:
        for k, v in width_conf(spark.sparkContext.defaultParallelism).items():
            if k not in (extra_conf or {}):
                spark.conf.set(k, v)
    # Hygiene: reap warehouse scratch left by DEAD processes (per-pid
    # scratch dirs and pid-scoped bucketed tables — see
    # sources/scratch.py:reap_dead_scratch). Safe on a live session:
    # only entries whose pid no longer exists are touched.
    try:
        from sample_data_pipeline_project_spark.sources.scratch import (
            reap_dead_scratch,
        )

        reap_dead_scratch()
    except Exception:
        pass
    return spark


# caller session -> {frozen conf: child}; see session_with
_CHILDREN: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_CHILDREN_LOCK = threading.Lock()


def session_with(spark: SparkSession, conf: dict[str, str]) -> SparkSession:
    """A session running with the caller's SQL conf plus `conf`, leaving
    the caller's own conf untouched: the way a query gets settings of its
    own while other queries share `spark`.

    The child shares the caller's SparkContext, cache and catalog (not
    its temp views or UDFs). There is one child per caller and `conf`,
    re-synced to the caller's conf and database on every call: each session
    that starts a stream adds listeners to the shared listener bus that
    are never removed, so a fresh child per query would leak them."""
    key = frozenset(conf.items())
    with _CHILDREN_LOCK:
        kids = _CHILDREN.setdefault(spark, {})
        if key not in kids:
            kids[key] = spark.newSession()
        child = kids[key]
        want = {**spark.conf.getAll, **conf}
        have = child.conf.getAll
        for k in have.keys() - want.keys():
            if child.conf.isModifiable(k):
                child.conf.unset(k)
        for k, v in want.items():
            if have.get(k) != v and child.conf.isModifiable(k):
                child.conf.set(k, v)
        db = spark.catalog.currentDatabase()
        if child.catalog.currentDatabase() != db:
            child.catalog.setCurrentDatabase(db)
        # table listings are cached per session: drop the child's, so a
        # table the caller rewrote since the last call is listed afresh
        child._jsparkSession.sessionState().catalog().invalidateAllCachedTables()
    return child


def stop_spark() -> None:
    """Tear down the active session (tests / process exit)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


def use_namespace(spark: SparkSession, database: str, schema: str | None = None) -> None:
    """Spark-native `USE DATABASE`/`USE SCHEMA`
    (reference: snowflake_query_client.py:151-152, A27).

    Spark's catalog has a single namespace level per catalog; we map the
    reference's (database, schema) pair onto `database_schema` when both
    are given.
    """
    ns = f"{database}_{schema}" if schema else database
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {ns}")
    spark.catalog.setCurrentDatabase(ns)
