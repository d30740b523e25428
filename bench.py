"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE compact JSON line (summary only — guaranteed to fit the
driver's output capture):
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "n_queries": N, "cold_value": sec, "old_set_value": sec, "sf": 0.1}
and writes the per-query steady/cold detail to $SPARK_GRAFT_BENCH_FULL
(default BENCH_FULL.json), committed per-round as BENCH_FULL_r{N}.json.

Each query is forced end-to-end with a noop sink (full materialization, no
collect-to-driver cost).  Methodology: each query runs FOUR times — the
first run absorbs one-time costs that are noise at cluster scale (Janino
whole-stage-codegen compilation, parquet footer caches, IVF index build)
and is reported in `cold_queries`; the next three are steady-state runs
and `queries`/`value` report their per-query MEDIAN.  Sub-2s queries on
this shared 32-thread JVM swing up to ~50% run-to-run (BENCH_NOTES_r5.md
§1), so a single steady sample made round-over-round per-query deltas
unreadable; the median keeps the metric identical in expectation while
cutting the noise floor.

MODEL-CACHE POLICY (frozen r15, VERDICT r14 #7).  Exactly three
module-level caches survive across bench runs, all holding SCALAR MODEL
STATE fitted once per (sf_dir, hyperparams) — the way a real system fits
an index once and serves many queries:

  * ``similarity._IVF_INDEX_CACHE`` — integer k-means centroids;
  * ``similarity._PQ_CACHE``        — integer PQ codebooks;
  * ``text._BPE_CACHE``             — the learned BPE merge list.

The fits (which include a corpus-sized scan) run once in the COLD run
and are skipped in steady runs; ``cold_value`` is published and prices
them.  The scope is frozen: a new module cache may hold scalar model
state only — NEVER DataFrames, query results, or anything keyed on the
data directory's contents — and must be listed here.  Everything else is
released between runs: ``release_tracked()`` clears every DataFrame
persist AND the evaluation-scoped relation memo (functions/cache.py), so
every timed run computes from the parquet inputs.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from iceberg_table_generator_spark import all_queries, get_spark
from iceberg_table_generator_spark.functions.cache import release_tracked

HEADLINE = [
    "q1_pricing_summary",
    "join_multiway_revenue",
    "agg_groupby_having",
    "window_topk_per_group",
    "topk_global",
    "events_sessionize",
    "events_hourly_window",
    "asof_join_events",
    "rolling_30d_revenue",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "similarity_cosine_topk",
    "similarity_ivf_topk",
    "text_token_count",
    "text_fingerprint",
    # round-2 additions
    "q9_nation_profit",
    "q13_customer_distribution",
    "pipeline_chunk_documents",
    "pipeline_quality_verdict",
    # round-3 additions
    "similarity_pq_topk",
    "pipeline_dup_ngram_ratio",
    "pipeline_token_rarity",
    "events_funnel",
    "events_retention",
    "pipeline_pii_redaction",
    "join_skew_salted",
    "incremental_agg_maintenance",
    # round-6 additions (r5 verdict task 3): every query family touched
    # since r3 gets a bench guard, so perf regressions in the newest heavy
    # operators are visible round-over-round.  Old-set comparability: the
    # first 28 entries are unchanged — BENCH_NOTES_r6.md maps subtotals.
    "similarity_ann_lsh",
    "text_tfidf_topk",
    "text_bm25_topk",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "dedup_connected_components",
    "wide_metrics_block_fold",
    "events_session_window",
    "similarity_cosine_topk_vectorized",
    # round-6 late additions: the new query families of the second half of
    # the round (graph, packing, classifier, kNN labeling, join-IVM, Q5).
    "q5_local_supplier_volume",
    "events_pagerank",
    "pipeline_sequence_packing",
    "pipeline_classifier_score",
    "similarity_knn_label",
    "incremental_join_maintenance",
    "pipeline_score_calibration",
    "pipeline_mixture_sample",
    "text_bigram_lift",
    "incremental_scd2_intervals",
    "basket_part_pairs",
    "rfm_segments",
    "pareto_revenue_concentration",
    "dq_constraint_audit",
    "dedup_keep_canonical",
    "events_pattern_match",
    "stats_chisq_lang_source",
    "wide_metrics_correlation",
    "similarity_centroid_classifier",
    "events_hourly_p95",
    "events_twap_hourly",
    "orders_open_backlog",
    "events_user_stickiness",
    "events_attribution_first_touch",
    "similarity_mmr_topk",
    "pipeline_pps_sample",
    "stats_simpson_diversity",
    "similarity_ann_recall_eval",
    "lineitem_return_pchart",
    "orders_seasonality_index",
    "orders_cohort_ltv",
    "supplier_scorecard",
    "pipeline_drift_monitor",
    "orders_perfect_rate",
    "events_bounce_rate",
    "part_type_trend",
    "text_lang_confusion",
    "text_tokenizer_fertility",
    "events_new_vs_returning",
    "events_session_duration_hist",
    # round-7 additions: every new query family gets a bench guard.
    "heavyhitters_mg_guarantee",
    "dedup_ngram_containment",
    "events_triangle_count",
    "join_scd2_point_in_time",
    "pipeline_train_val_split",
    "text_oov_rate",
    "text_novelty_rate",
    "events_activity_streaks",
    "dedup_incremental_verdict",
    "join_bloom_filter_audit",
    "meta_file_skew",
    "wide_metrics_feature_hash",
    "pipeline_corpus_manifest",
    "similarity_range_search",
    # round-7 wave 2: sequence/corpus/graph/IVM additions.
    "events_markov_transitions",
    "events_interarrival_hist",
    "events_gini_concentration",
    "events_cooccurrence_lift",
    "events_user_lifecycle",
    "events_hour_of_week_heatmap",
    "events_funnel_time_to_convert",
    "stats_jackknife_loo_mean",
    "text_boilerplate_ngrams",
    "pipeline_dedup_cascade",
    "pipeline_length_filter_audit",
    "text_ngram_coverage",
    "pipeline_epoch_shuffle",
    "text_zipf_check",
    "stats_cohens_kappa",
    "text_burstiness_topk",
    "events_degree_distribution",
    "events_kcore_membership",
    "similarity_cluster_stats",
    "similarity_cluster_separation",
    "dedup_minhash_error_audit",
    "incremental_distinct_maintenance",
    "orders_fulfillment_latency",
    "events_trigram_patterns",
    "stats_benford_audit",
    "orders_whatif_discount_cap",
    # round-7 wave-3 additions
    "dedup_prefix_filter_join",
    "events_hits_scores",
    "events_decay_engagement",
    "events_cusum_changepoint",
    "text_phrase_search",
    "stats_mann_whitney_u",
    "orders_survival_hazard",
    "incremental_topk_maintenance",
    "stats_ks_test",
    "events_reciprocity",
    "heavyhitters_cms_audit",
    "lineitem_weighted_median",
    "orders_ewma_forecast",
    "text_cooccurrence_strength",
    "events_bot_score",
    "events_audience_overlap",
    "orders_forecast_mase",
    "text_vocab_growth",
    "events_mad_anomaly",
    # round-7 wave-4 additions (this session's 22 new operators; old-set
    # comparability unchanged — first 28 entries are frozen)
    "events_clustering_coefficient",
    "events_bfs_hops",
    "events_modularity",
    "events_degree_assortativity",
    "stats_welch_ttest",
    "stats_two_proportion_z",
    "stats_theil_sen_trend",
    "text_typo_pairs",
    "events_peak_concurrency",
    "supplier_herfindahl",
    "orders_fanout_hist",
    "dq_fd_audit",
    "incremental_minmax_maintenance",
    "orders_autocorrelation",
    "lineitem_discount_elasticity",
    "pipeline_trimmed_mean",
    "similarity_triplet_mining",
    "multimodal_fingerprint_dedup",
    "zorder_hilbert_codes",
    "wide_metrics_pca_power",
    "events_ohlc_hourly",
    "events_markov_stationary",
    "stats_spearman_rho",
    "stats_kendall_tau",
    "orders_ratio_to_parent",
    "events_entry_exit_pages",
    "text_proximity_search",
    "orders_mom_growth",
    "lineitem_prorate_fee",
    "meta_version_diff",
    "events_run_length_encoding",
    "pipeline_decile_map",
    "text_term_position_profile",
    "basket_part_triples",
    "part_dual_sourcing",
    "events_two_hop_reach",
    "events_page_dwell_time",
    "events_nav_predictability",
    "similarity_centroid_drift",
    "multimodal_decode_stats",
    "zorder_locality_audit",
    "orders_yoy_growth",
    "stats_runs_test",
    "events_dau_rolling",
    # round-8 additions: every new query family gets a bench guard.
    # orders_holt_forecast is deliberately EXCLUDED — its cost is ~24
    # sequential UnionLoop steps of Spark job-scheduling overhead
    # (~0.5 s/step, data-size-independent), which would add ~11 s of
    # constant to `value` without measuring any data-path work; see
    # BENCH_NOTES_r8.md.
    "orders_ols_trend",
    "part_skyline_pareto",
    "events_link_prediction",
    "text_hapax_ratio",
    "pipeline_shard_balance",
    "orders_abc_classification",
    "stats_cramers_v",
    "similarity_silhouette_audit",
    "stats_levene_bf",
    "events_fano_factor",
    "join_lateral_topn",
    "lineitem_global_quantiles",
    "events_resource_allocation",
    "orders_interpurchase_gap_hist",
    "lineitem_price_index",
    "similarity_dim_variance_profile",
    "stats_anova_f",
    "stats_cohens_d",
    "pipeline_token_budget_split",
    # round-9 additions
    "dedup_span_exact",
    "dedup_span_stats",
    "lineitem_lorenz_deciles",
    "customer_gini_spend",
    "orders_cohort_retention",
    "events_session_depth_funnel",
    "pipeline_dup_cluster_sizes",
    "supplier_lead_time_profile",
    "stats_kruskal_wallis",
    "text_source_vocab_overlap",
    "similarity_lsh_bucket_profile",
    "text_ttr_by_length",
    "events_time_to_first_purchase",
    "similarity_cluster_purity",
    "part_size_price_regression",
    "pipeline_dedup_token_savings",
    "stats_wilcoxon_signed_rank",
    "text_source_unigram_tv",
    "events_katz_centrality",
    "events_absorption_probability",
    "orders_rfm_migration",
    "stats_friedman_test",
    "similarity_pq_distortion",
    "pipeline_dup_by_source",
    # round-10 additions: close the bench-guard gap (r9 verdict #4) — every
    # registered query is now either in HEADLINE or covered by a named
    # exclusion comment.  The only exclusion is orders_holt_forecast (the
    # UnionLoop scheduling-constant rationale above).  Groups below:
    # the 20 previously-unbenched TPC-H shapes,
    "q2_min_acctbal_supplier",
    "q3_shipping_priority",
    "q4_priority_check",
    "q6_forecast_revenue",
    "q7_nation_volume",
    "q8_market_share",
    "q10_returned_revenue",
    "q11_important_parts",
    "q12_late_shipments",
    "q14_promo_revenue",
    "q15_top_supplier",
    "q16_part_supplier_counts",
    "q17_small_quantity_revenue",
    "q18_large_orders",
    "q19_disjunctive_revenue",
    "q20_excess_suppliers",
    "q21_waiting_suppliers",
    "q22_dormant_customers",
    # the multimodal family,
    "multimodal_binary_meta",
    "multimodal_byte_stats",
    "multimodal_chunk_dedup",
    "multimodal_frame_index",
    # the relational / scalar / window core (sub-second shapes, but a
    # regression should still be visible in BENCH_FULL),
    "filter_predicates",
    "scalar_functions",
    "string_functions",
    "date_functions",
    "null_semantics",
    "json_extraction",
    "conditional_agg",
    "distinct_agg",
    "correlated_subquery",
    "cube_orders",
    "rollup_acctbal",
    "grouping_sets",
    "pivot_status_revenue",
    "unpivot_customer_metrics",
    "percentiles",
    "histogram_extendedprice",
    "set_operations",
    "string_agg_nations",
    "argmax_orders",
    "window_running",
    "window_analytics_pack",
    "join_broadcast_dims",
    "join_semi",
    "join_anti",
    "range_join_events",
    "asof_join_forward_tolerance",
    "approx_sketches",
    "deterministic_sample",
    "fuzzy_brand_pairs",
    # event-time / sampling / text / pipeline stragglers,
    "events_sliding_window",
    "events_resample_ffill",
    "events_rate_anomaly",
    "text_word_freq",
    "text_language_id",
    "text_quality_score",
    "pipeline_contamination_check",
    "pipeline_domain_mix",
    "pipeline_repetition_stats",
    "pipeline_stratified_sample",
    "similarity_quantize_int8",
    "similarity_random_projection",
    "wide_metrics_row_stats",
    "zorder_morton_codes",
    "dedup_one_pass_verdict",
    # datagen + lifecycle/metadata relations,
    "datagen_sequence",
    "datagen_products_deterministic",
    "profile_table",
    "lifecycle_pruned_scan",
    "meta_all_files",
    "meta_history",
    "meta_partitions",
    "meta_refs",
    "meta_snapshot_summary",
    "meta_snapshots",
    # round-10 new operators
    "dedup_span_islands",
    "dedup_span_island_stats",
    "multimodal_feature_simhash_dedup",
    "multimodal_frame_dup_stats",
    "dedup_doc_dup_profile",
    "pipeline_dedup_roi_curve",
    "pipeline_quality_dedup_matrix",
    "similarity_isotropy_audit",
    "similarity_cos_pair_hist",
    "stats_page_trend",
    "customer_hoover_index",
    "multimodal_frame_motion_profile",
    "stats_siegel_tukey",
    "text_duplication_vs_length",
    "events_harmonic_centrality",
    "orders_priority_mix_drift",
    "text_lang_signature_jaccard",
    "similarity_norm_profile",
    "pipeline_source_length_quantiles",
    "lineitem_ship_delay_by_priority",
    "similarity_label_centroid_matrix",
    "text_source_quality_profile",
    "events_peak_to_mean_by_type",
    # round-11 new operators
    "dedup_semdedup_clusters",
    "dedup_semdedup_verdict",
    "dedup_semdedup_tau_sweep",
    "dedup_semdedup_shadow_map",
    "pipeline_span_decontamination",
    "pipeline_decontamination_stats",
    "pipeline_decontamination_by_source",
    "similarity_ivf_nprobe_recall",
    "pipeline_source_mixing_weights",
    "pipeline_dsir_weights",
    "text_unigram_logloss",
    "pipeline_truncation_loss",
    "events_graph_eccentricity",
    "similarity_cluster_outlier_audit",
    "text_readability_profile",
    "pipeline_pii_incidence",
    "text_source_hellinger",
    "text_distinctive_terms",
    "orders_revenue_drawdown",
    "text_char_entropy_profile",
    "text_bigram_logloss",
    "similarity_sq8_recall",
    "dedup_semdedup_incremental",
    "events_markov_attribution",
    # round-12 additions
    "dedup_semdedup_by_lang",
    "dedup_semdedup_lang_cluster_matrix",
    "dedup_semdedup_cross_lang_shadow",
    "similarity_ann_ndcg_eval",
    "text_bm25_ndcg_eval",
    "pipeline_gopher_quality_rules",
    "pipeline_unimax_mixing",
    "similarity_bq_recall",
    "similarity_matryoshka_recall",
    "text_mattr_diversity",
    "dedup_minhash_band_sweep",
    "similarity_rrf_fusion_eval",
    "meta_expire_snapshots_plan",
    "similarity_ivfpq_recall",
    "dedup_tier_overlap_matrix",
    "multimodal_text_embedding_alignment",
    "similarity_compression_frontier",
    "pipeline_source_ablation_matrix",
    "pipeline_quality_ablation_curve",
    "dedup_semdedup_lang_tau_sweep",
    "similarity_bq_rerank_recall",
    # round-13 additions
    "text_subword_fertility",
    "text_tokenizer_vocab_sweep",
    "text_ccnet_perplexity_buckets",
    "meta_expire_retention_sweep",
    "dedup_cross_source_matrix",
    "pipeline_quality_filter_agreement",
    "text_crosslingual_vocab_transfer",
    # round-14 additions
    "text_bpe_merge_table",
    "text_bpe_fertility",
    "text_bpe_merge_utilization",
]

# Number of entries in the pre-r6 headline set (for old-set subtotal
# comparability across rounds; see BENCH_NOTES_r6.md).
OLD_SET = 28

# Session recycling (r11 verdict #1): 346 queries back-to-back in ONE JVM
# session accumulate cache/GC/codegen-cache pressure that late-running
# families absorb — by r11 that produced 8 false >1.5× in-bench movers in
# untouched code and a 24→32 s old_set drift, each needing a manual
# standalone re-pin.  Recycling the SparkSession every RECYCLE_EVERY
# queries resets block-manager/codegen/GC state so in-bench numbers
# converge to standalone pins.  The recycle happens BEFORE a query's cold
# run and is followed by one untimed warmup, so the cold run still absorbs
# per-query codegen and the 3 steady runs never straddle a session
# boundary.  Module caches survive (they hold only scalar model state —
# IVF centroids / PQ codebooks as Python ints, never DataFrames).
RECYCLE_EVERY = 50

#: Drift sentinel (r13 verdict #2): the bench's same-code noise floor on
#: this shared host reached ±4% on old_set — rivaling real round deltas —
#: so every run now times a FIXED calibration query at start, after each
#: session recycle, and at the end.  The readings land in BENCH_FULL
#: (`calibration`), letting the mover report (scripts/bench_movers.py)
#: normalize per-query ratios by measured host speed and tag movers as
#: `code` vs `host` instead of relying on manual re-pin adjudication.
CALIBRATION_QUERY = "q1_pricing_summary"


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")
    spark = get_spark("bench")
    queries = all_queries()

    def warmup() -> None:
        # JVM, codegen, parquet footer caches.
        queries[CALIBRATION_QUERY](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        release_tracked()

    calibration: list[dict] = []

    def calibrate(at: str) -> None:
        # Median of 3 steady runs of the fixed sentinel (warmup already
        # absorbed cold costs for this session).
        runs = []
        for _ in range(3):
            t0 = time.time()
            queries[CALIBRATION_QUERY](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            runs.append(time.time() - t0)
            release_tracked()
        calibration.append({"at": at, "sec": round(statistics.median(runs), 3)})

    warmup()
    calibrate("start")

    cold: dict[str, float] = {}
    timings: dict[str, float] = {}
    for i, name in enumerate(HEADLINE):
        if i and i % RECYCLE_EVERY == 0:
            release_tracked()
            spark.stop()
            spark = get_spark("bench")
            warmup()
            calibrate(f"recycle@{i}")
        t0 = time.time()
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        cold[name] = round(time.time() - t0, 3)
        # Each invocation builds (and persists) its own intermediates, so
        # release between runs: timings are unchanged, but the session
        # doesn't accumulate 4 runs × 77 queries of DISK_ONLY blocks.
        release_tracked()
        steady = []
        for _ in range(3):
            t0 = time.time()
            queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            steady.append(time.time() - t0)
            release_tracked()
        timings[name] = round(statistics.median(steady), 3)

    calibrate("end")
    cal_secs = [c["sec"] for c in calibration]
    summary = {
        "metric": "headline_query_wall_seconds",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "n_queries": len(timings),
        "cold_value": round(sum(cold.values()), 3),
        # pre-r6 28-query subtotal: directly comparable to the
        # "value" field of BENCH_r{1..5}.json
        "old_set_value": round(sum(timings[n] for n in HEADLINE[:OLD_SET]), 3),
        # Host-speed sentinel: median + spread (max/min) of the fixed
        # calibration query across the run; per-reading detail is in
        # BENCH_FULL's `calibration` list.
        "calibration_median": round(statistics.median(cal_secs), 3),
        "calibration_spread": round(max(cal_secs) / min(cal_secs), 3),
        "sf": sf,
    }
    # Per-query detail goes to a committed file, NOT stdout: the r6 driver
    # capture truncated the 77-query single-line JSON from the head and
    # recorded "parsed": null (r6 verdict #3).  The final stdout line must
    # stay small enough to always survive tail-capture.
    full_path = os.environ.get("SPARK_GRAFT_BENCH_FULL", "BENCH_FULL.json")
    with open(full_path, "w") as f:
        json.dump(
            {
                **summary,
                "queries": timings,
                "cold_queries": cold,
                "calibration": calibration,
            },
            f,
            indent=1,
        )
        f.write("\n")
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
