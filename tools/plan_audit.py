"""Generate PLANS.md — a physical-plan audit of the `AUDITED` registry
queries: shuffle count, broadcast joins, nested-loop joins, Python
boundaries, and scan pushdown, read from the live Catalyst plans.

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from recommendation_system_big_data_spark.plans import explain  # noqa: E402
from recommendation_system_big_data_spark.registry import registry  # noqa: E402
from recommendation_system_big_data_spark.session import get_spark  # noqa: E402

HEADER = """# PLANS — physical-plan audit of the scale-bearing registry queries

Generated by `tools/plan_audit.py` from the live Catalyst plans at
{sf_dir}. Columns: exchanges (shuffles) in the static plan, broadcast
hash joins, nested-loop/cartesian joins, Arrow/Python boundary
operators (expected only in the priced Python-path queries), and
whether the scan carries pushed filters.

Every non-zero nested-loop entry is a deliberate broadcast of a ≤1-row
or constant-size side — the corpus-total scalar (text_tfidf), the fixed
query set / query vector (sim_topk_bruteforce, knn_classify), the
global-average scalar (q22), the min/max bounds row (ts_gapfill), the
order-count scalar (basket_rules_lift), and the 9-element decile boundary
row (feature_binning_equidepth), and the fixed 200-row query set and
128-row codebook table of the PQ-ADC search (sim_topk_pq_adc and
sim_topk_ivfpq, which adds the ≤√n-row literal centroid table), and
the 1-row normalization scalars of the temperature mix
(pipeline_temperature_mix), and the 1-row corpus-total scalar the
CCNet routing table inherits from the surprisal plan
(text_ccnet_quality_buckets), and the fixed 20-row query set of the
truncated-prefix two-stage retrieval (sim_topk_truncated_rerank, the
bruteforce class) and the 1-row bucket-total scalar of the DSIR model
(text_dsir_importance), and the fixed 20-row anchor set of the triplet
miner (embedding_hard_negative_mining, the bruteforce class), and the
constant PERM_B-row permutation spine + 1-row totals of the
permutation test (stat_permutation_test), and the 1-row df-threshold
scalar of the rare-token redaction (privacy_rare_token_redaction), and
the r12 additions' constant sides — the 1-row totals / k-row offset
windows of the prefix-sum kernels (stat_kruskal_wallis,
ml_eval_qini_auuc, ml_conformal_interval — their elevated shuffle
counts are ranges.running_sums' internal repartitionByRange +
checkpoint stages, O(n_parts)-row sequential work by construction),
the 9-row neighbor-offset spine and 1-row grid stats of the Gi*
hotspot scan (geo_hotspot_gi_star), and the 1-row midpoint/threshold
scalars of the like-for-like and fairness folds, and the r13-audited
tail of the r12 family — the 1-row max/totals scalars of
ml_eval_log_loss / stat_capture_recapture / ml_eval_mcc, the constant
frequency spine of ts_periodogram_dft, and ts_interrupted_series'
1-row min/cut/segment-statistic scalars (its 12 shuffles: ONE
data-sized fold to the calendar-bounded day grain, then exchanges over
that ≤n_days grain and the 1-to-2-row scalar folds — nothing
data-sized repeats) —
i.e. BroadcastNestedLoopJoin with a side that cannot grow with data.
No data×data nested loop appears anywhere.

| query | shuffles | bcast joins | nested-loop | python ops | pushed filters |
|---|---|---|---|---|---|
"""


#: The audited queries, each once. First the scale-bearing pipelines,
#: joins, aggregates, window/top-k, text, dedup and similarity paths ...
AUDITED = [
    "flagship_top_customers",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "topk_per_user",
    "tumbling_window_agg",
    "session_window_agg",
    "text_tfidf",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "sim_topk_bruteforce",
    "agg_summary",
    "agg_summary_approx",
    "dedup_exact",
    "window_running_sum",
    "json_extract",
    "q18_large_volume_customers",
    "sim_topk_lsh",
    "dedup_incremental_exact",
    "grouped_pandas_slope",
    "pipeline_training_mix",
    "q7_nation_volume",
    "q8_market_share",
    "q13_customer_distribution",
    "q22_sales_opportunity",
    "text_gopher_quality",
    "contamination_ngram_check",
    "dedup_paragraph_exact",
    "reshape_pivot",
    "rollup_incremental_agg",
    "knn_classify",
    "agg_cube_revenue",
    "join_range_bucketed",
    "ts_gapfill_ffill",
    "max_concurrent_intervals",
    "fuzzy_join_levenshtein",
    "embedding_standardize",
    "graph_triangle_count",
    "basket_rules_lift",
    "window_rolling_zscore",
    "ts_lag_features",
    "diff_snapshots",
    "feature_binning_equidepth",
    "sql_recursive_reachability",
    "ml_eval_auc_roc",
    "ts_rolling_active_users",
    "join_bloom_prefilter",
    "agg_weighted_percentile",
    "ts_max_drawdown",
    "pipeline_rag_prep",
    "ml_naive_bayes_langid",
    "stat_bootstrap_ci",
    "ts_interval_union_coverage",
    "sim_topk_pq_adc",
    "dedup_incremental_near_minhash",
    "dedup_substring_span",
    "pipeline_sequence_packing",
    "geo_proximity_join_blocked",
    "sim_topk_ivfpq",
    "text_bm25_retrieval",
    "pipeline_temperature_mix",
    "text_bpe_pair_stats",
    "dedup_semantic_semdedup",
    "dedup_cluster_representatives",
    "text_ccnet_quality_buckets",
    "text_repetition_signals",
    "text_dsir_importance",
    "sim_topk_truncated_rerank",
    "pipeline_dedup_cascade",
    "ml_eval_pr_auc",
    "embedding_hard_negative_mining",
    "ts_holt_winters_seasonal",
    "stat_permutation_test",
    "privacy_rare_token_redaction",
    "dedup_prefix_filter_join",
    "ml_psm_att",
    "text_mattr_lexical_diversity",
    "text_heaps_vocab_growth",
    # ... then the structurally notable later additions: prefix-sum
    # kernels, bounded pairwise joins, the state-reader round-trip.
    "stat_kruskal_wallis",
    "ml_eval_qini_auuc",
    "ml_conformal_interval",
    "window_hampel_filter",
    "agg_theil_sen_slope",
    "olap_bridge_allocation",
    "ml_eval_fairness_gaps",
    "scd2_late_arriving",
    "geo_hotspot_gi_star",
    "olap_price_elasticity",
    "olap_like_for_like",
    "ts_adf_stationarity",
    "sql_scalar_udf",
    # r13 (VERDICT r12 #6): the remaining not-yet-audited r12 additions —
    # the per-level recursive BOM join, the codec roundtrip sink, the state
    # round-trip, the segmented ITS fit, and the rest of the stats/ML-eval
    # family.
    "sql_recursive_bom_rollup",
    "sink_compressed_roundtrip",
    "stream_state_store_read",
    "ts_interrupted_series",
    "funnel_window_gap",
    "graph_jaccard_link_prediction",
    "text_rake_keywords",
    "ml_eval_log_loss",
    "stat_jarque_bera",
    "ts_periodogram_dft",
    "privacy_dp_count_laplace",
    "stat_cochran_armitage",
    "stat_capture_recapture",
    "stat_srm_check",
    "stat_tost_equivalence",
    "ml_eval_mcc",
    "stat_holm_bonferroni",
    "stat_overdispersion_index",
    # r13 session additions (inference-completeness family): the
    # day-grain lag join (Ljung-Box), the cohort triangle's two-fold +
    # window shape, and the runs test's LAG pass.
    "stat_ljung_box",
    "olap_cohort_ltv_triangle",
    "stat_runs_test",
    "stat_benjamini_hochberg",
    "stat_two_proportion_z",
    "ts_hurst_exponent",
    "privacy_dp_quantile",
    "graph_hits",
    # r15 session additions (all 18 new operators)
    "stat_welch_anova",
    "stat_mood_median_test",
    "stat_icc_oneway",
    "stat_dunn_posthoc",
    "stat_jonckheere_terpstra",
    "ml_eval_ks_separation",
    "ml_mutual_information",
    "ml_eval_rank_biased_overlap",
    "ml_adaboost_stumps",
    "ts_kpss_stationarity",
    "ts_theta_forecast",
    "ts_arch_lm_test",
    "olap_market_share_hhi",
    "embedding_isotropy_score",
    "geo_dbscan_grid",
    "attribution_markov_removal",
    "text_textrank_keywords",
    "ml_gmm_em_1d",
    "graph_betweenness_sampled",
    "stat_cramer_von_mises_2samp",
    # r15 session-B additions (post-closing-battery continuation)
    "stat_cliffs_delta",
    "stat_dagostino_k2",
    "stat_ansari_bradley",
    "stat_logrank_test",
    "survival_nelson_aalen",
    "stat_mantel_haenszel",
    "stat_cochran_q",
    "ts_pacf_yule_walker",
    "ts_variance_ratio_test",
    "stat_tukey_hsd",
    "ts_durbin_watson",
    "stat_fligner_killeen",
    "text_lm_perplexity",
    "stat_wilcoxon_signed_rank",
    "stat_sign_test",
    "stat_lilliefors_exponential",
    "stat_ratio_metric_delta_ci",
    "ts_breusch_pagan",
    "ts_newey_west_slope",
    "stat_nemenyi_posthoc",
    "ml_feature_vif",
    "ml_eval_auc_delong_ci",
    "profile_fd_audit",
    "stat_partial_correlation",
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="plan-audit", master="local[4]", shuffle_partitions=8)
    defs = registry()
    rows = []
    for name in AUDITED:
        df = defs[name].fn(spark, sf_dir)
        plan = explain.physical_plan(df)
        shuffles = explain.num_shuffles(df)
        bcast = len(set(re.findall(r"\((\d+)\) BroadcastHashJoin", plan)))
        nlj = len(
            set(
                re.findall(
                    r"\((\d+)\) (?:BroadcastNestedLoopJoin|CartesianProduct)", plan
                )
            )
        )
        py = len(
            set(
                re.findall(
                    r"\((\d+)\) (?:ArrowEvalPython|FlatMapGroupsInPandas|"
                    r"MapInPandas|FlatMapCoGroupsInPandas|AggregateInPandas|"
                    r"BatchEvalPython|PythonMapInArrow)",
                    plan,
                )
            )
        )
        pushed = "yes" if re.search(r"PushedFilters: \[[^\]]", plan) else "—"
        rows.append(
            f"| `{name}` | {shuffles} | {bcast} | {nlj} | {py} | {pushed} |"
        )
        print("audited", name)
    out = HEADER.format(sf_dir=sf_dir) + "\n".join(rows) + "\n"
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLANS.md"), "w") as f:
        f.write(out)
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
