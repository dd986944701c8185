"""Generate PLANS.md — formatted physical plans of the headline queries,
so plan quality (pushdown, pruning, broadcast choices, exchange counts)
is reviewable without running Spark.

Usage: python tools/dump_plans.py [sf_dir]
       python tools/dump_plans.py --unreleased out_dir suffix q1 [q2 ...]

``--unreleased`` writes out_dir/<q>_<suffix>.txt for the named queries
with every checkpoint-and-free operator re-wrapped, INSIDE THIS TOOL
ONLY, to hand its caches over the way a ``release=False`` operator does:
the release checkpoint would otherwise mask the plan as a scan of the
checkpointed result. The SF directory comes from SPARK_GRAFT_SF_DIR.
Both paths strip expression and plan ids (``normalize_plan``), so two
dumps — say of a parent commit and of a change that must keep every
plan — compare with ``diff -r``.
"""

from __future__ import annotations

import importlib
import os
import pkgutil
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod
from bench import HEADLINE
from breweries_etl_spark.session import get_spark

INTERESTING = [
    "tpch_q1", "tpch_q3", "tpch_q5", "tpch_q10", "gold_by_type_location",
    "topk_orders_per_customer", "asof_purchase_view", "merge_upsert",
    "events_session_window", "dedup_exact", "similarity_topk",
    # round-2 additions
    "tpch_q21_waiting_supplier", "tpch_q8_market_share",
    "tpch_q22_dormant_customers", "training_data_prep",
    "range_join_error_window", "range_join_session_overlap",
    "funnel_conversion", "user_value_trend",
    # round-3 additions: pure-scan classifier (no exchange expected),
    # formerly rows-only ops now oracled
    "classifier_quality_score", "similarity_lsh_topk",
    # NOTE: iterative/checkpointing queries (graph_*, dedup_clusters,
    # entity_resolution) are excluded — their dumped plan is just the
    # post-checkpoint RDD scan, not the interesting pre-materialization
    # plan.
    "contamination_check", "scd2_user_state",
    "interval_coverage", "feature_hash_counts",
    # round-3 additions
    "gopher_quality_flags", "corpus_dup_ngrams", "cluster_assign",
    # round-4 additions: the salted join should show the salted
    # exchange; the bigram LM one equi-join + three hash aggregates;
    # the incremental merge a keyspace-sized full-outer join
    "bigram_lm_scores", "gold_incremental_merge", "semantic_dedup",
    "salted_skew_join",
    # round-3 continuation: A-ES weighted sampling should show ZERO
    # exchanges (TakeOrderedAndProject); paragraph dedup exactly the
    # content-rank + rebuild hash exchanges; decay one window exchange
    "weighted_sample_docs", "paragraph_dedup", "decayed_user_value",
    "top_event_paths", "rfm_segments", "ngram_diversity",
    "winnowing_fingerprints",
    # collocation_pmi moved to the checkpointing-excluded set in r5
    # (bounded count caches released via eager checkpoint)
    # round-3 continuation 2: the bloom probe should show the
    # mapInPandas filter feeding a broadcast semi-join; CMS only
    # broadcast cell joins; rolling/downsample exactly one hash
    # exchange; snapshot diff digest-only projections below the join;
    # the contract gate a union of count aggregates
    "bloom_prefilter_join", "cms_heavy_hitters", "dedup_edit_distance",
    "dedup_containment", "winsorized_price_stats", "robust_scale_orders",
    "rolling_hour_user_value", "downsample_events", "cdc_apply_customers",
    "snapshot_diff_orders", "ab_test_value", "conversion_latency",
    "event_cooccurrence", "contract_check_orders",
    # r04 wave: histogram/profile are single-aggregate scans; the
    # skyline shows the bucket prefilter feeding a tiny global window;
    # streaks/anomaly one hash exchange + one window exchange; the
    # maintenance query two broadcast joins + a keyspace full-outer;
    # mode shows two hash aggregates and NO window; bpe a distinct-pair
    # shuffle; image stats a single mapInPandas chain (no exchange)
    "doc_length_histogram", "char_class_profile", "seasonal_hour_profile",
    "rolling_count_anomaly", "mode_event_type", "weighted_median_price",
    "skyline_price_quantity", "time_weighted_value", "user_activity_streaks",
    "cusum_changepoint_users", "abc_parts_revenue", "benford_orders",
    "fd_audit_orders", "incremental_join_maintenance", "bpe_pair_counts",
    "hourly_coverage_gaps", "multimodal_decode_stats",
    "label_centroid_similarity", "ols_price_on_quantity",
    "session_bounce_rate", "reservoir_sample_docs",
    # r05 wave: calibration both-scores-one-scan single aggregate;
    # stump one scan + bounded window; ols2 one ten-moment aggregate;
    # ewma ONE exchange (groupBy reuses the window partitioning).
    # The hypotests/kappa/KM queries checkpoint eagerly (cache
    # release), so their dumped plan is the post-checkpoint scan —
    # excluded like the other checkpointing ops; their shapes are
    # pinned by tests/test_plan_budgets.py instead.
    "score_calibration_bins", "decision_stump_price_split",
    "ols2_price_qty_discount", "ewma_user_value",
    # r06 wave: anova/welch/partial/ridge are one-moment-pass
    # aggregates; brown_forsythe a bounded median broadcast + one
    # moment pass; referential audit a union of anti-join count
    # aggregates; vocab stats one unigram aggregate. Spearman/kruskal/
    # ACF/Theil-Sen/Mann-Kendall/cramers_v and the two graph queries
    # checkpoint eagerly (cache release) — shapes pinned by
    # plan-budget tests instead.
    "anova_f_price_flag", "welch_t_price_returnflag",
    "partial_corr_price_qty", "ridge2_price_qty_discount",
    "brown_forsythe_price_flag", "referential_orphans",
    "hapax_vocab_stats",
    # r06 waves 5-7: single-pass conditional aggregates (mcnemar,
    # cochran, cohens_d, odds_ratio, jarque_bera) and the two-scan
    # regression diagnostics (breusch_pagan, cooks top-k — expect NO
    # global sort, a TakeOrderedAndProject at the top). The
    # prefix-count statistics (roc_auc, cvm, AD, cliffs, wilcoxon,
    # kendall, moods) checkpoint eagerly — shapes pinned by
    # plan-budget tests instead.
    "mcnemar_doc_filters", "cohens_d_price_returnflag",
    "cochran_q_doc_filters", "odds_ratio_doc_flags",
    "jarque_bera_price", "breusch_pagan_price_qty",
    "cooks_distance_price_qty",
    # r07 wave: bartlett/friedman/g-test/brier/ece single-moment-pass
    # aggregates; modularity/rich-club/knn degree-decoration SHUFFLE
    # joins (no node-map broadcast); bootstrap one pre-hashed explode
    # + two bounded aggregates; readability/pii/token-budget pure
    # scans; seasonal/xcorr/binseg/theil-u calendar-grid relations.
    # The prefix-count members (ansari, pr_curve, AP, yuen) and
    # persisted-gram source_ngram_cosine checkpoint eagerly — shapes
    # pinned by plan-budget tests instead.
    "bartlett_price_flag", "friedman_order_status",
    "g_test_status_flag", "brier_decomposition_docs", "ece_docs",
    "graph_modularity_nation", "graph_rich_club",
    "graph_knn_degree_curve", "bootstrap_mean_orders",
    "readability_by_source", "pii_density_by_source",
    "token_budget_mix_docs", "seasonal_weekday_value",
    "lagged_xcorr_daily_value", "changepoint_binseg_value",
    "theil_u_daily_value", "monotonicity_user_value",
    "embedding_pair_cosine_hist", "ordinal_assoc_qty_discount",
    # r8 wave: single-scan moment/count statistics (MH, trend, CCC,
    # cohens_h, deviance, variance-homogeneity) should show 1-2
    # aggregates over one pruned scan; hellinger one percentile pass +
    # one binned pass; digit laws one shuffle; the calendar-grid ops
    # (cox-stuart, periodogram, hurst, page) bounded day relations;
    # vocab ops one term shuffle (jaccard's self-join term-partitioned,
    # never broadcast); centralization one degree shuffle + bounded
    # prefix counts. Dunn/jonckheere/hodges-lehmann ride the
    # prefix-count/persisted machinery -> plan-budget tests.
    "mantel_haenszel_status_price", "cochran_armitage_priority",
    "lin_ccc_price_qty", "cohens_h_status_price", "deviance_price_flag",
    "variance_homogeneity_price_flag", "robust_shape_price",
    "hellinger_price_flag", "benford_second_digit_orders",
    "last_digit_uniformity_price", "cox_stuart_daily_value",
    "periodogram_daily_value", "hurst_daily_value",
    "burstiness_user_events", "page_trend_weekday", "ks_doclen_lang",
    "poisson_rate_ratio_events", "uncertainty_event_dow",
    "spiegelhalter_docs", "yules_k_docs", "bigram_cond_entropy_docs",
    "lexical_diversity_source", "tv_distance_lang_source",
    "heaps_law_docs", "source_vocab_jaccard_docs",
    "graph_degree_centralization",
    # r8 wave 3: bland-altman two pruned scans + 1-row constants;
    # pinball one grouped percentile + one loss scan; entropy-trend and
    # dim-profile one bounded shuffle each; lang eval one contingency.
    # ad_ksample rides the persisted prefix machinery (plan-budget).
    "bland_altman_doclen", "pinball_loss_price",
    "type_mix_entropy_trend", "embedding_dim_profile",
    "lang_pred_quality",
    # r8 wave 4
    "energy_distance_qty_flag", "neyman_allocation_price",
    "evt_block_maxima_daily", "mase_daily_value",
    "split_gain_priority_price", "hill_tail_price",
    "ranking_stability_nations",
    # r9 wave: single-aggregate consistency/inequality/contingency
    # stats, bounded day-grid turning points, one-vocab-shuffle
    # richness, sampled distinct estimation, bounded rank windows.
    # brunner_munzel/hoeffding/mcc/burrows/rbo/sample+spectral entropy
    # persist their bounded relations eagerly -> plan-budget tests.
    "cronbach_alpha_lineitem", "theil_l_customer_revenue",
    "vocab_richness_docs", "turning_points_daily_value",
    "kendalls_w_nations", "capture_recapture_docs",
    "covariate_balance_lineitem", "token_fertility_lang",
    "bernstein_ci_order_price", "dispersion_daily_events",
    "ad_ksample_standardized", "cuzick_trend_qty_flag",
    "gk_lambda_status_priority", "max_drawdown_daily_value",
    "youden_j_order_status", "bws_test_price_status",
    "mardia_kurtosis_price_qty", "term_dispersion_dp_docs",
    "lexical_constants_docs", "kpss_daily_value",
    "rayleigh_hour_events", "mood_dispersion_price_status",
    "join_key_discovery", "pacf_daily_value",
    "seasonal_strength_daily", "welch_anova_price_flag",
    "van_der_waerden_price_flag", "fligner_killeen_price_flag",
    "cucconi_price_status", "bh_fdr_daily_events",
    "bartels_rank_daily_value", "difference_sign_daily_value",
    "seasonal_mann_kendall_daily", "chatterjee_xi_daily",
    "wilson_ci_priority", "jackknife_ratio_nation",
    "logrank_retention_cohorts",
    # round-10 wave 18
    "lepage_price_flag", "pettitt_daily_value",
    "foster_stuart_daily_value",
    # round-10 wave 19
    "fleiss_kappa_docs", "dagostino_k2_price",
    "permutation_entropy_daily",
    # round-10 wave 20
    "variance_ratio_daily", "buishand_range_daily",
    "diversity_sources_docs",
    # round-11 wave 21
    "generalized_esd_orders", "hill_diversity_docs",
    "quade_nation_priority", "snht_daily_value",
    "dcor_daily_value_volume",
    # round-12 wave 22
    "siegel_tukey_price_flag", "conover_sqranks_price_flag",
    "watson_u2_minute_events", "epps_pulley_daily_value",
    "aligned_ranks_nation_priority",
]


def formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def normalize_plan(plan: str) -> str:
    """Strip the volatile expression ids, plan ids and lambda-variable
    counters, so two dumps of the same plan compare equal with
    ``diff``."""
    plan = re.sub(r"#\d+L?", "#x", plan)
    plan = re.sub(r"\[plan_id=\d+\]", "", plan)
    # PySpark numbers higher-order-function variables per process
    plan = re.sub(r"(lambda \w+?)_\d+\b", r"\1_n", plan)
    # literal control chars (e.g. the \x00 null-tag sentinel in
    # fd_audit's digest) would make the artifact a binary file
    return re.sub(
        r"[\x00-\x08\x0b-\x1f]",
        lambda m: f"\\x{ord(m.group(0)):02x}",
        plan,
    )


def dump_unreleased(out_dir: str, suffix: str, names: list[str]) -> None:
    import breweries_etl_spark
    from breweries_etl_spark.functions import lifecycle

    # every module up front: queries import some operators at call time
    mods = [entrymod] + [
        importlib.import_module(m.name)
        for m in pkgutil.walk_packages(
            breweries_etl_spark.__path__, "breweries_etl_spark."
        )
    ]
    # every @lifecycle.operator wrapper shares one code object
    wrapper = lifecycle.operator(lambda: None).__code__
    for mod in mods:
        for name, fn in list(vars(mod).items()):
            if getattr(fn, "__code__", None) is wrapper:
                setattr(mod, name, lifecycle.operator(fn.__wrapped__, release=False))
    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    spark = get_spark("dump_plan")
    qs = entrymod.queries()
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(normalize_plan(formatted_plan(qs[name](spark, sf_dir))))
        print(f"wrote {path}")


def main() -> None:
    if sys.argv[1:2] == ["--unreleased"]:
        out_dir, suffix, *names = sys.argv[2:]
        dump_unreleased(out_dir, suffix, names)
        return
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("plan_dump")
    qs = entrymod.queries()
    out = [
        "# PLANS — physical plans of representative queries",
        "",
        f"Generated by `tools/dump_plans.py` at `{sf_dir}`. Things to check:",
        "`PushedFilters`/`ReadSchema` on scans (pushdown + pruning),",
        "`BroadcastHashJoin` on dimension joins, exchange counts, and",
        "`WholeStageCodegen` spans.",
        "",
    ]
    for name in INTERESTING:
        if name not in qs:
            continue
        plan = normalize_plan(formatted_plan(qs[name](spark, sf_dir)))
        out.append(f"## {name}\n\n```\n{plan.strip()}\n```\n")
    with open(os.path.join(REPO, "PLANS.md"), "w", encoding="utf-8") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(INTERESTING)} plans)")


if __name__ == "__main__":
    main()
