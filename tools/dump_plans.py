"""Dump `.explain("formatted")` of catalog queries.

An inspectable artifact of the physical plans: pushed filters, pruned
read schemas, join strategies, exchange placement — reviewable without
running Spark.  Two modes:

    python tools/dump_plans.py [sf_dir]
        every bench-tagged query (plus the session additions) → EXPLAINS.md
    python tools/dump_plans.py --out plans/<tag> --suffix before|after [--sf DIR] query...
        one file per query, <out>/<query>_<suffix>.txt — a change's
        before/after plan evidence (run once on each tree)

The package is imported from the tree this script lives in.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from __spark_entry__ import SF0001  # noqa: E402
from event_streaming_spark.plans import REGISTRY  # noqa: E402
from event_streaming_spark.session import get_spark  # noqa: E402

DEFAULT_SF = os.path.join(os.path.dirname(SF0001), "sf0.1")


def dump_subset(out_dir: str, suffix: str, names: list[str], sf: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name=f"dump-plans-{suffix}")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        df = REGISTRY[name].fn(spark, sf)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {name} — explain('formatted'), {suffix} (<sf> = the {os.path.basename(sf)} tables)\n\n")
            fh.write(buf.getvalue().replace(os.path.abspath(sf), "<sf>"))
        print("wrote", path, file=sys.stderr)
    spark.stop()


def main() -> None:
    if "--out" in sys.argv:
        ap = argparse.ArgumentParser()
        ap.add_argument("--out", required=True)
        ap.add_argument("--suffix", required=True)
        ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF))
        ap.add_argument("queries", nargs="+")
        a = ap.parse_args()
        dump_subset(a.out, a.suffix, a.queries, a.sf)
        return
    sf = sys.argv[1] if len(sys.argv) > 1 else DEFAULT_SF
    spark = get_spark(app_name="dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    out = [
        "# EXPLAINS — physical plans of the headline queries",
        "",
        f"Generated by `python tools/dump_plans.py {sf}` (pre-execution, AQE",
        "re-optimizes at runtime).  Things to check per plan: PushedFilters,",
        "ReadSchema (column pruning), broadcast vs sort-merge joins, where",
        "the Exchanges are.",
        "",
    ]
    for name, q in REGISTRY.items():
        if not q.bench:
            continue
        df = q.fn(spark, sf)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        out.append(f"## {name}\n\n```\n{buf.getvalue().strip()}\n```\n")

    # ---- non-bench session additions (VERDICT r6 #3) -----------------------
    # Queries that LOCALIZE their result (streaming drains, tempdir-backed
    # index searches) deposit their scale-relevant INTERNAL plans via
    # catalog.capture_plan; pure-plan queries dump their result plan.
    out.append(
        "# Session additions (non-bench)\n\n"
        "For queries that localize their result (streaming drains, the\n"
        "persisted-IVF search, format parity), the sections below are the\n"
        "INTERNAL plans captured at the scale-relevant stage via\n"
        "`catalog.capture_plan` — the returned DataFrame is just the\n"
        "collected rows and would show nothing.\n"
    )
    extras = [
        "sample_importance_dsir",
        "search_hybrid_rrf_fusion",
        "docs_training_batches_shuffle",
        "emb_ivf_persisted_index_search",
        "events_multi_format_source_parity",
        "docs_cluster_safe_split",
        "corpus_dedup_yield_report",
        "streaming_minhash_index_restart_drain",
        "streaming_semantic_index_drain",
        "streaming_semantic_index_restart_drain",
        # r7 session additions
        "streaming_versioned_ingest_exactly_once",
        "corpus_curation_lineage",
        "text_heavy_hitters_mg_rescan",
        "streaming_ingest_dead_letter_queue",
        "versioned_cdc_ivm_join_rollup",
        "streaming_late_data_reconciliation",
        "docs_phrase_search_postings",
        "streaming_cdc_ivm_continuous",
        "events_attribution_last_touch",
        "parts_basket_affinity",
        # r8 session additions
        "streaming_late_data_recon_restart_drain",
        "streaming_ingest_dlq_restart_drain",
        "streaming_custom_state_sessionizer",
        "versioned_branch_write_isolation",
        "join_bucketed_orders_lineitem",
        "orders_open_interval_concurrency",
        "events_cumulative_distinct_users",
        "events_markov_type_transitions",
        "events_rfm_segments",
        "events_trailing_7d_distinct_users",
        "events_funnel_time_to_convert",
        "events_cusum_changepoint",
        "emb_int8_scalar_quant_recall",
        "text_vocab_oov_rate",
        "docs_containment_prefix_join",
        "streaming_branch_staged_ingest",
        "sketch_hll_trailing_7d_users",
        "emb_mmr_diversified_topk",
        "streaming_hll_distinct_drain",
        "emb_knn_leave_one_out_accuracy",
        "dedup_cluster_incremental_maintenance",
        "events_ewma_daily",
        "orders_backlog_aging_buckets",
        "graph_label_propagation_communities",
        "versioned_schema_evolution_read",
        "dedup_minhash_estimator_calibration",
        "events_user_activity_bitmap",
        "events_attribution_position_based",
        "events_acf_daily_lags",
        "events_type_affinity_jaccard",
        "docs_kanon_quasi_identifier_risk",
        "streaming_heavy_hitters_drain",
        "streaming_heavy_hitters_restart_drain",
        "events_top_session_paths",
        "docs_lang_id_confusion_matrix",
        "docs_winnowing_fingerprint_pairs",
        "events_asof_nearest_error_context",
        "events_holt_linear_forecast",
        "events_dow_adjusted_anomaly",
        "events_bounce_rate_daily",
        "orders_fulfillment_sla_percentiles",
        "events_user_engagement_gini",
        "events_type_mix_drift_daily",
        # r8 tranches 13/14 + the full-outer streaming join
        "events_stl_decompose_daily",
        "events_wilson_ci_purchase_share",
        "orders_cohort_ltv_matrix",
        "docs_naive_bayes_lang_holdout",
        "text_textrank_keyphrases",
        "streaming_full_outer_interval_join",
        "multimodal_phash_band_clusters",
        "events_survival_km_purchase",
        "events_diff_in_diff_signup",
        "events_mde_planner_by_type",
        "docs_split_leakage_audit",
        # r9 (ADVICE r8): these two localize their result and capture the
        # scale-relevant internal plan (transition build / replicate agg) —
        # without them EXPLAINS.md records only a post-collect Scan.
        "events_attribution_markov_removal",
        "events_bootstrap_ci_value_mean",
        # r9 session additions (the two heaviest are bench-tagged and
        # covered by the bench loop above; the rest dump here).
        "events_burst_detection_trailing",
        "events_seasonal_naive_backtest",
        "docs_gopher_quality_flags",
        "docs_temperature_sampling_weights",
        "docs_ldiversity_sensitive_audit",
        "text_zipf_rank_slope_by_source",
        "emb_binary_sign_hamming_recall",
        "agg_approx_distinct_sketch",
        "text_lm_perplexity_vs_reference",
        "docs_minhash_band_tuning_curve",
        "events_user_churn_features",
        "events_power_law_fit_user_activity",
        "docs_dedup_survivorship_report",
        "events_new_vs_returning_daily",
        "events_interarrival_cv_profile",
        "events_peak_hour_profile",
        # r10 session additions (docs_exact_substring_dedup_spans and
        # emb_ivf_recall_vs_nprobe are bench-tagged — bench loop above).
        "text_ngram_novelty_by_decile",
        "emb_label_centroid_outliers",
        "events_dau_wau_mau_stickiness",
        "events_session_gap_sensitivity",
        "text_token_pmi_top_pairs",
        "docs_quality_signal_correlation",
        "docs_cross_source_contamination_matrix",
        "docs_near_dup_threshold_sensitivity",
        "text_vocabulary_profile_by_source",
        "docs_perplexity_filter_curve",
        "emb_knn_hubness_audit",
        "text_js_divergence_between_sources",
        "events_zero_activity_outage_runs",
        "emb_pq_distortion_vs_m",
        "events_srm_check_by_type",
        # r11 session additions
        "docs_eval_decontamination_manifest",
        "docs_ccnet_perplexity_buckets",
        "docs_quality_filter_funnel",
        "events_cuped_variance_reduction",
        "events_value_psi_daily",
        "emb_ood_mahalanobis_diag",
        "text_kneser_ney_surprisal_by_source",
        "multimodal_phash_hamming_threshold_curve",
        "streaming_psi_drift_drain",
        "text_term_burstiness_topk",
        "events_attribution_shapley",
        "events_msprt_always_valid",
        "emb_knn_graph_reciprocity",
        "orders_market_basket_lift",
        "multimodal_video_scene_segments",
        "streaming_msprt_drain",
        "docs_truncation_waste_curve",
        "multimodal_audio_fingerprint_match",
        "docs_doremi_excess_loss_weights",
        "orders_supplier_hhi_by_brand",
        "events_markov_entropy_rate",
    ]
    from event_streaming_spark.plans import catalog as _catalog

    captured_all: dict[str, str] = {}
    for name in extras:
        q = REGISTRY[name]
        _catalog.PLAN_SINK = {}
        try:
            df = q.fn(spark, sf)
            sink = dict(_catalog.PLAN_SINK)
        finally:
            _catalog.PLAN_SINK = None
        if sink:
            for label, plan in sorted(sink.items()):
                out.append(f"## {label}\n\n```\n{plan}\n```\n")
                captured_all[label] = plan
        else:
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue().strip()
            out.append(f"## {name}\n\n```\n{plan}\n```\n")
            captured_all[name] = plan

    # spot-asserts (VERDICT r6 #3): the two plan properties the dump must
    # witness — DSIR's feature-weight broadcast and the persisted-IVF
    # probe's partition pruning.
    if "Broadcast" not in captured_all["sample_importance_dsir"]:  # -O-safe
        raise AssertionError("DSIR plan lost its broadcast")
    ivf = captured_all["emb_ivf_persisted_index_search/search_leg"]
    if "PartitionFilters" not in ivf or "cell" not in ivf:  # -O-safe
        raise AssertionError("persisted-IVF search leg lost PartitionFilters")

    with open(os.path.join(REPO, "EXPLAINS.md"), "w") as fh:
        fh.write("\n".join(out))
    print(f"wrote EXPLAINS.md ({len(out)} sections); spot-asserts passed")


if __name__ == "__main__":
    main()
