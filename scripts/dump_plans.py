"""Dump formatted physical plans of flagship queries to .tmp/PLANS.md
(gitignored; regenerate instead of committing) — the evidence for the
scale claims in SCALE.md."""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, ".")

from realtime_analytics_pipeline_spark import registry  # noqa: E402
from realtime_analytics_pipeline_spark.session import get_spark  # noqa: E402

OUT = ".tmp/PLANS.md"

FLAGSHIPS = [
    # fifth continuation
    "pyds_feed_scan",
    "orders_monthly_spine_recursive",
    "events_props_variant",
    "sessions_udtf",
    "orders_lateral_top3",
    "text_repetition_metrics",
    "emb_truncated_recall",
    "orders_holt_forecast",
    "users_activity_similarity",
    "ts_dtw_pairs",
    "orders_snapshot_diff",
    "tpch_q2_min_cost_supplier",
    "tpch_q21_sole_blamed_supplier",
    "value_p95_sketch_rollup_1h",
    "orders_rolling_median_7d",
    "event_metrics_1m",
    "session_metrics",
    "session_metrics_bucketed",  # round-9 two-phase skew-resilient twin
    "tpch_q3_shipping_priority",
    "tpch_q5_regional_revenue",
    "tpch_q8_market_share",
    "tpch_q9_product_profit",
    "tpch_q12_shipmode_priority",
    "tpch_q17_small_quantity",
    "asof_purchase_attribution",
    "dedup_minhash_lsh_3gram",
    "sim_cosine_topk",
    "sample_docs_stratified",
    "pack_token_budget",
    "events_daily_gapfill_ma7",
    "tpch_q13_order_distribution",
    "tpch_q18_large_volume",
    "tpch_q22_idle_customers",
    "text_gopher_flags",
    "emb_quantize_int8",
    "decontaminate_eval_overlap",
    "text_pii_redaction",
    "text_tfidf_top_terms",
    "dedup_semantic_clustered",
    "events_cohort_retention",
    "events_value_mad_outliers",
    "text_dup_ngram_fraction",
    "text_unigram_logprob",
    "text_normalize",
    "events_distinct_users_bitmap",
    "events_decayed_engagement",
    "events_rate_limited",
    "sessions_max_concurrency_daily",
    "basket_rules_lift",
    "attribution_linear_credit",
    "sim_mmr_rerank",
    "pipeline_curation_full",
    "events_error_slo_5m",
    "events_user_streaks",
    "orders_rolling_aov_28d",
    "revenue_share_hierarchy",
    "emb_outlier_detection",
    "value_drift_trailing7",
    "sample_docs_quota",
    "lineitem_spend_point_in_time",
    "dedup_graph_pagerank",
    "orders_market_basket",
    "events_user_paths",
    "events_sliding_window_paned",
    # round 4
    "jdbc_metrics_roundtrip",
    "feed_keyed_roundtrip",
    "dedup_tokenset_jaccard",
    "users_activity_similarity",
    # round 8
    "dedup_jaccard_prefix_filtered",
    "dedup_jaccard_prefix_bounded",  # round-10 planted-cluster corpus
    "dedup_duplicate_spans",
    "dedup_span_removal",
    "lineitem_zorder_skipping",
    # round 10
    "customers_record_linkage_fs",
    "customers_record_linkage_multipass",
    "basket_graph_communities_lpa",
    "docs_epoch_shuffle",
    "text_bpe_encode_tokens",
    "text_bpe_encode_tokens_kernel",
    "customers_record_linkage_em",
    "customers_blocking_quality",
    # round 11
    "docs_lsh_blocking_quality",
    "sample_docs_temperature_mix",
    "split_docs_group_aware",
    "split_docs_dedup_aware",
    "docs_token_budget_apportionment",
    "docs_curriculum_order",
    "tpch_q22_recent_idle_customers",
    "multimodal_image_channel_stats",
    "docs_lsh_recall_audit",
    "dedup_keep_best_survivors",
]


def main() -> None:
    sf_dir = "/root/testdata/sf0.001"
    spark = get_spark("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    out = [
        "# PLANS — formatted physical plans of flagship queries\n",
        "Generated by `python scripts/dump_plans.py` (sf0.001 inputs; "
        "plan shapes are SF-independent). Things to check per plan: "
        "PushedFilters + pruned ReadSchema on scans, BroadcastHashJoin "
        "on dimension joins, partial/final HashAggregate pairs, "
        "TakeOrderedAndProject for top-N, single Exchange per keyed "
        "stage.\n",
    ]
    for name in FLAGSHIPS:
        df = registry.QUERIES[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out.append(f"\n## {name}\n\n```\n{buf.getvalue().strip()}\n```\n")
    os.makedirs(".tmp", exist_ok=True)
    with open(OUT, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {OUT}")


if __name__ == "__main__":
    main()
