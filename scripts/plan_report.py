#!/usr/bin/env python
"""Generate PLANS.md: the formatted physical plan of every headline query,
so plan properties (broadcasts, pushdown, partial aggregation, heap top-k)
are reviewable without running Spark. Usage: python scripts/plan_report.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEADLINE = [
    "cdc_incremental_scan",
    "event_projection",
    "event_enrichment_join",
    "asof_join",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_nation_revenue",
    "minhash_dedup",
    "ngram_jaccard_dedup",
    "knn_bruteforce_cosine",
    "ann_lsh_cosine",
    "training_data_pipeline",
    "q6_forecast_revenue",
    "q13_order_distribution",
    "q19_disjunctive_revenue",
    "q22_sales_opportunity",
    "decontamination",
    "sequence_packing",
    "dup_clusters",
    "q11_important_parts",
    "q20_top_share_suppliers",
    "perplexity_score",
    "embedding_quantize",
    "token_ids",
    "kmeans_refine",
    "exact_substring_dup",
    "quality_tertiles",
    "dsir_importance",
    "semdedup",
    "semdedup_scaled",
    "ann_multiprobe_cosine",
    "winnowing_fingerprint",
    "normalized_dedup",
    "tfidf_top_terms",
    "changelog_compaction",
    "incremental_rollup_merge",
    "snapshot_reconcile",
    "skew_salted_join",
    "running_balance",
    "bm25_score",
    "hll_user_sketch",
    "dup_method_agreement",
    "dup_pagerank",
    "zorder_layout",
    "interval_overlap_join",
    "sliding_window_counts",
    "cohort_retention",
    "conversion_funnel",
    "bloom_prefilter_join",
    "prefix_jaccard_join",
    "two_stage_rerank",
    "heavy_hitters",
    "passage_chunking",
    "chunk_dedup",
    "scd2_intervals",
    "time_weighted_value",
    "numeric_corr_matrix",
    "mad_outliers",
    "dup_triangles",
    "join_key_skew_audit",
    "revenue_trend",
    "weekly_growth",
    # round 4
    "ivm_join_view",
    "ivm_delta_rows",
    "pii_scan",
    "pii_redact",
    "pq_ann_adc",
    "ivfpq_ann",
    "mmr_rerank",
    "minhash_containment",
    "hard_negative_mining",
    "ann_recall_audit",
    "bpe_apply_merge",
    "token_lift_pairs",
    "training_shuffle_order",
    "centroid_drift_audit",
    "bottomk_sample",
    "rag_retrieve_diverse",
    "curated_corpus_pipeline",
    "scd2_point_in_time_join",
    "multi_epoch_shuffle",
    "blocklist_kwic",
    "props_json_stats",
    "ivm_topk_view",
    "media_feature_vectors",
    # round 5
    "embedding_near_dup_multitable",
    "minhash_dedup_indexed",
    "minhash_probe_indexed",
    "winnow_candidates_indexed",
    "split_leakage_audit",
    "source_frequency_cap",
    "ann_lsh_indexed",
    "gap_fill_locf",
    "gap_fill_interpolate",
    "rolling_median_value",
    "ewma_value",
    # round 6 (dup_triangles above now reports the degree-ordered form)
    "local_clustering",
    "dedup_threshold_sweep",
    "cdc_backlog_stats",
    "ann_bucket_stats",
    "winnow_probe_indexed",
    # round 6 continuation
    "edit_distance_dedup",
    "dedup_rate_by_source",
    "boilerplate_ngrams",
    "ivf_probe_recall",
    "prototype_pruning",
    # round 9: warm stored-index near-dup serving (skew sidecar +
    # geometry-keyed flat layout)
    "embedding_near_dup_indexed",
    "embedding_near_dup",
    # round 10: the |docs|-sized dedup verdict + its one-row rollup
    "embedding_dedup_verdict",
    "dedup_verdict_stats",
    # round 11: the text + composed corpus verdicts
    "text_dedup_verdict",
    "corpus_dedup_verdict",
    "corpus_verdict_stats",
    # round 12: the per-ingest-batch delta verdicts + the stored
    # composed verdict's serving path
    "delta_dedup_verdict",
    "embedding_delta_verdict",
    "corpus_verdict_indexed",
]


def main() -> None:
    from tigerbeetle_cdc_nats_spark import registry
    from tigerbeetle_cdc_nats_spark.plans import physical_plan
    from tigerbeetle_cdc_nats_spark.session import get_spark

    spark = get_spark("plan-report", shuffle_partitions=8)
    qs = registry.all_queries()
    sf = "/root/testdata/sf0.01"
    out = ["# PLANS — physical plans of the headline queries (sf0.01)",
           "",
           "Generated by `scripts/plan_report.py`. Key properties are",
           "asserted in `tests/test_plans.py`; this file is the reviewable",
           "record.", ""]
    for name in HEADLINE:
        plan = physical_plan(qs[name].fn(spark, sf), "formatted")
        # keep the tree; trim the verbose node details after it
        tree = plan.split("\n\n", 1)[0]
        out += [f"## {name}", "", "```", tree, "```", ""]
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md with {len(HEADLINE)} plans")
    spark.stop()


if __name__ == "__main__":
    main()
