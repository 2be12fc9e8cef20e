"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query on sf0.001; ``queries()`` /
``oracle_sql()`` expose every implemented operator from SURVEY.md §2 with its
DuckDB oracle. Implementation lives in ``tigerbeetle_cdc_nats_spark``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tigerbeetle_cdc_nats_spark import registry  # noqa: E402
from tigerbeetle_cdc_nats_spark.session import configure  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: one CDC incremental poll (scan + filter + order +
    limit) on sf0.001 — SURVEY.md §7's minimum end-to-end slice."""
    configure(spark)
    qs = registry.all_queries()
    return qs["cdc_incremental_scan"].fn(spark, SMOKE_SF_DIR)


#: r01-r07 static snapshot of previously-sampled names, kept only as the
#: FALLBACK ordering when the committed CORRECTNESS artifacts are
#: unreadable (the live ordering is computed from them; see _record_age).
_SAMPLED_IN_PRIOR_ROUNDS = frozenset({
    "ann_bucket_stats", "ann_lsh_cosine", "ann_lsh_indexed",
    "ann_multiprobe_cosine", "ann_multiprobe_indexed",
    "ann_recall_audit", "approx_distinct_sketch", "asof_join",
    "balance_rollup", "blocklist_filter", "blocklist_kwic",
    "bloom_prefilter_join", "bm25_score", "bpe_merge_candidates",
    "canonical_selection", "cdc_backlog_stats", "cdc_incremental_scan",
    "centroid_drift_audit", "centroid_separation",
    "changelog_compaction", "chunk_assignment", "chunk_max_checkpoint",
    "cluster_balanced_sample", "cms_user_counts", "cohort_retention",
    "column_stats", "conversion_funnel", "crosslingual_near_dup",
    "curated_corpus_pipeline", "decontamination", "dedup_funnel",
    "dedup_rate_by_source", "dedup_threshold_sweep", "dedupe_msgid",
    "distinct_event_count", "doc_fingerprint", "dup_cluster_stats",
    "dup_clusters", "dup_method_agreement", "dup_pagerank",
    "dup_pair_sample", "dup_triangles", "duplicate_count",
    "edit_distance_dedup", "embedding_near_dup",
    "embedding_near_dup_adaptive", "embedding_near_dup_multitable",
    "embedding_near_dup_multitable_adaptive",
    "embedding_near_dup_skewsafe", "embedding_norm_outliers",
    "embedding_quantize", "equidepth_histogram",
    "event_enrichment_join", "event_json_decode", "event_projection",
    "event_sequence_rank", "event_stream_intersect_except",
    "event_stream_union", "event_transition_matrix",
    "event_type_encode", "ewma_value", "exact_dedup",
    "gap_fill_interpolate", "gap_fill_locf", "hard_negative_mining",
    "header_projection", "hll_user_sketch", "incremental_dedup",
    "incremental_rollup_merge", "integrity_audit",
    "interval_overlap_join", "ivf_ann_cosine", "ivf_ann_indexed",
    "ivf_probe_recall", "ivfpq_ann", "ivm_delta_rows", "ivm_join_view",
    "ivm_topk_view", "join_key_skew_audit", "json_roundtrip",
    "kmeans_refine", "knn_bruteforce_cosine", "label_centroids",
    "lang_id", "ledger_cube", "ledger_event_type_counts",
    "ledger_grouping_sets", "ledger_pivot", "ledger_rollup",
    "ledger_unpivot", "left_enrichment_join", "local_clustering",
    "mad_outliers", "media_feature_vectors", "media_frame_extract",
    "minhash_band_stats", "minhash_containment", "minhash_dedup",
    "minhash_dedup_indexed", "minhash_estimator_audit",
    "minhash_probe_indexed", "mmr_rerank", "multimodal_meta",
    "multires_rollup", "ngram_jaccard_dedup", "novelty_score",
    "numeric_corr_matrix", "order_denormalize", "pareto_abc",
    "part_cooccurrence", "pii_redact", "pii_scan",
    "portable_number_encode", "pq_ann_adc", "prefix_jaccard_join",
    "progress_recovery", "props_json_stats", "prototype_pruning",
    "q10_returned_items", "q11_important_parts",
    "q12_priority_shipping", "q13_order_distribution",
    "q14_promo_revenue", "q15_top_supplier", "q16_supplier_part_counts",
    "q17_small_quantity_revenue", "q18_large_orders",
    "q19_disjunctive_revenue", "q1_pricing_summary",
    "q20_top_share_suppliers", "q21_waiting_orders",
    "q22_sales_opportunity", "q2_min_cost_supplier",
    "q3_shipping_priority", "q4_order_priority", "q5_nation_revenue",
    "q6_forecast_revenue", "q7_volume_shipping", "q8_market_share",
    "q9_product_profit", "quality_score", "range_join_windows",
    "rate_anomaly", "rate_window_counts", "repetition_ratio",
    "resource_naming", "revenue_trend", "rolling_median_value",
    "running_balance", "scd2_intervals", "scd2_point_in_time_join",
    "segment_migration_matrix", "semdedup", "semdedup_scaled",
    "semi_anti_join", "sequence_packing", "sessionization",
    "simhash_dedup", "skew_salted_counts", "skew_salted_join",
    "sliding_window_counts", "snapshot_reconcile",
    "source_mixing_weights", "source_token_divergence",
    "split_leakage_audit", "stratified_sample", "stream_order_audit",
    "subject_routing", "tfidf_top_terms", "time_format",
    "time_weighted_value", "timestamp_range_filter", "token_count",
    "token_lift_pairs", "top_k_by_amount", "top_suppliers_by_revenue",
    "training_data_pipeline", "two_stage_rerank", "value_histogram",
    "value_percentiles", "vocab_top_tokens", "weekly_growth",
    "zorder_layout"
})

def _record_age() -> dict[str, int] | None:
    """Per-query freshness from the committed ``CORRECTNESS_r*.json``
    artifacts: name -> the latest round that recorded it, with a query
    whose LATEST record is red (mismatch or a real error) demoted to 0
    so it re-records next round. Returns None when no artifact is
    readable (fresh checkout fallback)."""
    import glob
    import json
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    latest: dict[str, tuple[int, bool]] = {}
    found = False
    for p in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", os.path.basename(p))
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(p, encoding="utf-8") as fh:
                data = json.load(fh)
        except (OSError, ValueError):
            continue
        found = True
        for name, rec in data.items():
            if not isinstance(rec, dict):
                continue
            # "no_oracle" is the rows-only check working as designed,
            # not a failure; anything else red demotes the record.
            ok = (rec.get("rows_match") is not False
                  and rec.get("schema_match") is not False
                  and rec.get("hash_match") is not False
                  and rec.get("err") in (None, "no_oracle"))
            if name not in latest or rnd > latest[name][0]:
                latest[name] = (rnd, ok)
    if not found:
        return None
    ages = {n: (rnd if ok else 0) for n, (rnd, ok) in latest.items()}
    for n in _SEMANTICS_CHANGED:
        ages.pop(n, None)  # recorded artifact predates the new semantics
    return ages


#: Queries whose REGISTERED semantics changed after their latest green
#: CORRECTNESS record: their artifact reflects the old definition, so
#: they must re-record immediately (age 0) instead of aging out on the
#: normal rotation. A name leaves this set once the driver has recorded
#: it green under the new semantics (round 11 demoted
#: training_data_pipeline for its verdict-consuming dedup stage; its
#: r11 record is green, so round 12 clears it). Round 12 changed no
#: registered query's semantics — the stored-verdict serving rewires
#: are bit-identical and rehearsal-pinned.
_SEMANTICS_CHANGED = frozenset()


def _rotated(items):
    """Stalest-artifact-first ordering (round-8 judge item #3): the
    driver records the FIRST 50 ``queries()`` entries each round, so
    listing never-recorded and red-last-record queries first (age 0),
    then ascending latest-recorded round, refreshes every query's
    CORRECTNESS artifact within ~registry_size/50 rounds instead of
    letting early-round records age indefinitely. Registration order is
    preserved within an age group (stable sort). Falls back to the
    static r07 sampled-set split when no artifact is readable."""
    items = list(items)
    age = _record_age()
    if age is None:
        fresh = [(n, q) for n, q in items
                 if n not in _SAMPLED_IN_PRIOR_ROUNDS]
        rest = [(n, q) for n, q in items if n in _SAMPLED_IN_PRIOR_ROUNDS]
        return fresh + rest
    return sorted(items, key=lambda nq: age.get(nq[0], 0))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for name, q in _rotated(registry.all_queries().items()):
        def run(spark: SparkSession, sf_dir: str, _q=q) -> DataFrame:
            configure(spark)
            return _q.fn(spark, sf_dir)
        out[name] = run
    return out


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query; keys without SQL get a rows-only
    check (non-SQL-expressible ops)."""
    return {
        name: q.oracle
        for name, q in _rotated(registry.all_queries().items())
        if q.oracle is not None
    }
