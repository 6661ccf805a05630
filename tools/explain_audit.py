"""Physical-plan audit: for each audited query, extract the scan/exchange/
join evidence that the 100 TB design claims rest on — pushed filters,
pruned read schemas, join strategies, aggregation modes — and write a
markdown report (PLANS.md).

Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

AUDITED = [
    "pricing_summary",
    "revenue_by_segment",
    "top_orders_by_revenue",
    "regional_customer_revenue",
    "priority_returned_orders",
    "rollup_revenue",
    "brand_revenue",
    "segment_top_orders",
    "returned_revenue_by_customer",
    "priority_order_counts",
    "customer_order_distribution",
    "sole_supplier_returns",
    "disjunctive_brand_revenue",
    "errors_before_purchase",
    "events_sessionized",
    "token_frequencies",
    "near_dup_pairs_jaccard",
    "near_dup_pairs_minhash",
    "corpus_prepared",
    "benchmark_contamination",
    "corpus_stratified_sample",
    "corpus_token_budget_fill",
    "doc_repetition_stats",
    "embedding_quantization_error",
    "embedding_covariance_matrix",
    "lang_nchars_median_udaf",
    "events_variant_stats",
    "nation_pair_volume",
    "nation_profit_by_year",
    "nation_balance_unpivot",
    "segment_acctbal_top_decile",
    "knn_cosine_bruteforce",
    "events_daily_rollup_merge",
    "events_latest_by_key",
    "corpus_mixture_weights",
    "doc_length_histogram",
    "nation_market_share",
    "part_best_supplier",
    "nation_value_concentration",
    "local_supplier_revenue",
    "forecast_revenue_change",
    "corpus_shuffled_shards",
    "sequence_packing",
    "bpe_merge_candidates",
    "customer_pseudonymized",
    "embedding_dim_stats",
    "embedding_near_dup_pairs",
    "doc_winnowing_fingerprints",
    "doc_winnowing_md5",
    "purchase_last_view_asof",
    "events_trailing_burst",
    "events_gap_fill",
    "events_steps_to_purchase",
    "user_eventtype_map_stats",
    "multimodal_features",
    "ship_delay_profile",
    "orders_retention_cohort",
    "events_funnel",
    "doc_pii_scrub",
    "dedup_incremental",
    "doc_unigram_logprob",
    "embedding_decontamination",
    "multimodal_frame_samples",
    "events_hourly_continuous",
    "corpus_weighted_sample",
    "simhash_fingerprints",
    "doc_containment_md5",
    "doc_dup_span_coverage",
    "semantic_dedup_bucket_nn",
    "near_dup_incremental",
    "doc_dup_span_scrubbed",
    "cdc_chunk_dedup",
    "split_leakage_audit",
    "training_data_manifest",
    "token_zipf_fit",
    "doc_bigram_logprob",
    "bm25_topk",
    "retrieval_rrf_fused",
    "event_transition_matrix",
    "user_state_scd2",
    "ab_conversion_ztest",
    "near_dup_pairs_simhash",
    "doc_ngram_novelty",
    "events_anomaly_zscore",
    "customer_pareto_class",
    "session_concurrency_profile",
    "bpe_encoded_corpus",
    "bpe_decoded_roundtrip",
    "doc_quality_model_scores",
    "doc_quality_model_calibration",
    "unigram_seed_candidates",
    "unigram_vocab_pruned",
    "unigram_vocab_em",
    "corpus_funnel_by_source",
    "near_dup_jaccard_histogram",
    "source_learnability_mix",
    "langid_confusion",
    "pii_prevalence_by_source",
    "embedding_split_drift",
    "packing_efficiency_report",
    "bpe_fertility_by_lang",
    "corpus_shard_skew_report",
    "quality_rule_breakdown",
    "events_dau_wau",
    "near_dup_cluster_size_histogram",
    "corpus_training_mix_fill",
    "unigram_vocab_em_pruned",
    "corpus_boilerplate_ngrams",
    "doc_boilerplate_coverage",
    "source_epoch_allocation",
    "doc_boilerplate_scrubbed",
    # round-12 additions
    "source_mixture_reweighted",
    "corpus_doremi_mix_fill",
    "corpus_curriculum_schedule",
    "source_doremi_epochs",
    "curriculum_shard_manifest",
    "corpus_mix_budget_ablation",
    "stream_dedup_eviction_timing",
    "stream_store_deletes",
    "stream_pq_delete_ingest",
    "stream_store_compacted",
    "stream_store_asof",
    # round-11 additions
    "source_boilerplate_ngrams",
    "source_boilerplate_scrubbed",
    "unigram_em_prune_divergence",
    "ann_ivf_topk",
    "ann_ivfpq_topk",
    "ann_ivfpq_rerank_topk",
    "pq_code_histogram",
    "pq_quantization_error",
    "ann_ivfpq_filtered_topk",
    "knn_cosine_bruteforce_filtered",
    "pq_cell_stats",
    "pq_rebalance_plan",
    "pq_index_rebalanced",
    "ann_ivfpq_batch_topk",
    "ann_ivfpq_adaptive_topk",
    "engineered_customer_features",
    "unigram_lm_segmented",
    "tokenizer_fertility_by_lang",
    "doc_dsir_weights",
    "doc_learnability_rho",
    "near_dup_canonical_by_source",
    "corpus_group_split",
    "near_dup_cross_source_matrix",
    "corpus_curation_funnel",
    "multimodal_dedup_by_digest",
    "embedding_class_prototypes",
    "source_unigram_kl",
    "doc_ppl_buckets",
    "corpus_lang_temperature_sampled",
    "token_heavy_hitters",
    "near_dup_pagerank",
    "orders_benford_deviation",
    "customer_fuzzy_matches",
    "embedding_hard_negatives",
    "basket_brand_pairs",
    "customer_rfm_segments",
    "brand_discount_qty_slope",
    "events_funnel_windowed",
    "customer_revenue_gini",
]

KEEP = re.compile(
    r"PushedFilters: \[[^\]]*[A-Za-z][^\]]*\]|ReadSchema:|BroadcastHashJoin|"
    r"SortMergeJoin|ShuffledHashJoin|HashAggregate|ObjectHashAggregate|"
    r"SortAggregate|Exchange\b|TakeOrderedAndProject|WindowExec|Window\b|Expand"
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    import __spark_entry__ as entrymod
    from airflow_ml_pipeline_spark.session import get_spark

    spark = get_spark("explain-audit", master="local[8]")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    qs = entrymod.queries()

    lines = [
        "# PLANS — physical-plan audit (generated by tools/explain_audit.py)",
        "",
        f"Scale factor dir: `{sf_dir}`. For each audited query: the scan,",
        "join, aggregation, and exchange evidence behind the design claims",
        "in COVERAGE.md. Join strategies are the *static* plan — AQE may",
        "convert exchanges to broadcasts at runtime using real sizes.",
        "",
    ]
    for name in AUDITED:
        df = qs[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(mode)
        picked = []
        for raw in plan.splitlines():
            line = raw.strip()
            if KEEP.search(line):
                line = re.sub(r", \[plan_id=\d+\]", "", line)
                picked.append(line[:160])
        lines.append(f"## {name}\n")
        lines.extend(f"    {p}" for p in picked)
        lines.append("")

    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote PLANS.md ({len(AUDITED)} queries)")


if __name__ == "__main__":
    main()
