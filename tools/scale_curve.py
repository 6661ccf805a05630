"""Scaling-curve measurement: run representative queries at every available
scale factor and record wall time — the empirical basis for the 100 TB
extrapolation claims (a query whose time grows faster than its input has a
hidden quadratic/skew problem; near-flat times at small SF are fixed-cost
dominated).

Usage: python tools/scale_curve.py   (writes SCALING.md)
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]

QUERIES = [
    ("pricing_summary", "lineitem"),
    ("revenue_by_segment", "lineitem"),
    ("regional_customer_revenue", "lineitem"),
    ("rollup_revenue", "lineitem"),
    ("events_sessionized", "events"),
    ("token_frequencies", "documents"),
    ("near_dup_pairs_jaccard", "documents"),
    ("near_dup_pairs_minhash", "documents"),
    ("knn_cosine_bruteforce", "embeddings"),
    ("stream_events_hourly", "events"),
    ("customer_order_distribution", "orders"),
    ("sole_supplier_returns", "lineitem"),
    ("errors_before_purchase", "events"),
    ("embedding_activation_stats", "embeddings"),
    ("corpus_prepared", "documents"),
    ("doc_winnowing_md5", "documents"),
    ("benchmark_contamination", "documents"),
    ("near_dup_clusters", "documents"),
    ("corpus_token_budget_fill", "documents"),
    ("embedding_quantization_error", "embeddings"),
    ("events_funnel", "events"),
    ("orders_retention_cohort", "orders"),
    ("events_daily_rollup_merge", "events"),
    ("events_latest_by_key", "events"),
    ("corpus_mixture_weights", "documents"),
    ("nation_market_share", "lineitem"),
    ("part_best_supplier", "lineitem"),
    ("nation_value_concentration", "lineitem"),
    ("local_supplier_revenue", "lineitem"),
    ("forecast_revenue_change", "lineitem"),
    ("corpus_shuffled_shards", "documents"),
    ("sequence_packing", "documents"),
    ("bpe_merge_candidates", "documents"),
    ("embedding_dim_stats", "embeddings"),
    ("simhash_fingerprints", "documents"),
    ("doc_winnowing_fingerprints", "documents"),
    ("doc_pii_scrub", "documents"),
    ("embedding_near_dup_pairs", "embeddings"),
    ("purchase_last_view_asof", "events"),
    ("events_trailing_burst", "events"),
    ("events_steps_to_purchase", "events"),
    ("doc_unigram_logprob", "documents"),
    ("embedding_decontamination", "embeddings"),
    ("corpus_weighted_sample", "documents"),
    ("dedup_incremental", "documents"),
    ("events_hourly_continuous", "events"),
    ("doc_containment_md5", "documents"),
    ("doc_dup_span_coverage", "documents"),
    ("semantic_dedup_bucket_nn", "embeddings"),
    ("near_dup_incremental", "documents"),
    ("doc_dup_span_scrubbed", "documents"),
    ("embedding_corr_matrix", "embeddings"),
    ("embedding_covariance_matrix", "embeddings"),
    ("bm25_topk", "documents"),
    ("retrieval_rrf_fused", "documents"),
    ("event_transition_matrix", "events"),
    ("user_state_scd2", "events"),
    ("ab_conversion_ztest", "events"),
    ("token_zipf_fit", "documents"),
    ("doc_bigram_logprob", "documents"),
    ("cdc_chunk_dedup", "documents"),
    ("bpe_trained_merges", "documents"),
    ("training_data_manifest", "documents"),
    ("split_leakage_audit", "documents"),
    ("near_dup_pairs_simhash", "documents"),
    ("doc_ngram_novelty", "documents"),
    ("events_anomaly_zscore", "events"),
    ("customer_pareto_class", "orders"),
    ("session_concurrency_profile", "events"),
    ("bpe_encoded_corpus", "documents"),
    ("bpe_decoded_roundtrip", "documents"),
    ("doc_quality_model_scores", "documents"),
    ("doc_quality_model_calibration", "documents"),
    ("unigram_seed_candidates", "documents"),
    ("unigram_vocab_pruned", "documents"),
    ("unigram_vocab_em", "documents"),
    ("corpus_funnel_by_source", "documents"),
    ("near_dup_jaccard_histogram", "documents"),
    ("source_learnability_mix", "documents"),
    ("langid_confusion", "documents"),
    ("pii_prevalence_by_source", "documents"),
    ("embedding_split_drift", "embeddings"),
    ("packing_efficiency_report", "documents"),
    ("bpe_fertility_by_lang", "documents"),
    ("corpus_shard_skew_report", "documents"),
    ("stream_pii_scrub_ingest", "documents"),
    ("stream_store_deletes", "documents"),
    ("stream_pq_delete_ingest", "embeddings"),
    ("stream_store_compacted", "documents"),
    ("stream_store_asof", "documents"),
    ("quality_rule_breakdown", "documents"),
    ("events_dau_wau", "events"),
    ("near_dup_cluster_size_histogram", "documents"),
    ("corpus_training_mix_fill", "documents"),
    ("unigram_vocab_em_pruned", "documents"),
    ("stream_session_eviction_timing", "events"),
    ("corpus_boilerplate_ngrams", "documents"),
    ("doc_boilerplate_coverage", "documents"),
    ("source_epoch_allocation", "documents"),
    ("doc_boilerplate_scrubbed", "documents"),
    ("stream_tumbling_eviction_timing", "events"),
    # round-12 additions
    ("source_mixture_reweighted", "documents"),
    ("corpus_doremi_mix_fill", "documents"),
    ("corpus_curriculum_schedule", "documents"),
    ("source_doremi_epochs", "documents"),
    ("curriculum_shard_manifest", "documents"),
    ("corpus_mix_budget_ablation", "documents"),
    ("stream_dedup_eviction_timing", "events"),
    # round-11 additions (unigram_em_prune_divergence runs on a FIXED
    # planted corpus by design — its flat curve documents exactly that)
    ("source_boilerplate_ngrams", "documents"),
    ("source_boilerplate_scrubbed", "documents"),
    ("stream_stateful_eviction_timing", "events"),
    ("unigram_em_prune_divergence", "documents"),
    ("unigram_lm_segmented", "documents"),
    ("tokenizer_fertility_by_lang", "documents"),
    ("stream_doc_quality_scores", "documents"),
    ("corpus_model_quality_filtered", "documents"),
    ("doc_dsir_weights", "documents"),
    ("doc_learnability_rho", "documents"),
    ("near_dup_canonical_by_source", "documents"),
    ("corpus_group_split", "documents"),
    ("near_dup_cross_source_matrix", "documents"),
    ("corpus_curation_funnel", "documents"),
    ("stream_ingest_funnel", "documents"),
    ("multimodal_dedup_by_digest", "documents"),
    ("embedding_class_prototypes", "embeddings"),
    ("source_unigram_kl", "documents"),
    ("doc_ppl_buckets", "documents"),
    ("lang_temperature_rates", "documents"),
    ("corpus_lang_temperature_sampled", "documents"),
    ("token_heavy_hitters", "documents"),
    ("embedding_pca_variance", "embeddings"),
    ("near_dup_pagerank", "documents"),
    ("orders_benford_deviation", "orders"),
    ("customer_fuzzy_matches", "customer"),
    ("stream_anomaly_zscore", "events"),
    ("embedding_hard_negatives", "embeddings"),
    ("basket_brand_pairs", "lineitem"),
    ("customer_rfm_segments", "orders"),
    ("brand_discount_qty_slope", "lineitem"),
    ("events_funnel_windowed", "events"),
    ("customer_revenue_gini", "orders"),
    # round-6 completion: every remaining benched headline query gets a
    # curve row (previously covered only by prose in the FOOTER)
    ("ann_lsh_topk", "embeddings"),
    ("ann_ivf_topk", "embeddings"),
    ("ann_ivfpq_topk", "embeddings"),
    ("ann_ivfpq_rerank_topk", "embeddings"),
    ("pq_code_histogram", "embeddings"),
    ("pq_quantization_error", "embeddings"),
    ("ann_ivfpq_filtered_topk", "embeddings"),
    ("knn_cosine_bruteforce_filtered", "embeddings"),
    ("stream_pq_encode_ingest", "embeddings"),
    ("pq_cell_stats", "embeddings"),
    ("pq_rebalance_plan", "embeddings"),
    ("pq_index_rebalanced", "embeddings"),
    ("ann_ivfpq_batch_topk", "embeddings"),
    ("ann_ivfpq_adaptive_topk", "embeddings"),
    ("label_centroids", "embeddings"),
    ("dedup_exact", "documents"),
    ("dedup_corpus", "documents"),
    ("simhash_md5", "documents"),
    ("doc_chunks_udtf", "documents"),
    ("doc_length_zscore_by_lang", "documents"),
    ("doc_quality", "documents"),
    ("doc_repetition_stats", "documents"),
    ("doc_token_entropy", "documents"),
    ("doc_token_entropy_udf", "documents"),
    ("doc_top_tfidf_term", "documents"),
    ("corpus_quality_filtered", "documents"),
    ("corpus_stratified_sample", "documents"),
    ("brand_revenue", "lineitem"),
    ("cube_revenue", "lineitem"),
    ("grouping_sets_revenue", "lineitem"),
    ("supplier_volume", "lineitem"),
    ("top_orders_by_revenue", "lineitem"),
    ("priority_returned_orders", "orders"),
    ("customer_moving_spend", "orders"),
    ("monthly_order_stats", "orders"),
    ("running_customer_revenue", "orders"),
    ("order_gap_days", "orders"),
    ("segment_price_quantiles", "orders"),
    ("segment_status_pivot", "orders"),
    ("segment_top_orders", "orders"),
    ("segment_value_salted_join", "events"),
    ("user_distinct_values_salted", "events"),
    ("user_value_totals_salted", "events"),
    ("events_hourly", "events"),
    ("events_sliding_daily", "events"),
    ("events_gap_fill", "events"),
    ("events_json_stats", "events"),
    ("nation_balance_unpivot", "nation"),
    ("stream_errors_before_purchase_pairs", "events"),
    ("stream_errors_before_purchase_outer", "events"),
    ("stream_stateful_running_totals", "events"),
    ("stream_static_enriched_segments", "events"),
]

FOOTER = """
## Scale-out strategies (beyond what the curve can show at local SF)

- **Bounded range joins** (`errors_before_purchase`): the equi key
  (user) bounds the blow-up; when a single user's history is too large,
  bucket both sides by `(user_id, date_trunc('hour', ts))` and join each
  probe row against its own and the previous hour bucket — turns the
  residual range scan from O(|user history|) into O(|2 buckets|).
- **Hot keys** (`functions/skew.py`, measured on 20M rows with one key
  owning 35%; result equality pinned by
  `test_salted_aggregation_equals_plain`): the replicated salted join wins
  — 1.8s vs 3.1s plain sort-merge with AQE skew-split off (AQE's own
  split: 5.0s this run) — and the value-salted exact distinct count
  wins — 2.7s vs 3.2s plain (the hot key's ~7M distinct values fan into
  one reducer unsalted; the gap widens with cluster size since the
  plain plan's wall time is one reducer's stream). The honest negative:
  for algebraic count/sum aggregates map-side combine already collapses
  the hot key to one partial per map task and salting only adds shuffle
  volume (2.0s plain vs 3.3s salted) — `salted_count_sum` is scoped to
  buffer-heavy aggregates accordingly. All three salted kernels are
  result-equality-tested and the two winning shapes are driver
  oracle-gated (`user_distinct_values_salted`,
  `segment_value_salted_join`). AQE skew-join splitting stays enabled
  in the engine session for every join that isn't hand-salted.
- **Pairwise operators** (jaccard/knn): the exact kernels are
  verification baselines; the scale paths are the LSH variants
  (minhash bands, hyperplane buckets, IVF) whose candidate sets are
  per-bucket, not per-corpus.
- **EXISTS decorrelation** (`sole_supplier_returns`): correlated
  probes rewritten to one per-key aggregate + semi join — two shuffles
  on the correlation key regardless of data size.
- **Count-of-counts** (`customer_order_distribution`): second-level
  aggregation keys on the count value (tiny domain) — the only heavy
  shuffle is the first groupBy on the raw key.
- **Compute-bound stage sizing** (`sources/catalog.py::load_spread`):
  byte-bound stages are partitioned by input bytes (the scan default);
  compute-bound stages (shingling, MinHash, fingerprinting, LSH codes)
  are partitioned by cores — a byte-small corpus otherwise runs its
  heaviest per-row work on one task. On a real cluster the repartition
  degenerates to a rebalance.
- **Mergeable rollups** (`events_daily_rollup_merge`): coarse-grain
  aggregates merge fine-grain partials (decimal sums + HLL unions)
  instead of rescanning raw data — the re-aggregation input is
  O(buckets), independent of corpus size.
- **Changelog compaction** (`events_latest_by_key`): rank-1 windows
  execute as per-partition top-1 after one key shuffle; on a bucketed
  changelog the shuffle disappears and compaction runs per ingestion
  batch.
- **Host timing variance (measurement honesty)**: this container's CPU
  is shared-tenancy — an identical single-core Python probe measured
  2.61s / 3.42s / 2.61s back-to-back (±30%), and four runs of the
  UNCHANGED bench suite on round-4 code spanned 84.5-95.6s total
  (131.7s under visible external load). Round-over-round per-query
  deltas under ~1.4x are therefore noise here; the signal is in the
  order-of-magnitude wins (near_dup_clusters 11.4→~4s, serving 515→6ms)
  and in plan shape, which PLANS.md and the plan-contract tests pin
  deterministically. `tools/measure.py -n N` times chosen queries N
  times back to back in one session; `bench.py` stays single-shot (plus
  its contention re-time) for comparability with earlier rounds.
- **Serving latency** (D5, measured by `tools/serve_bench.py` over real
  HTTP, 40 requests after warmup): POST /predict p50/p95 = 5.6/6.7 ms
  single-row, 141/173 ms for a 100-row batch (1.4 ms/row). The route
  scores driver-side — pure-Python feature twin + pyspark.ml's
  single-instance predictProbability, parity-tested against the Spark
  transform path — because a per-request Spark job costs ~515 ms flat
  (the pre-fast-path measurement); champions without the
  single-instance API fall back to the exact training transform path.
- **Expand pre-aggregation** (`cube_revenue`, `rollup_revenue`,
  `grouping_sets_revenue`): the round-1 -> round-3 "regression" on
  these was methodology, not a plan change — r1 timed `count()`, which
  lets Catalyst prune the decimal SUM out of the plan entirely (cube
  benched 0.4s under count vs 2.0s under the honest noop sink at
  sf0.1). The round-4 rewrite pre-aggregates to the finest grouping
  before CUBE/ROLLUP/GROUPING SETS, so Expand multiplies ~6 partial
  rows instead of every fact row (4x shuffle volume at 100 TB);
  noop-sink times dropped cube 2.0->0.9s, grouping_sets 1.8->0.9s,
  rollup 1.6->0.75s at sf0.1.
- **Substring-level dedup** (`doc_dup_span_coverage`,
  `doc_dup_span_scrubbed`): the only data-sized shuffles carry
  (doc_id, position, 16-byte hash) triples, never text; duplicated-gram
  detection is a groupBy with map-side partials (a boilerplate gram
  combines before the exchange — no hot-key buffering), and the rewrite
  is an O(#intervals) substring fold per doc (the per-char anti-join
  formulation was 1.8x slower and shuffled ~32x the rows). At 100 TB
  the (doc_id, p, h) postings are materialized once and every stage
  scans them.
- **Incremental near-dedup** (`near_dup_incremental`,
  `stream_near_dup_ingest`): per-increment work is bounded by the
  BATCH's postings times per-fp document frequency — the stop-fp
  cutoff caps the fan-out and the historical side is a materialized
  postings store (appended per batch), never a re-scan of history; the
  drop rule is one shared definition for the batch and streaming twins.
- **Semantic dedup** (`semantic_dedup_bucket_nn`): pair volume is
  O(n x bucket_size) with bits ~ log(n); a hot bucket (mass near one
  centroid) salts like any hot aggregation key. The k-means variant
  (`build_ivf_index`) partitions by cluster_id so pruning is partition
  pruning.
- **CDC chunking** (`cdc_chunk_dedup`): boundary detection is a
  projection; chunk assembly is a per-doc window over ~|text|/16
  boundary rows; ownership is a window whose partition is one chunk
  hash's copies (bounded by duplication depth).
- **Manifest / Zipf / bigram LM**: all iterate over vocabulary- or
  shard-sized aggregates after one corpus-sized shuffle with map-side
  partials; the bigram join-back broadcasts only while the bigram
  table fits (no hint — AQE decides, so outgrowing the threshold
  degrades to a shuffle join, not an OOM).
"""


def main() -> None:
    import __spark_entry__ as entrymod
    from airflow_ml_pipeline_spark.session import get_spark

    spark = get_spark("scale-curve", master="local[32]")
    qs = entrymod.queries()

    # input sizes per sf
    sizes: dict[str, dict[str, int]] = {}
    for sf in SFS:
        sizes[sf] = {}
        for t in {t for _, t in QUERIES}:
            sizes[sf][t] = spark.read.parquet(f"{sf}/{t}.parquet").count()

    # warm up
    qs["pricing_summary"](spark, SFS[0]).count()

    results: dict[str, list[tuple[int, float]]] = {}
    for name, table in QUERIES:
        results[name] = []
        for sf in SFS:
            t0 = time.time()
            # noop sink (not count): count() prunes projected columns, so a
            # projection-only query would measure a bare scan (see bench.py)
            qs[name](spark, sf).write.format("noop").mode("overwrite").save()
            results[name].append((sizes[sf][table], time.time() - t0))
            print(f"# {name} @ {sf}: {results[name][-1][1]:.2f}s", file=sys.stderr)

    lines = [
        "# SCALING — wall time vs input size (generated by tools/scale_curve.py)",
        "",
        "local[32], one query at a time, noop-sink write as the action.",
        "`x100 ratio` = t(sf0.1)/t(sf0.001) against a 100x input increase —",
        "values well under 100 mean fixed costs dominate at these sizes;",
        "values near or above 100 would flag a super-linear operator.",
        "",
        "| query | rows@sf0.001 | t(s) | rows@sf0.01 | t(s) | rows@sf0.1 | t(s) | x100 ratio |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for name, _ in QUERIES:
        r = results[name]
        ratio = r[2][1] / r[0][1] if r[0][1] > 0 else float("inf")
        lines.append(
            f"| {name} | {r[0][0]} | {r[0][1]:.2f} | {r[1][0]} | {r[1][1]:.2f} "
            f"| {r[2][0]} | {r[2][1]:.2f} | {ratio:.1f}x |"
        )
    # preserve the prose sections (scale-out strategies, regression
    # attributions, the ingest-store curve) from the CURRENT file — the
    # hardcoded FOOTER is only the first-run fallback; round notes are
    # edited in SCALING.md directly and must survive regeneration
    tail = FOOTER
    try:
        with open(os.path.join(ROOT, "SCALING.md")) as f:
            current = f.read()
        idx = current.find("\n## ")
        if idx >= 0:
            tail = current[idx:]
    except FileNotFoundError:
        pass
    with open(os.path.join(ROOT, "SCALING.md"), "w") as f:
        f.write("\n".join(lines) + "\n" + tail)
    print("wrote SCALING.md")


if __name__ == "__main__":
    main()
