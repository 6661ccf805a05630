"""Benchmark harness: runs the engine's declared queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": <sf>}

Each query is executed to completion (count — results are NOT collected to
the driver beyond that, matching how a production job terminates in a sink).

The stdout JSON line is compact (2-decimal timings, no spaces) so it
survives tail-capture intact; the full per-query detail (3-decimal timing +
row count for every query, not just the headline set) is also written to
``bench_results.json`` for round-over-round diffing.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
OUT_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_results.json")

#: Headline queries: every operator family, weighted toward the
#: shuffle/join-heavy ones that dominate at scale. (Cheap TPC-H-shape
#: variants whose plan shape is already represented are benched via
#: BENCH_ALL=1 instead, keeping the stdout JSON line tail-capture-sized.)
HEADLINE = [
    "pricing_summary",
    "revenue_by_segment",
    "top_orders_by_revenue",
    "regional_customer_revenue",
    "priority_returned_orders",
    "rollup_revenue",
    "cube_revenue",
    "grouping_sets_revenue",
    "segment_status_pivot",
    "nation_balance_unpivot",
    "brand_revenue",
    "supplier_volume",
    "order_gap_days",
    "running_customer_revenue",
    "segment_top_orders",
    "customer_moving_spend",
    "segment_price_quantiles",
    "monthly_order_stats",
    "customer_order_distribution",
    "sole_supplier_returns",
    "nation_market_share",
    "part_best_supplier",
    "nation_value_concentration",
    "purchase_last_view_asof",
    "events_trailing_burst",
    "events_gap_fill",
    "events_steps_to_purchase",
    "events_hourly",
    "events_hourly_continuous",
    "events_sliding_daily",
    "events_json_stats",
    "events_sessionized",
    "event_transition_matrix",
    "user_state_scd2",
    "events_anomaly_zscore",
    "session_concurrency_profile",
    "customer_pareto_class",
    "orders_benford_deviation",
    "customer_fuzzy_matches",
    "basket_brand_pairs",
    "customer_rfm_segments",
    "brand_discount_qty_slope",
    "events_funnel_windowed",
    "customer_revenue_gini",
    "token_frequencies",
    "doc_quality",
    "corpus_quality_filtered",
    "doc_top_tfidf_term",
    "doc_unigram_logprob",
    "doc_learnability_rho",
    "doc_length_zscore_by_lang",
    "doc_token_entropy",
    "doc_token_entropy_udf",
    "doc_chunks_udtf",
    "benchmark_contamination",
    "corpus_stratified_sample",
    "doc_repetition_stats",
    "embedding_quantization_error",
    "corpus_token_budget_fill",
    "near_dup_clusters",
    "near_dup_canonical_by_source",
    "corpus_group_split",
    "near_dup_cross_source_matrix",
    "near_dup_pagerank",
    "corpus_shuffled_shards",
    "sequence_packing",
    "bpe_merge_candidates",
    "bpe_trained_merges",
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
    "stream_pii_scrub_ingest",
    "quality_rule_breakdown",
    "events_dau_wau",
    "near_dup_cluster_size_histogram",
    "corpus_training_mix_fill",
    "unigram_vocab_em_pruned",
    "stream_session_eviction_timing",
    "corpus_boilerplate_ngrams",
    "doc_boilerplate_coverage",
    "source_epoch_allocation",
    "doc_boilerplate_scrubbed",
    "stream_tumbling_eviction_timing",
    "source_boilerplate_ngrams",
    "source_boilerplate_scrubbed",
    "stream_stateful_eviction_timing",
    "unigram_em_prune_divergence",
    "tokenizer_fertility_by_lang",
    "unigram_lm_segmented",
    "stream_doc_quality_scores",
    "corpus_model_quality_filtered",
    "doc_dsir_weights",
    "source_unigram_kl",
    "doc_ppl_buckets",
    "lang_temperature_rates",
    "corpus_lang_temperature_sampled",
    "doc_ngram_novelty",
    "token_heavy_hitters",
    "doc_pii_scrub",
    "embedding_dim_stats",
    "local_supplier_revenue",
    "dedup_exact",
    "multimodal_dedup_by_digest",
    "dedup_corpus",
    "dedup_incremental",
    "simhash_md5",
    "corpus_prepared",
    "corpus_curation_funnel",
    "stream_ingest_funnel",
    "near_dup_pairs_jaccard",
    "near_dup_pairs_minhash",
    "simhash_fingerprints",
    "near_dup_pairs_simhash",
    "doc_winnowing_fingerprints",
    "doc_winnowing_md5",
    "doc_containment_md5",
    "doc_dup_span_coverage",
    "doc_dup_span_scrubbed",
    "cdc_chunk_dedup",
    "semantic_dedup_bucket_nn",
    "near_dup_incremental",
    "embedding_corr_matrix",
    "embedding_covariance_matrix",
    "embedding_pca_variance",
    "embedding_hard_negatives",
    "bm25_topk",
    "knn_cosine_bruteforce",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "ann_ivfpq_topk",
    "ann_ivfpq_rerank_topk",
    "ann_ivfpq_filtered_topk",
    "ann_ivfpq_adaptive_topk",
    "knn_cosine_bruteforce_filtered",
    "stream_pq_encode_ingest",
    "pq_code_histogram",
    "pq_quantization_error",
    "pq_cell_stats",
    "pq_rebalance_plan",
    "pq_index_rebalanced",
    "ann_ivfpq_batch_topk",
    "embedding_near_dup_pairs",
    "embedding_decontamination",
    "label_centroids",
    "embedding_class_prototypes",
    "user_value_totals_salted",
    "user_distinct_values_salted",
    "segment_value_salted_join",
    "stream_events_hourly",
    "stream_stateful_running_totals",
    "stream_anomaly_zscore",
    "stream_static_enriched_segments",
    "stream_errors_before_purchase_pairs",
    "stream_errors_before_purchase_outer",
    "stream_dedup_eviction_timing",
    "stream_semantic_dedup_ingest",
    "stream_store_deletes",
    "stream_pq_delete_ingest",
    "stream_store_compacted",
    "stream_store_asof",
    "source_mixture_reweighted",
    "corpus_doremi_mix_fill",
    "corpus_curriculum_schedule",
    "source_doremi_epochs",
    "curriculum_shard_manifest",
    "corpus_mix_budget_ablation",
]


def warm_session(spark, sf_dir: str, qs) -> None:
    """Warm the JVM, codegen, parquet footer caches, Python worker pool,
    and streaming engine so the first timed query measures the operator,
    not engine startup. THE shared warmup — tools/measure.py imports
    this so per-query measurements and A/B re-runs use the identical
    regime as the round bench (r7 review: a hand-copied subset drifted)."""
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    from pyspark.sql import functions as F

    spark.read.parquet(f"{sf_dir}/lineitem.parquet").groupBy("l_returnflag").agg(
        F.count(F.lit(1))
    ).collect()
    # compile the IVF assignment codegen (16 x 64-term distance folds)
    # on the tiny corpus — the quantizer itself is a frozen literal
    # artifact since r11, so there is no index fit to warm, only Janino
    qs["ann_ivf_topk"](spark, "/root/testdata/sf0.001").write.format(
        "noop"
    ).mode("overwrite").save()

    # compile the dedup-family codegen shapes on the tiny corpus: the
    # 64-hash minhash fold / LSH banding / CC-loop stages cost ~8s of
    # one-time Janino compilation, and generated-class caching keys on
    # expression SHAPE, so a sf0.001 run warms the exact classes the
    # timed sf0.1 queries execute
    qs["near_dup_clusters"](spark, "/root/testdata/sf0.001").write.format(
        "noop"
    ).mode("overwrite").save()
    qs["simhash_fingerprints"](spark, "/root/testdata/sf0.001").write.format(
        "noop"
    ).mode("overwrite").save()

    # spin up the Python worker pool + Arrow path (first pandas_udf call
    # otherwise pays worker-fork + serializer init inside a timed query)
    from pyspark.sql.functions import pandas_udf

    def _warm_noop(s):
        return s

    # no type hints: `from __future__ import annotations` stringifies them,
    # which pandas_udf's hint inference rejects — pass the type explicitly
    warm_udf = pandas_udf(_warm_noop, "double")
    spark.range(1024).select(warm_udf(F.col("id").cast("double"))).count()

    # initialize the streaming engine (state-store providers, streaming
    # query threads, staged source dir) on a tiny bounded stream so the
    # first timed stream_* query measures the operator, not engine startup
    from airflow_ml_pipeline_spark.streaming.sources import (
        read_events_stream,
        run_available_now,
    )

    run_available_now(
        read_events_stream(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n")),
        output_mode="complete",
    ).count()


def main() -> None:
    from airflow_ml_pipeline_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark("bench", master=f"local[{CPUS}]")
    qs = entrymod.queries()
    names = [n for n in HEADLINE if n in qs] + [
        n for n in qs if n not in HEADLINE and os.environ.get("BENCH_ALL")
    ]

    warm_session(spark, SF_DIR, qs)

    # Contention guard (VERDICT r10 ask #2: the r10 driver's single-pass
    # run read 1.36x on code three other runs agreed was 0.93x — one
    # noisy pass whipsawed the round narrative): one timed pass per query;
    # any query whose first reading exceeds max(2 s, 1.5x its committed
    # previous-round time in bench_results.json) is re-timed once and the
    # MIN is the headline (both readings land in bench_results.json:
    # "first_pass" + "queries"=min, headline = min-sum). A query with no
    # committed prior uses the bare 2 s floor — new expensive queries
    # always get a second reading. Repeated steady-state timing of chosen
    # queries is tools/measure.py -n N.
    try:
        with open(OUT_PATH) as f:
            prev_times: dict[str, float] = json.load(f).get("queries", {}) or {}
    except (OSError, ValueError):
        prev_times = {}

    def _run_once(name: str):
        t0 = time.time()
        df = qs[name](spark, SF_DIR)
        # noop sink, not count(): count() lets Catalyst prune every
        # projected column, so a projection-only query (per-doc
        # fingerprints, per-row feature columns) would bench as a bare
        # scan — the noop write materializes every output column without
        # driver transfer, which is how a production job terminates in a
        # sink
        df.write.format("noop").mode("overwrite").save()
        return time.time() - t0, df

    timings: dict[str, float] = {}
    first_pass: dict[str, float] = {}
    retimed: list[str] = []
    rows: dict[str, int] = {}
    for name in names:
        dt, df = _run_once(name)
        first_pass[name] = round(dt, 3)
        if dt > max(2.0, 1.5 * float(prev_times.get(name, 0.0))):
            dt2, df = _run_once(name)
            retimed.append(name)
            dt = min(dt, dt2)
        timings[name] = round(dt, 3)
        # row counts are a sanity signal, not a timing: BENCH_ROWS=1 opts in
        # (a count re-executes the query, doubling suite wall-clock)
        rows[name] = df.count() if os.environ.get("BENCH_ROWS") else -1
        print(f"# {name}: {rows[name]} rows in {timings[name]}s", file=sys.stderr)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    detail = {
        "metric": "declared_query_suite_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf": sf_val,
        "cpus": int(CPUS),
        "queries": timings,
        "first_pass": first_pass,
        "retimed": sorted(retimed),
        "rows": rows,
    }
    with open(OUT_PATH, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    out = {
        "metric": "declared_query_suite_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": {n: round(t, 2) for n, t in timings.items()},
        "sf": sf_val,
    }
    # The driver records only the LAST ~2000 bytes of stdout and parses
    # the JSON line out of that window (BENCH_r12/r13 both landed
    # "parsed": null once the full 165-query map outgrew it — VERDICT
    # r13 ask #6). Keep the headline line comfortably inside the window:
    # the full map always lands in bench_results.json; stdout keeps the
    # SLOWEST queries that fit the budget plus an omission count.
    budget = 1800
    line = json.dumps(out, separators=(",", ":"))
    if len(line) > budget:
        ordered = sorted(timings.items(), key=lambda kv: (-kv[1], kv[0]))
        kept: dict[str, float] = {}
        out["queries"] = kept
        out["queries_omitted"] = len(timings)
        out["detail"] = "bench_results.json"
        for n, t in ordered:
            kept[n] = round(t, 2)
            out["queries_omitted"] = len(timings) - len(kept)
            if len(json.dumps(out, separators=(",", ":"))) > budget:
                del kept[n]
                break
        # Re-check the FINAL serialization (ADVICE r14): dropping the
        # overflowing entry grows queries_omitted by one, and when that
        # count crosses a digit boundary the line gains a byte the loop
        # never measured — shed trailing (fastest-kept) entries until the
        # invariant `len(line) <= budget` actually holds.
        while True:
            out["queries_omitted"] = len(timings) - len(kept)
            line = json.dumps(out, separators=(",", ":"))
            if len(line) <= budget or not kept:
                break
            del kept[next(reversed(kept))]
    print(line)


if __name__ == "__main__":
    main()
