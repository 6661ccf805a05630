"""Tests for the mergeable daily rollup, changelog compaction, mixture
weights, and length histogram. The DuckDB oracle check is the primary gate;
these assert the operator-level semantics the oracle cannot see (sketch
losslessness, key-uniqueness, normalization)."""

from __future__ import annotations

from pyspark.sql import functions as F

from airflow_ml_pipeline_spark.operators import corpus_ops, temporal, textstats
from airflow_ml_pipeline_spark.operators.events import events_latest_by_key
from airflow_ml_pipeline_spark.sources.catalog import load_table


def test_daily_rollup_merge_is_consistent_and_within_tolerance(spark, sf_dir):
    rows = temporal.events_daily_rollup_merge(spark, sf_dir).collect()
    assert rows, "rollup produced no days"
    # HLL union of hourly partials must track sketching the day directly
    # (within the 2% transition-zone bound; identical in exact mode), and
    # the estimate must sit within the declared 5% of exact
    assert all(r.merge_consistent == 1 for r in rows)
    assert all(r.users_sketch_ok == 1 for r in rows)
    # additive metrics must equal a direct daily aggregate exactly
    ev = load_table(spark, sf_dir, "events")
    direct = {
        r.day: (r.n, round(r.tv, 6))
        for r in ev.groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias("tv"),
        )
        .collect()
    }
    for r in rows:
        n, tv = direct[r.day]
        assert r.n_events == n
        assert round(r.total_value, 6) == tv


def test_latest_by_key_is_unique_and_maximal(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    res = events_latest_by_key(spark, sf_dir)
    n_keys = ev.select("user_id", "event_type").distinct().count()
    assert res.count() == n_keys
    # the compacted ts is the key's max ts
    maxes = ev.groupBy("user_id", "event_type").agg(
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("max_ts")
    )
    mismatched = (
        res.join(maxes, ["user_id", "event_type"])
        .filter(F.col("last_ts") != F.col("max_ts"))
        .count()
    )
    assert mismatched == 0


def test_mixture_weights_normalize_and_upweight_low_resource(spark, sf_dir):
    rows = corpus_ops.corpus_mixture_weights(spark, sf_dir).collect()
    assert abs(sum(r.mix_weight for r in rows) - 1.0) < 1e-5
    assert all(r.expected_epochs > 0 for r in rows)
    # alpha<1: smaller languages get MORE than proportional share -> their
    # expected epoch count exceeds the largest language's
    big = max(rows, key=lambda r: r.lang_chars)
    small = min(rows, key=lambda r: r.lang_chars)
    assert small.expected_epochs > big.expected_epochs


def test_length_histogram_partitions_the_corpus(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    rows = textstats.doc_length_histogram(spark, sf_dir).collect()
    assert sum(r.n_docs for r in rows) == docs.count()
    assert all(r.bucket_lo % 100 == 0 for r in rows)


def test_anomaly_zscore_flags_planted_spike(spark):
    """A spike against a stable alternating baseline is the only flagged
    event; scoring starts only once the trailing baseline is full enough."""
    import datetime

    from airflow_ml_pipeline_spark.operators.events import anomaly_scored

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (i, "m", t0 + datetime.timedelta(seconds=i), 10.0 if i % 2 else 12.0)
        for i in range(60)
    ]
    rows.append((60, "m", t0 + datetime.timedelta(seconds=60), 100.0))
    # a second event type with too little history: never scored
    rows += [
        (100 + i, "q", t0 + datetime.timedelta(seconds=i), float(i))
        for i in range(10)
    ]
    ev = spark.createDataFrame(rows, ["event_id", "event_type", "ts", "value"])
    out = anomaly_scored(ev).collect()
    assert [r.event_id for r in out] == [60]
    assert out[0].z > 3


def test_anomaly_zscore_corpus_bounds(spark, sf_dir):
    from airflow_ml_pipeline_spark.operators import events

    out = events.events_anomaly_zscore(spark, sf_dir).collect()
    assert out, "uniform-ish synthetic values still produce tail events"
    assert all(abs(r.z) > 3 for r in out)
