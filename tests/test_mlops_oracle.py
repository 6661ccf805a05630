"""Pins for the round-11 engineered_customer_features oracle promotion:
the frozen quantile literal, the staged-parquet lifecycle, and e4-lattice
parity with the float feature path (add_engineered_features)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from airflow_ml_pipeline_spark.operators import mlops
from airflow_ml_pipeline_spark.operators.features import add_engineered_features
from airflow_ml_pipeline_spark.operators.generate import generate_synthetic_data


def test_frozen_high_value_threshold(spark):
    """HIGH_VALUE_THRESHOLD_2000 is the exact 75th percentile (linear
    interpolation) of the committed generator output — regenerating the
    frame reproduces the literal bit-for-bit (generation is partition-
    pinned, so this holds in ANY session)."""
    df = generate_synthetic_data(spark, n_samples=2000, random_state=42)
    thr = df.agg(F.percentile("monthly_charges", F.lit(0.75))).collect()[0][0]
    assert thr == mlops.HIGH_VALUE_THRESHOLD_2000


def test_engineered_features_e4_parity(spark, sf_dir):
    """The e4-lattice columns the declared query emits match a pure-Python
    replay of the SAME IEEE op order (x * 10000.0 / tenure, floored) over
    the float path's rows — exact, every row — and sit within one lattice
    step of the float ratios themselves (op-order ulps at a floor
    boundary move the value by at most 1 e4 unit; anything more is
    semantic drift)."""
    from collections import Counter

    rows = Counter(
        (r.tenure, r.charge_per_tenure_e4, r.support_intensity_e4,
         r.tenure_bucket, r.high_value, r.churn)
        for r in mlops.engineered_customer_features(spark, sf_dir).collect()
    )
    df = generate_synthetic_data(spark, n_samples=2000, random_state=42)
    feats = add_engineered_features(
        df, high_value_threshold=mlops.HIGH_VALUE_THRESHOLD_2000
    ).collect()
    expect = Counter()
    for r in feats:
        assert r.tenure > 0  # generator clips to [1, 72]
        charge_e4 = math.floor(r.total_charges * 10000.0 / r.tenure)
        support_e4 = math.floor(r.num_support_tickets * 10000.0 / r.tenure)
        assert abs(charge_e4 - r.charge_per_tenure * 10000.0) <= 1.0
        assert abs(support_e4 - r.support_intensity * 10000.0) <= 1.0
        expect[
            (r.tenure, charge_e4, support_e4, r.tenure_bucket,
             r.high_value, r.churn)
        ] += 1
    assert rows == expect


def test_stage_dir_is_rewritten(spark, sf_dir, tmp_path, monkeypatch):
    """The query overwrites the staged checkpoint every run (exactly-once
    per invocation — a stale stage from a previous corpus can't leak
    into the oracle compare)."""
    import os

    stage = str(tmp_path / "stage.parquet")
    monkeypatch.setattr(mlops, "STAGE_CUSTOMERS", stage)
    # note: the oracle string already interpolated the real path
    # (<ingest process root>/synthetic_customers_2000.parquet) at import;
    # this test only exercises the engine-side write lifecycle
    n1 = mlops.engineered_customer_features(spark, sf_dir).count()
    assert os.path.isdir(stage)
    n2 = mlops.engineered_customer_features(spark, sf_dir).count()
    assert n1 == n2 == 2000
