"""Streaming semantic-dedup ingest: metamorphic convergence to the
batch twin, exactly-once retry idempotence, and the suppressed-set
shape."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from airflow_ml_pipeline_spark.operators.similarity import (
    semantic_dedup_bucket_nn,
)
from airflow_ml_pipeline_spark.sources.catalog import load_table
from airflow_ml_pipeline_spark.streaming import ingest


def test_stream_semantic_converges_to_batch_twin(spark, sf_dir):
    """THE metamorphic pin (the reason for RANGE staging): the streaming
    survivor set equals the batch twin's unpruned set exactly — every
    vector the batch pass prunes (a lower-id same-bucket neighbor at
    cos >= tau exists) is suppressed at ingest, every other vector
    survives (vectors alone in their bucket are trivial survivors the
    batch query omits from its report)."""
    survivors = {
        r.vec_id
        for r in ingest.stream_semantic_dedup_ingest(spark, sf_dir).collect()
    }
    batch = semantic_dedup_bucket_nn(spark, sf_dir).collect()
    pruned = {r.vec_id for r in batch if r.pruned == 1}
    reported = {r.vec_id for r in batch}
    all_ids = {
        r.vec_id
        for r in load_table(spark, sf_dir, "embeddings")
        .select("vec_id")
        .collect()
    }
    assert survivors == all_ids - pruned
    # sanity: the batch report covers exactly the non-singleton buckets
    assert reported <= all_ids


def test_stream_semantic_batch_retry_is_idempotent(spark, sf_dir):
    """Re-running the last micro-batch's foreachBatch body (the retry
    the checkpoint can trigger) rewrites the same partition with the
    same rows — survivors and store byte-converge."""
    survivors_dir = ingest.run_sem_dedup_ingest(spark, sf_dir)
    arrivals, store = ingest.state_dirs(
        "vec", sf_dir, "embeddings", "arrivals", "sem_store"
    )
    last = ingest.SEM_N_BATCHES - 1
    before = sorted(
        tuple(r)
        for r in spark.read.option("basePath", survivors_dir)
        .parquet(survivors_dir)
        .collect()
    )
    batch_df = spark.read.parquet(
        os.path.join(arrivals, f"batch-{last}.parquet")
    )
    ingest.upsert_sem_batch(batch_df, last, store, survivors_dir)
    after = sorted(
        tuple(r)
        for r in spark.read.option("basePath", survivors_dir)
        .parquet(survivors_dir)
        .collect()
    )
    assert before == after


def test_stream_semantic_store_records_every_arrival(spark, sf_dir):
    """Seen-content semantics: the store holds ALL arrivals (suppressed
    vectors included — the batch twin's prune rule compares against
    pruned vectors too), partitioned by the staged batch."""
    ingest.run_sem_dedup_ingest(spark, sf_dir)
    (store,) = ingest.state_dirs("vec", sf_dir, "embeddings", "sem_store")
    n_store = spark.read.option("basePath", store).parquet(store).count()
    n_all = load_table(spark, sf_dir, "embeddings").count()
    assert n_store == n_all
    survivors = ingest.stream_semantic_dedup_ingest(spark, sf_dir)
    assert survivors.count() <= n_all
    # suppressed vectors have a lower-id same-bucket neighbor by
    # construction — spot the invariant on the suppressed set
    kept = {r.vec_id for r in survivors.collect()}
    st = spark.read.option("basePath", store).parquet(store)
    buckets = {r.vec_id: r.bucket for r in st.select("vec_id", "bucket").collect()}
    for vid in set(buckets) - kept:
        peers = [u for u, bkt in buckets.items() if bkt == buckets[vid] and u < vid]
        assert peers, f"suppressed {vid} has no earlier same-bucket peer"


def test_range_staging_rejects_non_dense_vec_ids(spark, tmp_path, monkeypatch):
    """Planted failure for the ADVICE r13 staging guard: a corpus whose
    vec_ids are not dense 0..n-1 would map some vector to a batch index
    outside [0, N) and silently never stage it — the guard must fail
    LOUDLY at staging time, before any arrival file is written."""
    import pytest

    sparse = spark.range(3).select(
        (F.col("id") * 7 + 100).alias("vec_id"),
        F.lit(0).alias("label"),
        F.array(*[F.lit(0.1)] * 4).alias("embedding"),
    )
    monkeypatch.setattr(
        ingest, "load_table", lambda _s, _d, _t: sparse
    )
    with pytest.raises(RuntimeError, match="dense 0..n-1 vec_ids"):
        ingest.stage_range_vec_batches(
            spark, "/nonexistent-sf", arrivals=str(tmp_path / "arr")
        )
    assert not (tmp_path / "arr").exists()


def test_range_staging_rejects_negative_vec_id(spark, tmp_path, monkeypatch):
    """A negative vec_id truncates into batch 0, where the staging pass's
    batch check cannot see it: the density guard must reject it."""
    import pytest

    shifted = spark.range(8).select(
        (F.col("id") - 1).alias("vec_id"),
        F.lit(0).alias("label"),
        F.array(*[F.lit(0.1)] * 4).alias("embedding"),
    )
    monkeypatch.setattr(ingest, "load_table", lambda _s, _d, _t: shifted)
    with pytest.raises(RuntimeError, match=r"span \[-1, 6\]"):
        ingest.stage_range_vec_batches(
            spark, "/nonexistent-sf", arrivals=str(tmp_path / "arr")
        )
    assert not (tmp_path / "arr").exists()
