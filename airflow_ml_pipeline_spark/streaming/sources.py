"""Streaming sources: file-replay of the events table.

The test corpus is static parquet; the streaming engine consumes it through
a real ``readStream`` file source (staged into a driver-writable directory,
since the corpus dir is read-only and a file source needs a listable
directory it owns). In production this source is swapped for Kafka/Kinesis
— every downstream operator is source-agnostic.

``events.ts`` is normalized to TIMESTAMP at the scan boundary via the same
``normalize_event_time`` the batch catalog uses, so batch and stream see
identical event times under every corpus encoding (nanos-as-bigint, naive
µs → TIMESTAMP_NTZ, or tz-aware µs). Watermarks require TIMESTAMP, so the
normalization is load-bearing here, not cosmetic.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from airflow_ml_pipeline_spark.sources.catalog import normalize_event_time


def stage_events_dir(sf_dir: str) -> str:
    """Copy the events parquet into a staging directory, one ingest state
    family keyed on the table's content fingerprint (``ingest.state_dirs``)
    — a corpus regenerated in place, or two sf_dirs sharing a basename,
    must get a fresh staging dir instead of replaying stale events."""
    from airflow_ml_pipeline_spark.streaming.ingest import state_dirs

    src = os.path.join(os.path.abspath(sf_dir), "events.parquet")
    (stage,) = state_dirs("events", sf_dir, "events", "stage")
    marker = os.path.join(stage, "_staged")
    if not os.path.exists(marker):
        os.makedirs(stage, exist_ok=True)
        if os.path.isdir(src):
            shutil.copytree(src, os.path.join(stage, "events.parquet"),
                            dirs_exist_ok=True)
        else:
            shutil.copy(src, stage)
        with open(marker, "w") as f:
            f.write("ok")
    return stage


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as a streaming DataFrame with microsecond event-time ts
    (TIMESTAMP type — watermark-ready under every corpus encoding)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stage = stage_events_dir(sf_dir)
    raw_schema = spark.read.parquet(os.path.join(stage, "events.parquet")).schema
    stream = spark.readStream.schema(raw_schema).format("parquet").load(stage)
    return normalize_event_time(stream)


_COUNTER = {"n": 0}
#: ``spark.sql.shuffle.partitions`` for the duration of every stream
#: (``run_available_now`` here, ``ingest.replay``): see run_available_now
STREAM_SHUFFLE_PARTITIONS = 8


def run_available_now(
    stream_df: DataFrame,
    output_mode: str = "complete",
    skip_no_data_batch: bool = False,
    collect_progress: list | None = None,
) -> DataFrame:
    """Execute a streaming query over all currently-available input
    (Trigger.AvailableNow) into a memory sink and return the result table.
    This is a genuine incremental execution — micro-batches, state store,
    watermarks — not a batch rewrite.

    A stateful streaming query instantiates one state store per shuffle
    partition, and that count is locked in at query start — it is a
    throughput-sizing knob, not a data-layout one. The batch default (32)
    means 32 store instances per stateful operator per micro-batch, pure
    overhead on replay-sized input, so the conf is scoped down for the
    stream's duration and restored after (results are partitioning-
    independent; at production throughput this is set to cluster width).

    ``skip_no_data_batch``: AvailableNow appends one empty micro-batch
    after the data is consumed so watermark advancement can evict state
    and emit watermark-gated results (outer-join nulls, closed session
    windows). A stateless sink or an INNER stream-stream join in append
    mode emits every row in the data batches — the trailing batch only
    evicts state the terminating query discards anyway — so callers
    whose output provably doesn't depend on final-watermark eviction can
    skip it (a full state reload + commit per store: ~1s/query here).
    Leave False for ANY watermark-emitting shape.

    NB the skip toggles the SESSION-wide
    ``spark.sql.streaming.noDataMicroBatches.enabled`` conf for this
    stream's duration (restored in the ``finally``). A stream started
    CONCURRENTLY on the same session would inherit the disabled setting
    and could lose watermark-gated output. Every caller in this engine
    runs streams sequentially (one `run_available_now` at a time) and
    the guard below ENFORCES that invariant (ADVICE r7): toggling with
    another stream active raises instead of silently corrupting the
    concurrent stream's eviction-emitted rows. If concurrent streams
    ever become a supported pattern, scope this per-query instead."""
    spark = stream_df.sparkSession
    if skip_no_data_batch:
        active = [q.name for q in spark.streams.active if q.isActive]
        if active:
            raise RuntimeError(
                "skip_no_data_batch toggles the session-wide "
                "noDataMicroBatches conf; refusing with other streaming "
                f"queries active on this session: {active}"
            )
    _COUNTER["n"] += 1
    name = f"stream_result_{_COUNTER['n']}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    prev_nodata = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled", "true"
    )
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_SHUFFLE_PARTITIONS))
    if skip_no_data_batch:
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try:
        query = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
        if collect_progress is not None:
            import json as _json

            for p in query.recentProgress:
                collect_progress.append(
                    _json.loads(p.json) if hasattr(p, "json") else p
                )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", prev_nodata
        )
    return spark.table(name)


def rows_dropped_by_watermark(progress: list[dict]) -> int:
    """Total late rows the state store REFUSED across a run — the
    data-loss observability counter an ingestion dashboard alerts on
    (summed over every micro-batch's stateOperators). Collected via
    ``run_available_now(..., collect_progress=[...])``; Spark only
    counts a drop after the window's state is evicted, so a zero here
    plus a shrinking input/output gap means late rows MERGED, not
    vanished."""
    total = 0
    for p in progress:
        for op in p.get("stateOperators", []) or []:
            total += int(op.get("numRowsDroppedByWatermark", 0) or 0)
    return total
