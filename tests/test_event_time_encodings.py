"""Scan-boundary event-time normalization across corpus encodings.

The driver corpus has shipped ``events.ts`` as parquet TIMESTAMP(NANOS)
(read as bigint under nanosAsLong), naive ``timestamp[us]`` (read as
TIMESTAMP_NTZ by Spark 4.x), and tz-aware ``timestamp[us, tz=UTC]``
(read as TIMESTAMP). ``normalize_event_time`` must map all three to the
same TIMESTAMP instants so watermarks and ``unix_micros`` arithmetic work
and DuckDB-oracle semantics match (round-2 verdict item #1/#8).
"""

from __future__ import annotations

import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from airflow_ml_pipeline_spark.sources.catalog import normalize_event_time
from airflow_ml_pipeline_spark.streaming.sources import (
    read_events_stream,
    run_available_now,
)

# deterministic instants; the corpus stores µs precision
INSTANTS = [
    datetime.datetime(2024, 1, 1, 0, 0, 0, 123456),
    datetime.datetime(2024, 6, 15, 13, 37, 42, 999999),
    datetime.datetime(2025, 12, 31, 23, 59, 59, 1),
]
EXPECT_MICROS = [
    int(t.replace(tzinfo=datetime.timezone.utc).timestamp()) * 1_000_000 + t.microsecond
    for t in INSTANTS
]


def _write(path, arrow_type, tz_aware: bool):
    vals = INSTANTS
    if tz_aware:
        vals = [t.replace(tzinfo=datetime.timezone.utc) for t in INSTANTS]
    table = pa.table({"event_id": [1, 2, 3], "ts": pa.array(vals, type=arrow_type)})
    pq.write_table(table, path)


@pytest.mark.parametrize(
    "arrow_type,tz_aware,expect_raw",
    [
        (pa.timestamp("ns"), False, "bigint"),
        (pa.timestamp("us"), False, "timestamp_ntz"),
        (pa.timestamp("us", tz="UTC"), True, "timestamp"),
    ],
    ids=["nanos-bigint", "naive-ntz", "utc-ltz"],
)
def test_encoding_normalizes_to_same_instants(
    spark, tmp_path, arrow_type, tz_aware, expect_raw
):
    """The batch scan and the events stream (``tmp_path`` as the sf_dir)
    both read every encoding as the same TIMESTAMP instants."""
    path = str(tmp_path / "events.parquet")
    _write(path, arrow_type, tz_aware)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    assert dict(df.dtypes)["ts"] == expect_raw
    out = normalize_event_time(df)
    assert dict(out.dtypes)["ts"] == "timestamp"
    micros = [
        r.us for r in out.selectExpr("unix_micros(ts) AS us").orderBy("us").collect()
    ]
    assert micros == sorted(EXPECT_MICROS)

    stream = read_events_stream(spark, str(tmp_path))
    assert dict(stream.dtypes)["ts"] == "timestamp"
    streamed = run_available_now(
        stream.selectExpr("unix_micros(ts) AS us"), output_mode="append"
    )
    assert sorted(r.us for r in streamed.collect()) == sorted(EXPECT_MICROS)


def test_ntz_normalization_is_session_timezone_independent(spark, tmp_path):
    """A library caller on an untuned non-UTC session must get the same
    instants: the NTZ wall-clock is pinned to UTC regardless of
    ``spark.sql.session.timeZone`` (round-3 ADVICE, catalog.py)."""
    path = str(tmp_path / "events_ntz.parquet")
    _write(path, pa.timestamp("us"), tz_aware=False)
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        out = normalize_event_time(spark.read.parquet(path))
        micros = [
            r.us
            for r in out.selectExpr("unix_micros(ts) AS us").orderBy("us").collect()
        ]
        assert micros == sorted(EXPECT_MICROS)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
