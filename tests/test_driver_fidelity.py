"""Driver-environment fidelity: the correctness harness imports
``__spark_entry__`` into its OWN plain SparkSession (default confs,
whatever timezone the host has). Engine sessions are tuned/UTC, so an
engine that only works under its own session passes every other test and
still fails the driver — exactly how the round-2 TIMESTAMP_NTZ regression
slipped through. This test reproduces the driver: a subprocess with
TZ=America/New_York, a PLAIN session, and timestamp-sensitive queries
(batch arithmetic + streaming watermark) hash-compared against DuckDB.

Subprocess isolation matters twice over: the session-scoped ``spark``
fixture must not be contaminated, and TZ must be set before the JVM
starts for the timezone leak to be reproduced faithfully.
"""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = r"""
import os
import sys
import duckdb
from pyspark.sql import SparkSession

spark = SparkSession.builder.master("local[4]").appName("fidelity").getOrCreate()
sys.path.insert(0, os.getcwd())
import __spark_entry__ as entry

sf = "/root/testdata/sf0.001"
assert entry.entry(spark).count() >= 0

qs, oracles = entry.queries(), entry.oracle_sql()
con = duckdb.connect()
from airflow_ml_pipeline_spark.schemas import TABLE_NAMES
for t in TABLE_NAMES:
    con.execute(
        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
    )

import datetime, hashlib, math

def norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return str(v)

def vhash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode()); h.update(b"\n")
    return h.hexdigest()

CHECK = [
    "events_hourly",            # ts truncation arithmetic
    "purchase_last_view_asof",  # unix_micros as-of join
    "stream_events_hourly",     # streaming watermark (NTZ would error)
    "user_eventtype_map_stats", # round-2 dtype-artifact witness
]
for name in CHECK:
    sdf = qs[name](spark, sf)
    srows = sdf.collect()
    rel = con.sql(oracles[name])
    drows = rel.fetchall()
    assert len(srows) == len(drows), f"{name}: rowcount {len(srows)} != {len(drows)}"
    assert vhash(srows, sdf.columns) == vhash(drows, rel.columns), f"{name}: hash"
print("FIDELITY_OK")
"""


def test_plain_session_non_utc_matches_oracle():
    env = dict(os.environ, TZ="America/New_York")
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
        cwd=ROOT,
    )
    assert proc.returncode == 0, f"stdout:\n{proc.stdout}\nstderr:\n{proc.stderr[-3000:]}"
    assert "FIDELITY_OK" in proc.stdout
