"""Table catalog: scans/sinks for the engine.

Covers SURVEY.md §2.1: parquet scan (S9), CSV scan/sink with declared schema
(S1/S2), JSON report sink stays driver-side (S6). Parquet is the engine's
native interchange format — self-describing footer gives column pruning and
predicate/partition pushdown for free; CSV is kept only for reference parity.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from airflow_ml_pipeline_spark import schemas

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def normalize_event_time(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to TIMESTAMP (with local time zone),
    whatever parquet encoding the corpus used.

    The corpus has shipped ``events.ts`` under three encodings across driver
    versions, and the engine must read all of them identically:

    - ``TIMESTAMP(NANOS)``: Spark's vectorized reader rejects nanos, so the
      session sets ``spark.sql.legacy.parquet.nanosAsLong`` and the column
      arrives as BIGINT nanoseconds → truncate to µs and convert
      (``timestamp_micros``), the same ns→µs truncation DuckDB applies.
    - naive ``timestamp[us]`` → Spark 4.x reads TIMESTAMP_NTZ. Watermarks
      and ts arithmetic (``unix_micros``) require TIMESTAMP, so convert —
      timezone-INDEPENDENTLY: the naive wall-clock becomes the same UTC
      instant regardless of ``spark.sql.session.timeZone``. A bare cast
      would interpret the wall-clock in the session zone (correct only
      while session.py pins UTC); composing it with ``from_utc_timestamp``
      over that same session zone cancels the offset, so a library caller
      on an untuned non-UTC session still gets DuckDB's treatment of the
      naive value — no shift.
    - ``timestamp[us, tz=UTC]`` → already TIMESTAMP; pass through.

    The cast happens at the scan boundary so every downstream operator
    (batch and streaming) sees one canonical type.
    """
    dtype = dict(df.dtypes).get(col)
    if dtype == "bigint":
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if dtype == "timestamp_ntz":
        tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        return df.withColumn(
            col, F.from_utc_timestamp(F.col(col).cast("timestamp"), tz)
        )
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan of one driver-corpus table (schemas.TESTDATA).

    ``events.ts`` is normalized to TIMESTAMP at the scan boundary — see
    ``normalize_event_time`` for the three corpus encodings handled.
    """
    if name not in schemas.TESTDATA:
        raise ValueError(f"Unknown table: {name}")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_event_time(df)
    return df


def table_fingerprint(sf_dir: str, name: str) -> str:
    """Content version of one corpus table: sha256 over the table's
    absolute path plus each file's (name, mtime_ns, size), first 16 hex
    digits. Every store, stage and cache derived from a table is keyed by
    it, so a table regenerated in place, or two sf_dirs sharing a
    basename, never serve each other's state."""
    if name not in schemas.TESTDATA:
        raise ValueError(f"Unknown table: {name}")
    src = os.path.join(os.path.abspath(sf_dir), f"{name}.parquet")
    h = hashlib.sha256(src.encode())
    if os.path.isdir(src):
        for f in sorted(os.listdir(src)):
            st = os.stat(os.path.join(src, f))
            h.update(f"{f}:{st.st_mtime_ns}:{st.st_size};".encode())
    elif os.path.exists(src):
        st = os.stat(src)
        h.update(f"{st.st_mtime_ns}:{st.st_size};".encode())
    return h.hexdigest()[:16]


def load_spread(
    spark: SparkSession, sf_dir: str, name: str, by: str | None = None
) -> DataFrame:
    """``load_table`` + repartition to the session's default parallelism —
    for COMPUTE-bound lineages over byte-small tables.

    A small parquet table arrives as one scan partition (one file, one row
    group), so expensive per-row work that precedes the first shuffle —
    shingling, MinHash, fingerprint hashing, LSH bucket codes — would run
    on a single core no matter how wide the session is. Sizing rule:
    compute-bound stages are partitioned by CORES, byte-bound stages by
    input bytes. The repartition is a tiny exchange here; on a real cluster
    where the table already arrives in many splits it degenerates to a
    rebalance and the downstream plan is unchanged.

    ``by``: hash-partition on that column instead of round-robin. When the
    downstream lineage explodes rows and then windows/aggregates BY THAT
    KEY (winnowing postings, span grams), the key partitioning survives
    the Generate, EnsureRequirements sees ClusteredDistribution(key)
    already satisfied, and the exploded postings never cross the network —
    the shuffle moves the documents (bytes of text) instead of the
    postings (tens of bytes PER CHARACTER of text). Same trick as
    bucketing, without the table rewrite (guide §2.4); hash on a
    near-unique key spreads as evenly as round-robin and skips the
    sort-before-repartition pass round-robin pays for retry determinism.
    """
    df = load_table(spark, sf_dir, name)
    n = spark.sparkContext.defaultParallelism
    if by is not None:
        return df.repartition(n, F.col(by))
    return df.repartition(n)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every corpus table as a temp view (for spark.sql paths)."""
    for name in schemas.TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_csv(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """CSV scan with a declared schema — never inferSchema in the engine
    proper (SURVEY.md §1.3; reference: data_ingestion.py:183)."""
    return spark.read.schema(schema).option("header", True).csv(path)


def write_csv(df: DataFrame, path: str) -> None:
    """CSV sink, header, overwrite (reference: data_ingestion.py:190)."""
    df.write.mode("overwrite").option("header", True).csv(path)


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Parquet sink — the engine's default checkpoint format (replaces the
    reference's .npy/joblib inter-task files, SURVEY.md §2.1 S4)."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def read_json(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """JSON-lines scan with a declared schema (schema-on-read, no
    inference pass — at 100 TB an inference pre-scan doubles the read)."""
    return spark.read.schema(schema).json(path)


def write_json(df: DataFrame, path: str) -> None:
    """JSON-lines sink (interchange format for downstream non-Spark
    consumers; Parquet remains the engine-internal checkpoint format)."""
    df.write.mode("overwrite").json(path)


def read_orc(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    """ORC scan — columnar alternative with the same pushdown/pruning
    properties as Parquet (schema optional: ORC stores it)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def write_orc(df: DataFrame, path: str) -> None:
    """ORC sink."""
    df.write.mode("overwrite").orc(path)


def compact_parquet(
    spark: SparkSession, src: str, dst: str, target_mb: int = 256
) -> int:
    """Small-files compaction: rewrite a parquet directory into files of
    ~``target_mb`` each, returning the output file count.

    The small-files problem dominates long-lived 100 TB tables (every file
    costs a task + a footer read + namenode metadata); compaction jobs run
    on a schedule against cold partitions. Sizing by actual on-disk bytes
    (not row counts) keeps output stable across schema/compression
    changes. One wide repartition — at scale, run per partition-directory
    instead of whole-table.
    """
    import math
    import os

    total = 0
    for root, _dirs, files in os.walk(src):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    n_files = max(1, math.ceil(total / (target_mb * 1024 * 1024)))
    df = spark.read.parquet(src)
    df.repartition(n_files).write.mode("overwrite").parquet(dst)
    return n_files
