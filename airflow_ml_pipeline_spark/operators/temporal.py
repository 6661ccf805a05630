"""Temporal operators Spark lacks as builtins, expressed as compositions of
existing DataFrame ops (SURVEY.md 'custom operators' guidance: composition
first, Pandas UDF only when semantics demand it):

- **as-of join** (most recent earlier row) via the union + running-last
  trick: tag both sides, union, one window pass per key carries the latest
  right-side value forward — NO range-join explosion, one shuffle on the
  key. This is the scalable as-of algorithm (the naive inequality join is
  quadratic per key).
- **range window frames** (events within a trailing interval) via
  Window.rangeBetween over epoch seconds.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from airflow_ml_pipeline_spark.functions.compare import SQL_DSUM, SQL_TS, fmt_ts
from airflow_ml_pipeline_spark.plans.registry import query
from airflow_ml_pipeline_spark.sources.catalog import load_table


def asof_join_last_event(
    events: DataFrame, match_type: str, target_type: str
) -> DataFrame:
    """For each ``target_type`` event, the same user's most recent STRICTLY
    EARLIER ``match_type`` event time. Single window pass: the running max
    of match-event timestamps over preceding rows is exactly the as-of
    lookup when both sides live in one keyed stream."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prior_match = F.max(
        F.when(F.col("event_type") == match_type, F.col("ts"))
    ).over(w)
    return (
        events.withColumn("asof_ts", prior_match)
        .filter(F.col("event_type") == target_type)
        .select("event_id", "user_id", "ts", "asof_ts")
    )


@query(
    "purchase_last_view_asof",
    oracle=f"""
    WITH tagged AS (
        SELECT event_id, user_id, ts, event_type,
               MAX(CASE WHEN event_type = 'view' THEN ts END) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS asof_ts
        FROM events
    )
    SELECT event_id, user_id,
           {SQL_TS('ts')} AS purchase_ts,
           {SQL_TS('asof_ts')} AS last_view_ts,
           CASE WHEN asof_ts IS NOT NULL
                THEN epoch_us(ts) - epoch_us(asof_ts) END AS gap_us
    FROM tagged
    WHERE event_type = 'purchase'
    """,
)
def purchase_last_view_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's most recent prior
    view (running-max composition — one shuffle, no inequality join)."""
    ev = load_table(spark, sf_dir, "events")
    asof = asof_join_last_event(ev, match_type="view", target_type="purchase")
    gap = F.when(
        F.col("asof_ts").isNotNull(),
        F.unix_micros(F.col("ts")) - F.unix_micros(F.col("asof_ts")),
    )
    return asof.select(
        "event_id",
        "user_id",
        fmt_ts(F.col("ts")).alias("purchase_ts"),
        fmt_ts(F.col("asof_ts")).alias("last_view_ts"),
        gap.alias("gap_us"),
    )


@query(
    "events_trailing_burst",
    oracle="""
    SELECT event_id, user_id,
           CAST(COUNT(*) OVER (
               PARTITION BY user_id ORDER BY ts
               RANGE BETWEEN INTERVAL 5 MINUTES PRECEDING AND CURRENT ROW)
             AS BIGINT) AS n_last_5min
    FROM events
    """,
)
def events_trailing_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range window frame: per event, how many of the user's events fall in
    the trailing 5 minutes (burst detection). Spark range frames need a
    numeric sort key → epoch seconds with a [-300, 0] frame; DuckDB states
    the same frame as an INTERVAL. Ties on ts are frame-equivalent (RANGE
    frames include peers), so results match without a tiebreaker."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")) / 1_000_000)
        .rangeBetween(-300, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_last_5min"),
    )


@query(
    "corpus_sketch_stats",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           CAST(1 AS BIGINT) AS parts_sketch_ok,
           CAST(1 AS BIGINT) AS orders_sketch_ok,
           CAST(1 AS BIGINT) AS median_sketch_ok,
           CAST(1 AS BIGINT) AS p99_sketch_ok
    FROM lineitem
    """,
)
def corpus_sketch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The approximate aggregates used instead of exact ones at 100 TB:
    HLL distinct counts and t-digest-style percentiles in one pass.

    Sketch values are engine-specific, so the oracle contract is a
    *self-verifying twin*: the Spark side computes both the sketch AND the
    exact aggregate, emits the exact values plus within-tolerance flags
    (HLL rsd 1% → the 5% tolerance is a 5-sigma bound at every scale
    factor; percentile_approx accuracy 10000), and DuckDB
    asserts the exact values with the flags as literal 1s. A sketch drifting
    out of tolerance flips a flag and fails the hash check — the sketch
    accuracy itself is what gets driver-verified."""
    li = load_table(spark, sf_dir, "lineitem")

    def ok(approx: F.Column, exact: F.Column, tol: float) -> F.Column:
        rel = F.abs(approx.cast("double") - exact.cast("double")) / exact.cast("double")
        return F.when(rel <= tol, F.lit(1)).otherwise(F.lit(0)).cast("bigint")

    # Two separate single-row aggregates, cross-joined: two COUNT(DISTINCT)
    # on different keys in ONE aggregate make Spark plan an Expand (x3 row
    # multiplication), and the exact-percentile + QuantileSummaries buffers
    # riding those expanded rows were the suite's only measured spill
    # (310 MB at sf0.01, shuffle-economy audit r9). Split, the heavy
    # sketch/percentile buffers aggregate over un-expanded rows and the
    # distinct pass carries only narrow key columns; spill drops to zero
    # for one extra (column-pruned) scan.
    distincts = li.agg(
        F.count_distinct("l_partkey").alias("exact_parts"),
        F.count_distinct("l_orderkey").alias("exact_orders"),
    )
    sketches = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("approx_parts"),
        F.approx_count_distinct("l_orderkey", rsd=0.01).alias("approx_orders"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx_median"),
        F.percentile_approx("l_extendedprice", 0.99, 10000).alias("approx_p99"),
        F.expr("percentile(l_extendedprice, 0.5D)").alias("exact_median"),
        F.expr("percentile(l_extendedprice, 0.99D)").alias("exact_p99"),
    )
    agg = sketches.crossJoin(F.broadcast(distincts))
    return agg.select(
        "n_rows",
        "exact_parts",
        "exact_orders",
        ok(F.col("approx_parts"), F.col("exact_parts"), 0.05).alias("parts_sketch_ok"),
        ok(F.col("approx_orders"), F.col("exact_orders"), 0.05).alias("orders_sketch_ok"),
        ok(F.col("approx_median"), F.col("exact_median"), 0.05).alias("median_sketch_ok"),
        ok(F.col("approx_p99"), F.col("exact_p99"), 0.05).alias("p99_sketch_ok"),
    )


def materialize_hourly_rollup(
    spark: SparkSession, sf_dir: str, out_path: str, cutoff: str
) -> None:
    """Continuous-aggregate (hypertable-rollup) pattern, build step:
    pre-aggregate events strictly before ``cutoff`` into hourly buckets
    and persist them partitioned by day.

    At 100 TB the rollup job runs incrementally (per closed day); queries
    then touch O(hours) pre-aggregated rows plus only the raw tail. The
    aggregate kernel is decimal-exact so merged partials equal the
    full-batch result bit-for-bit.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts") < F.lit(cutoff))
    rollup = (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("bucket"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(25,6)")).alias("sum_value_dec"),
        )
        .withColumn("day", F.to_date("bucket"))
    )
    rollup.write.mode("overwrite").partitionBy("day").parquet(out_path)


def hourly_with_tail(
    spark: SparkSession, sf_dir: str, rollup_path: str, cutoff: str
) -> DataFrame:
    """Continuous-aggregate query step: merge the materialized rollup with
    a live aggregate over the raw tail (ts >= cutoff). Result is
    bucket/event_type totals identical to aggregating all raw events —
    the equivalence a test asserts (tests/test_streaming.py)."""
    mat = spark.read.parquet(rollup_path).select(
        "bucket", "event_type", "n_events", "sum_value_dec"
    )
    tail = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts") >= F.lit(cutoff))
        .groupBy(F.date_trunc("hour", "ts").alias("bucket"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(25,6)")).alias("sum_value_dec"),
        )
    )
    return (
        mat.unionByName(tail)
        .groupBy("bucket", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value_dec").cast("double").alias("total_value"),
        )
    )


@query(
    "events_daily_rollup_merge",
    oracle="""
    SELECT CAST(ts AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total_value,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           CAST(1 AS BIGINT) AS merge_consistent,
           CAST(1 AS BIGINT) AS users_sketch_ok
    FROM events
    GROUP BY 1
    """,
)
def events_daily_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level mergeable rollup (the hypertable-rollup contract): daily
    totals are computed by MERGING hourly partials, never by rescanning raw
    events. Additive metrics merge as sum-of-sums (decimal-exact, so the
    merged value is bit-identical to a direct daily aggregate); distinct
    users merge as an HLL sketch union (``hll_union_agg`` over hourly
    ``hll_sketch_agg`` partials), which is what makes the rollup
    re-aggregable at any granularity without a raw rescan at 100 TB.

    The merge claim is BOUNDED CONSISTENCY, not estimate equality: while
    every sketch stays in DataSketches' exact (coupon) mode the merged and
    direct estimates are identical, but across the sparse→dense transition
    the union gadget and a directly-built sketch take slightly different
    estimator paths (measured ≤1.05% apart at sf0.1's ~1.3k distincts/day;
    the flag allows 2%). In dense mode register-wise max makes the union
    exact again — so the bound is the transition zone's, not the method's.

    Oracle contract is the self-verifying-twin pattern (see
    corpus_sketch_stats): exact values are DuckDB-checked; the two sketch
    claims — merged within 2% of the direct daily estimate, and estimate
    within 5% of exact — are emitted as flags the oracle pins to 1.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(25,6)")).alias("sum_value_dec"),
        F.hll_sketch_agg("user_id").alias("users_sk"),
    )
    daily = hourly.groupBy(F.to_date("bucket").alias("day")).agg(
        F.sum("n_events").alias("n_events"),
        F.sum("sum_value_dec").cast("double").alias("total_value"),
        F.hll_sketch_estimate(F.hll_union_agg("users_sk")).alias("merged_users"),
    )
    direct = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count_distinct("user_id").alias("exact_users"),
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("direct_users"),
    )
    rel_err = (
        F.abs(F.col("merged_users").cast("double") - F.col("exact_users"))
        / F.col("exact_users")
    )
    merge_gap = (
        F.abs(F.col("merged_users").cast("double") - F.col("direct_users"))
        / F.col("exact_users")
    )
    return daily.join(direct, "day").select(
        "day",
        "n_events",
        "total_value",
        "exact_users",
        (merge_gap <= 0.02).cast("bigint").alias("merge_consistent"),
        F.when(rel_err <= 0.05, F.lit(1)).otherwise(F.lit(0))
        .cast("bigint")
        .alias("users_sketch_ok"),
    )


ROLLUP_CUTOFF = "2024-01-16 00:00:00"  # mid-corpus: ~half materialized, half live


@query(
    "events_hourly_continuous",
    oracle=f"""
    SELECT {SQL_TS("date_trunc('hour', ts)")} AS bucket_ts,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {SQL_DSUM('value')} AS total_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
)
def events_hourly_continuous(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous aggregate (hypertable rollup) as a declared, oracle-checked
    query: hours before the cutoff come from the MATERIALIZED rollup
    (built once per corpus into a day-partitioned parquet store, idempotent
    — the build step is the scheduled incremental job in production),
    hours after come from a live aggregate over the raw tail, and the
    merge is decimal-exact, so the result equals full-batch aggregation
    bit-for-bit — which is precisely what the oracle states. At 100 TB the
    query reads O(hours) pre-aggregated rows plus one raw partition
    instead of the whole fact table. The rollup is one ingest state
    family keyed on the events table's fingerprint — in production, the
    refresh-watermark check of the scheduled incremental job."""
    from airflow_ml_pipeline_spark.streaming.ingest import state_dirs

    (out,) = state_dirs("rollup", sf_dir, "events", "stage")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        materialize_hourly_rollup(spark, sf_dir, out, ROLLUP_CUTOFF)
    merged = hourly_with_tail(spark, sf_dir, out, ROLLUP_CUTOFF)
    return merged.select(
        fmt_ts(F.col("bucket")).alias("bucket_ts"),
        "event_type",
        "n_events",
        "total_value",
    )
