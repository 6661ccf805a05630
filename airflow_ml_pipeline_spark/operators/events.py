"""Event-table operators: event-time windowing (batch form), JSON props
extraction, and sessionization. The streaming twins of these live in
``airflow_ml_pipeline_spark.streaming`` — the batch forms here double as the
exactness oracle for the streaming paths (SURVEY.md §7.2 M7).

Scale notes: all three queries shuffle once on (window/user) keys; event
tables are naturally partitionable by time, so at 100 TB the parquet layout
would be date-partitioned and the window queries prune partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from airflow_ml_pipeline_spark.functions.compare import (
    SQL_DAVG,
    SQL_DSUM,
    SQL_TS,
    davg,
    dsum,
    fmt_ts,
)
from airflow_ml_pipeline_spark.plans.registry import query
from airflow_ml_pipeline_spark.sources.catalog import load_table

SESSION_GAP_SECONDS = 1800  # 30 min inactivity closes a session


@query(
    "events_hourly",
    oracle=f"""
    SELECT {SQL_TS("date_trunc('hour', ts)")} AS window_start,
           event_type,
           COUNT(*) AS n_events,
           {SQL_DSUM('value')} AS total_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
)
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregate (batch form). Uses F.window — the
    same operator the streaming path uses — so batch and stream share
    semantics exactly."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("total_value"),
        )
        .select(
            fmt_ts(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@query(
    "events_sliding_daily",
    oracle=f"""
    WITH slides AS (
        SELECT ts, value,
               time_bucket(INTERVAL '12 hours', ts) AS b
        FROM events
    ),
    expanded AS (
        SELECT b AS window_start, ts, value FROM slides
        UNION ALL
        SELECT b - INTERVAL '12 hours' AS window_start, ts, value FROM slides
    )
    SELECT {SQL_TS('window_start')} AS window_start,
           COUNT(*) AS n_events,
           {SQL_DSUM('value')} AS total_value
    FROM expanded
    GROUP BY window_start
    """,
)
def events_sliding_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window: 24h length, 12h slide — each event lands in exactly
    two windows. Spark's F.window(duration, slide) replicates rows into
    their windows before the hash agg (the oracle reproduces that expansion
    manually with a UNION ALL)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "24 hours", "12 hours").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("total_value"),
        )
        .select(
            fmt_ts(F.col("w.start")).alias("window_start"),
            "n_events",
            "total_value",
        )
    )


@query(
    "events_json_stats",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           {SQL_DAVG("CAST(json_extract_string(props, '$.k') AS INTEGER)")} AS avg_k,
           MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
           MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def events_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: parse the JSON ``props`` column and
    aggregate a typed field. get_json_object stays JVM-side (codegen)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        davg(k).alias("avg_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


@query(
    "events_sessionized",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > {SESSION_GAP_SECONDS} * 1000000
                    OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    tagged AS (
        SELECT user_id, event_id, ts, value,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM seq
    )
    SELECT user_id,
           CAST(session_id AS BIGINT) AS session_id,
           {SQL_TS('MIN(ts)')} AS session_start,
           {SQL_TS('MAX(ts)')} AS session_end,
           COUNT(*) AS n_events,
           {SQL_DSUM('value')} AS session_value
    FROM tagged
    GROUP BY user_id, session_id
    """,
)
def events_sessionized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (30-min inactivity gap) via the classic lag + running
    sum idiom: one shuffle on user_id, everything else is per-partition.
    The streaming twin uses F.session_window + watermark."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag(F.col("ts")).over(w)
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts)
    new_session = F.when(
        prev_ts.isNull() | (gap_us > SESSION_GAP_SECONDS * 1_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.withColumn("new_session", new_session)
        .withColumn("session_id", F.sum("new_session").over(w_cum).cast("long"))
        .groupBy("user_id", "session_id")
        .agg(
            fmt_ts(F.min("ts")).alias("session_start"),
            fmt_ts(F.max("ts")).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("session_value"),
        )
        .select(
            "user_id",
            "session_id",
            "session_start",
            "session_end",
            "n_events",
            "session_value",
        )
    )


@query(
    "user_event_profile",
    oracle=f"""
    SELECT user_id, event_type,
           COUNT(*) AS n_events,
           {SQL_DSUM('value')} AS total_value
    FROM events
    GROUP BY user_id, event_type
    """,
)
def user_event_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user/type activity profile — plain two-key hash aggregate."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum(F.col("value")).alias("total_value"),
    )


@query(
    "events_latest_by_key",
    oracle=f"""
    SELECT user_id, event_type,
           {SQL_TS('ts')} AS last_ts,
           event_id AS last_event_id,
           value AS last_value
    FROM events
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY user_id, event_type
        ORDER BY ts DESC, event_id DESC) = 1
    """,
)
def events_latest_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog compaction (last-write-wins upsert materialization): the
    latest row per (user_id, event_type) key, event_id as the deterministic
    tiebreaker. This is the batch form of CDC MERGE — reading a log of
    updates back into current state — and the operator every table-format
    maintenance job (compaction, snapshot rebuild) reduces to.

    Scale shape: one shuffle on the key; rank-1 windows pushdown to a
    per-partition top-1 (no full sort materialization of each group). On a
    bucketed/partitioned changelog the shuffle disappears entirely
    (functions/bucketing.py); the same plan then runs incrementally per
    ingestion batch.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            fmt_ts(F.col("ts")).alias("last_ts"),
            F.col("event_id").alias("last_event_id"),
            F.col("value").alias("last_value"),
        )
    )


@query(
    "user_value_totals_salted",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total
    FROM events
    GROUP BY user_id
    """,
)
def user_value_totals_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user totals through the SALTED two-phase aggregation
    (functions/skew.py): phase 1 shuffles on (user_id, salt) so a hot
    user's stream spreads across 16 reducers, phase 2 merges the tiny
    per-salt partials. The oracle is the plain GROUP BY — salting is
    result-transparent by construction (count and decimal-sum are
    commutative monoids), which is exactly why it is safe to deploy
    against a skewed key at 100 TB. The driver row proves transparency
    end-to-end. Scope note (measured on a hot-keyed 20M-row fixture;
    equality pinned by test_salted_aggregation_equals_plain): for algebraic
    aggregates like these, Spark's map-side combine already neutralizes
    hot keys, so this helper is the fallback for buffer-heavy aggregates
    and engines without partial aggregation; the Spark-native skew wins
    are ``user_distinct_values_salted`` (distinct-count) and
    ``segment_value_salted_join`` (join)."""
    from airflow_ml_pipeline_spark.functions.skew import salted_count_sum

    ev = load_table(spark, sf_dir, "events")
    return salted_count_sum(ev, ["user_id"], "value")


@query(
    "user_distinct_values_salted",
    oracle="""
    SELECT user_id,
           CAST(COUNT(DISTINCT value) AS BIGINT) AS n_distinct
    FROM events
    GROUP BY user_id
    """,
)
def user_distinct_values_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-user COUNT(DISTINCT value) through the value-salted
    two-phase kernel (functions/skew.py::salted_count_distinct). This is
    the aggregation shape where salting genuinely wins in Spark: plain
    distinct-count funnels every distinct (key, value) pair of a hot key
    into one reducer — map-side dedup shrinks volume, not fan-in — while
    the hash(value)-derived salt splits the distinct set into disjoint
    slices whose counts add exactly. The oracle is the plain GROUP BY:
    salting is result-transparent by construction."""
    from airflow_ml_pipeline_spark.functions.skew import salted_count_distinct

    ev = load_table(spark, sf_dir, "events")
    return salted_count_distinct(ev, ["user_id"], "value")


@query(
    "segment_value_salted_join",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total_value
    FROM events JOIN customer ON c_custkey = user_id
    GROUP BY c_mktsegment
    """,
)
def segment_value_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-to-dimension enrichment through the REPLICATED SALTED JOIN
    (functions/skew.py): the big (event) side gets a random salt, the
    dimension is replicated across all salts, and the join key becomes
    (key, salt) — a hot user's events land on 16 tasks instead of one.
    The oracle is the plain join + GROUP BY: salting is result-transparent
    (every big row still meets exactly one copy of its dimension row).
    This is the hand-applied fallback for the skew shapes AQE's runtime
    splitting cannot reach (e.g. when the skewed side feeds a broadcast
    that must stay sort-merge for memory reasons)."""
    from airflow_ml_pipeline_spark.functions.skew import salted_join

    ev = load_table(spark, sf_dir, "events")
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = salted_join(ev, dim, "user_id")
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias("total_value"),
    )


ANOMALY_BASELINE_ROWS = 50  # trailing baseline window (rows, not time)
ANOMALY_MIN_BASELINE = 30  # don't score until the baseline is this full
ANOMALY_Z = 3.0  # |z| beyond this flags the event

_Z_SQL = """((value - s / n)
             / sqrt((ss - s * s / n) / (n - 1)))"""


@query(
    "events_anomaly_zscore",
    oracle=f"""
    WITH scored AS (
        SELECT event_id, event_type, ts, value,
               CAST(COUNT(*) OVER w AS DOUBLE) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS s,
               CAST(SUM(CAST(value AS DECIMAL(18,6))
                        * CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS ss
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN {ANOMALY_BASELINE_ROWS} PRECEDING
                              AND 1 PRECEDING)
    )
    SELECT event_id, event_type, {SQL_TS('ts')} AS event_ts, value,
           round({_Z_SQL}, 6) AS z
    FROM scored
    WHERE n >= {ANOMALY_MIN_BASELINE}
      AND (ss - s * s / n) / (n - 1) > 0
      AND abs({_Z_SQL}) > {ANOMALY_Z}
    """,
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-style anomaly detection in batch form: each event is
    scored against the trailing 50 same-type events' mean/stddev and
    flagged when |z| > 3 — the data-quality tripwire that catches a
    sensor spike, a price glitch, or a metric regression the moment it
    lands, without a fixed global threshold (the baseline adapts per
    event type and drifts with the stream).

    Exactness: the baseline moments come from DECIMAL window sums of
    value and value² (order-independent, so the plan can compute window
    partials however it likes), converted to double only for the final
    z arithmetic — both engines then evaluate the IDENTICAL double
    expression tree, so the 6-dp-rounded z and the >3 cut agree
    bit-for-bit; a zero-variance baseline is excluded by the same
    predicate on both sides.

    Scale shape: ONE shuffle on event_type for the running window (at
    100 TB the partition key would be (event_type, day-bucket) with a
    per-bucket warm-up overlap — the standard time-sliced window
    parallelization); output is anomaly-sized, not event-sized. The
    streaming twin (``stream_anomaly_zscore``) runs this same kernel per
    micro-batch over the batch plus the carried tail of each event_type."""
    ev = load_table(spark, sf_dir, "events")
    return anomaly_scored(ev).select(
        "event_id",
        "event_type",
        fmt_ts(F.col("ts")).alias("event_ts"),
        "value",
        "z",
    )


def anomaly_scored(ev: DataFrame) -> DataFrame:
    """The trailing-z-score kernel, stated once for the batch plan and its
    streaming twin: the rows of ``ev`` (an event_id, event_type, ts, value
    frame; other columns ride along) that score |z| > ANOMALY_Z against
    the ANOMALY_BASELINE_ROWS rows before them in (ts, event_id) order
    within their event_type, with the 6-dp ``z`` appended — see
    ``events_anomaly_zscore`` for semantics."""
    dec = F.col("value").cast("decimal(18,6)")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-ANOMALY_BASELINE_ROWS, -1)
    )
    scored = ev.select(
        *ev.columns,
        F.count(F.lit(1)).over(w).cast("double").alias("n"),
        F.sum(dec).over(w).cast("double").alias("s"),
        F.sum(dec * dec).over(w).cast("double").alias("ss"),
    )
    var = (F.col("ss") - F.col("s") * F.col("s") / F.col("n")) / (F.col("n") - 1)
    z = (F.col("value") - F.col("s") / F.col("n")) / F.sqrt(var)
    return scored.filter(
        (F.col("n") >= ANOMALY_MIN_BASELINE) & (var > 0) & (F.abs(z) > ANOMALY_Z)
    ).select(*ev.columns, F.round(z, 6).alias("z"))


#: recursion cap for the linked-list walk — bounds both engines' CTE
#: iteration count (Spark's recursion level limit defaults to 100).
#: MUST stay even (ADVICE r13): the two-step walk only equals the
#: one-step walk when live frontiers (always even-depth — an odd-depth
#: row is terminal by the hop construction) can never jump past the
#: cap; an odd cap would let a depth cap-1 frontier land on cap+1.
WALK_CAP = 50
assert WALK_CAP % 2 == 0, "two-step walk requires an even WALK_CAP"


def _walk_body_single(linked: str) -> str:
    """The ORIGINAL one-step walk (r9 form) — retained as the semantic
    reference: tests/test_recursive_cc_port.py::test_multi_step_walk_
    equals_single_step pins that the committed multi-step body below
    produces identical aggregates over the full corpus (necessary
    because engine and oracle run the SAME statement, so a semantic slip
    in the rewrite would hash-agree across engines and hide)."""
    return f"""walk AS (
        SELECT user_id, event_type, nxt, CAST(0 AS BIGINT) AS depth
        FROM {linked} WHERE rn = 1
        UNION ALL
        SELECT /*+ BROADCAST(l) */ l.user_id, l.event_type, l.nxt,
               w.depth + 1
        FROM walk w JOIN {linked} l
          ON l.user_id = w.user_id AND l.event_id = w.nxt
        WHERE w.event_type <> 'purchase' AND w.depth < {WALK_CAP}
    )
    SELECT user_id,
           CAST(MAX(depth) AS BIGINT) AS walked,
           CAST(COALESCE(MIN(CASE WHEN event_type = 'purchase'
                                  THEN depth END), -1) AS BIGINT)
               AS steps_to_purchase,
           CAST(CASE WHEN MIN(CASE WHEN event_type = 'purchase'
                                   THEN depth END) IS NOT NULL
                THEN 1 ELSE 0 END AS BIGINT) AS reached
    FROM walk
    GROUP BY user_id
    """


def _walk_body(linked: str, hopu: str) -> str:
    """The walk CTE body + final aggregate both engines run VERBATIM
    over prepared ``linked(user_id, event_id, event_type, nxt, rn)``
    and ``hopu(tag, user_id, entry, out_type, out_nxt, step)`` relations
    (Spark binds materialized temp views; the oracle binds inline
    CTEs). The BROADCAST hint is a Spark join-strategy comment
    (each recursion level hash-joins the frontier against the cap-bounded
    linked table in place instead of shuffle-joining it — A/B r9); DuckDB
    parses it as a plain comment, so the statement stays identical.

    UP TO SIXTEEN STEPS PER LEVEL (r16 optimization; supersedes the
    r15 eight-step, r14 four-step and r13 two-step walks): UnionLoop
    prices recursion by DEPTH (~0.2 s fixed job overhead + one
    broadcast build per level), so the walk advances over ``hopu`` —
    the union of the composed SIXTEEN-link jump (``hop8 = hop4 ∘
    hop4``, tag 16), the EIGHT-link jump (tag 8), the FOUR-link jump
    (tag 4) and the plain two-link jump (tag 2) — picking the tag per
    row: tag 16 while ``depth <= cap - 16`` (a sixteen-jump can never
    overshoot the cap), then the 8/4/2 shoulder gates. ~5 recursion
    levels instead of 8 (r15), 14 (r14), 26 (r13) or 51 (r9), still
    exactly ONE broadcast join per level (the union relation is ~4x
    linked-sized — the broadcast stays cap-bounded). Same-session A/B
    at sf0.1 in SCALING.md §Round-16.

    Jump-composition invariants (every jump variant preserves them):
    a jump never advances past a purchase or a dead-end's last event
    (a terminal first leg short-circuits the composition), so only
    terminal-depth events can be purchases — exactly the one-step
    walk's reachability; a LIVE (non-terminal) row always advanced by
    its full tag, so live depths stay even and the tag gate's even
    thresholds are exact. Frontier gating is unchanged (walk only
    while the frontier's own event isn't 'purchase', depth < cap;
    WALK_CAP must stay even — see its assert; the tag gate handles
    the mod-8/mod-4 boundary for any even cap). Equivalence to the
    RETAINED one-step body over the full corpus is pinned by
    tests/test_recursive_cc_port.py (both engines run the same
    statement, so only an independent equivalence check can catch a
    rewrite slip)."""
    return f"""walk AS (
        SELECT user_id, event_type, nxt, CAST(0 AS BIGINT) AS depth
        FROM {linked} WHERE rn = 1
        UNION ALL
        SELECT /*+ BROADCAST(j) */ w.user_id, j.out_type, j.out_nxt,
               w.depth + j.step
        FROM walk w JOIN {hopu} j
          ON j.user_id = w.user_id AND j.entry = w.nxt
         AND j.tag = CASE WHEN w.depth <= {WALK_CAP - 16} THEN 16
                          WHEN w.depth <= {WALK_CAP - 8} THEN 8
                          WHEN w.depth <= {WALK_CAP - 4} THEN 4
                          ELSE 2 END
        WHERE w.event_type <> 'purchase' AND w.depth < {WALK_CAP}
    )
    SELECT user_id,
           CAST(MAX(depth) AS BIGINT) AS walked,
           CAST(COALESCE(MIN(CASE WHEN event_type = 'purchase'
                                  THEN depth END), -1) AS BIGINT)
               AS steps_to_purchase,
           CAST(CASE WHEN MIN(CASE WHEN event_type = 'purchase'
                                   THEN depth END) IS NOT NULL
                THEN 1 ELSE 0 END AS BIGINT) AS reached
    FROM walk
    GROUP BY user_id
    """


def _hop_body(linked: str) -> str:
    """The two-step jump relation as CTE text over ``linked`` — built
    from window leads (no self-join): for each event l1, where a walker
    arriving AT l1 ends up after up to two hops. Inlined into the
    oracle's statement; the ENGINE materializes it instead (UnionLoop
    re-evaluates inline CTEs every recursion level — the r9 lesson that
    already forced ``linked`` into a pinned temp view)."""
    return f"""hop0 AS (
        SELECT user_id, event_id, event_type, nxt, rn,
               LEAD(event_type) OVER (PARTITION BY user_id ORDER BY rn)
                   AS t2,
               LEAD(nxt) OVER (PARTITION BY user_id ORDER BY rn) AS n2
        FROM {linked}
    ),
    hop AS (
        SELECT user_id, event_id AS entry,
               CASE WHEN event_type = 'purchase' OR nxt IS NULL
                    THEN event_type ELSE t2 END AS out_type,
               CASE WHEN event_type = 'purchase' OR nxt IS NULL
                    THEN CAST(NULL AS BIGINT) ELSE n2 END AS out_nxt,
               CAST(CASE WHEN event_type = 'purchase' OR nxt IS NULL
                    THEN 1 ELSE 2 END AS BIGINT) AS step
        FROM hop0
    )"""


def _hopu_body(linked: str) -> str:
    """``hop`` plus its self-compositions ``hop2`` (up to FOUR links per
    jump), ``hop4 = hop2 ∘ hop2`` (up to EIGHT links) and
    ``hop8 = hop4 ∘ hop4`` (up to SIXTEEN links, r16), and the tagged
    union ``hopu`` the walk joins. Each composition short-circuits
    whenever the first leg is terminal (lands on a purchase, a
    dead-end, or — out of the walk's gated depth range only — a pruned
    row, the ``j2.entry IS NULL`` arm: within gating the second leg
    always exists because reachable rows are capped at
    rn <= WALK_CAP + 1), so every jump preserves the
    never-past-a-purchase invariant by construction — inductively for
    hop4 and hop8, whose legs are themselves invariant-preserving
    jumps. Built from the already-capped ``linked`` via THREE chained
    self-joins of the window-lead hop relation — at 100 TB these are
    per-user-partition local joins on the cap-bounded table, built once
    before the recursion (each extra cap-bounded join HALVES the
    remaining UnionLoop levels, each a fixed job + broadcast build)."""
    compose = """
        SELECT j1.user_id, j1.entry,
               CASE WHEN j1.out_type = 'purchase' OR j1.out_nxt IS NULL
                         OR j2.entry IS NULL
                    THEN j1.out_type ELSE j2.out_type END AS out_type,
               CASE WHEN j1.out_type = 'purchase' OR j1.out_nxt IS NULL
                         OR j2.entry IS NULL
                    THEN j1.out_nxt ELSE j2.out_nxt END AS out_nxt,
               CASE WHEN j1.out_type = 'purchase' OR j1.out_nxt IS NULL
                         OR j2.entry IS NULL
                    THEN j1.step ELSE j1.step + j2.step END AS step
        FROM {h} j1 LEFT JOIN {h} j2
          ON j2.user_id = j1.user_id AND j2.entry = j1.out_nxt
    """
    return f"""{_hop_body(linked)},
    hop2 AS ({compose.format(h="hop")}),
    hop4 AS ({compose.format(h="hop2")}),
    hop8 AS ({compose.format(h="hop4")}),
    hopu AS (
        SELECT CAST(16 AS BIGINT) AS tag, * FROM hop8
        UNION ALL
        SELECT CAST(8 AS BIGINT) AS tag, * FROM hop4
        UNION ALL
        SELECT CAST(4 AS BIGINT) AS tag, * FROM hop2
        UNION ALL
        SELECT CAST(2 AS BIGINT) AS tag, * FROM hop
    )"""


def _sql_walk_over(linked: str, hop: str) -> str:
    return f"""
    WITH RECURSIVE {_walk_body(linked, hop)}"""


def _sql_steps_to_purchase(table: str = "events") -> str:
    """Oracle form: the SAME walk body (verbatim — one generator) with
    the linked list AND the hop relation as inline CTEs, capped at
    rn <= WALK_CAP + 1 like the Spark side: a depth-d walk row has
    rn = d + 1, so rows past the cap are unreachable by construction
    and pre-dropping them bounds the per-level join input to
    |users|·(cap+1) regardless of how many events a user has."""
    return f"""
    WITH RECURSIVE linked_all AS (
        SELECT user_id, event_id, event_type,
               LEAD(event_id) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS nxt,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM {table}
    ),
    linked AS (SELECT * FROM linked_all WHERE rn <= {WALK_CAP + 1}),
    {_hopu_body("linked")},
    {_walk_body("linked", "hopu")}"""


@query("events_steps_to_purchase", oracle=_sql_steps_to_purchase())
def events_steps_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Steps from each user's FIRST event to their first purchase, walked
    over the per-user event linked list with Spark 4's native
    ``WITH RECURSIVE`` — the first declared query on the recursive-CTE
    surface (until 4.0 these shapes needed driver-side iteration like the
    engine's CC/PageRank loops). The walk is strictly LINEAR (each row
    has exactly one ``lead`` successor), so the recursion does path
    FOLLOWING, not path enumeration — no combinatorial blowup, bounded
    by WALK_CAP on both engines. The ORACLE IS THE SAME SQL: both
    engines execute the identical statement over the same table, so the
    check pins Spark's recursive execution itself against DuckDB's.

    Scale: the linked list is one window pass (shuffle on user_id),
    MATERIALIZED before the recursion — written inline as a CTE, Spark's
    UnionLoop re-evaluates the window every recursion level (measured
    8.6x super-linear curve: 25 s at sf0.1); pinned, capped at
    rn <= WALK_CAP+1 (depth-d rows have rn = d+1, so the cap drops only
    unreachable rows and bounds the stored table to |users|·(cap+1)
    regardless of history length). Recursion cost is DEPTH-priced
    (~0.2 s/level fixed UnionLoop job overhead + one broadcast build),
    so since r16 each level advances UP TO SIXTEEN links over the
    materialized ``hopu`` tagged jump relation (one window pass + three
    per-user-local self-joins over linked — hop8 = hop4∘hop4 — pinned
    the same way, tag gate 16/8/4/2 keeps live depths even) — ~5
    levels instead of 8 (r15 eight-step), 14 (r14 four-step), 26 (r13
    two-step) or 51 (r9 one-step), still one
    cap-bounded broadcast hash join per level, never corpus x corpus,
    never a per-level shuffle (SCALING.md r13/r14 A/Bs). ``walked`` <
    WALK_CAP or reached=1 certifies per-user termination; -1 marks no
    purchase within the cap."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql.window import Window as W

    order = [F.col("ts"), F.col("event_id")]
    w = W.partitionBy("user_id").orderBy(*order)
    linked = (
        ev.select(
            "user_id",
            "event_id",
            "event_type",
            F.lead("event_id").over(w).alias("nxt"),
            F.row_number().over(w).alias("rn"),
        )
        # depth-d rows have rn = d + 1: nothing past WALK_CAP + 1 is
        # reachable, and the cap bounds the stored table (hence every
        # level's broadcast build) to |users|·(cap+1) rows even for
        # users with unbounded event histories
        .filter(F.col("rn") <= WALK_CAP + 1)
        .localCheckpoint(eager=False)
    )
    linked.createOrReplaceTempView("events_walk_linked")
    # the tagged jump relation, pinned for the same reason as linked (an
    # inline CTE would re-run its window + self-join every level); built
    # by the SAME SQL text the oracle inlines, over the pinned linked view
    hopu = spark.sql(
        f"WITH {_hopu_body('events_walk_linked')} SELECT * FROM hopu"
    ).localCheckpoint(eager=False)
    hopu.createOrReplaceTempView("events_walk_hopu")
    return spark.sql(_sql_walk_over("events_walk_linked", "events_walk_hopu"))
