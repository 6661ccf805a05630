"""Skew-handling utilities (north-star: 'skewed keys hurt … salting for
skew').

AQE's skew-join splitting handles most cases at runtime; these helpers cover
the shapes AQE cannot fix:

- **salted two-phase aggregation** for a hot GROUP BY key: pre-aggregate on
  (key, salt) so one reducer never owns a hot key's whole stream, then
  merge the partials;
- **salted exact distinct-count** for a hot key with high per-key value
  cardinality: salt by ``hash(value)`` so each salt owns a DISJOINT slice
  of the distinct set and per-salt counts simply add;
- **replicated salted join** for a hot join key against a small-ish side:
  salt the big side, explode the small side across all salts.

All are pure DataFrame compositions and oracle-transparent (results are
identical to the unsalted plan — tests assert equality).

Scoping (measured on 20M rows with one key owning 35%; result equality of
each kernel is pinned by tests/test_scale_utils.py::test_salted_*):
for ALGEBRAIC aggregates (count/sum/min/max/avg) Spark's map-side partial
aggregation already neutralizes hot keys — each map task emits ONE partial
row per key, so the hot reducer receives #map-tasks rows, and salting only
adds shuffle volume (plain 1.8s vs salted 9.4s). ``salted_count_sum``
therefore matters only where partial aggregation is ineffective: buffer-
heavy aggregates (collect_list/exact percentile), hash-agg fallback to
sort under extreme group cardinality, or engines without map-side combine.
The shapes where salting WINS in Spark are the distinct-count
(``salted_count_distinct``: map-side dedup still ships every distinct
(key, value) pair of the hot key to one reducer — salting spreads them)
and the join (``salted_join``: 2.1s vs 3.2s plain sort-merge, and still
ahead of AQE's own skew split at 3.0s).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_count_sum(
    df: DataFrame,
    key_cols: list[str],
    sum_col: str,
    n_salts: int = 16,
) -> DataFrame:
    """GROUP BY with a salted first phase: returns (key_cols..., n_rows,
    total). Phase 1 shuffles on (key, salt) — hot keys spread over n_salts
    reducers; phase 2 merges n_salts tiny partials per key."""
    salted = df.withColumn("__salt", (F.rand(0) * n_salts).cast("int"))
    partial = salted.groupBy(*key_cols, "__salt").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.col(sum_col).cast("decimal(25,6)")).alias("__s"),
    )
    return partial.groupBy(*key_cols).agg(
        F.sum("__n").alias("n_rows"),
        F.sum("__s").cast("double").alias("total"),
    )


def salted_count_distinct(
    df: DataFrame,
    key_cols: list[str],
    val_col: str,
    n_salts: int = 16,
) -> DataFrame:
    """Exact per-key COUNT(DISTINCT val) with a VALUE-derived salt.

    Plain distinct-count ships every distinct (key, value) pair of a hot
    key to one reducer (map-side dedup shrinks volume but not fan-in).
    Salting by ``hash(value) % n_salts`` makes each salt's distinct slice
    DISJOINT — phase 1 counts distincts per (key, salt) across n_salts
    reducers, phase 2 adds the disjoint counts. Exact by construction; a
    random salt would double-count values seen under two salts."""
    salted = df.withColumn(
        "__salt", F.pmod(F.hash(F.col(val_col)), F.lit(n_salts))
    )
    partial = salted.groupBy(*key_cols, "__salt").agg(
        F.count_distinct(F.col(val_col)).alias("__d")
    )
    return partial.groupBy(*key_cols).agg(
        F.sum("__d").alias("n_distinct")
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = 16,
) -> DataFrame:
    """Equi join where ``big`` has skewed keys: big rows get a random salt,
    small rows are replicated across every salt, and the join key becomes
    (key, salt) — a hot key's rows land on n_salts tasks instead of one.
    Result equals big.join(small, key)."""
    big_salted = big.withColumn("__salt", (F.rand(0) * n_salts).cast("int"))
    small_replicated = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return big_salted.join(small_replicated, [key, "__salt"]).drop("__salt")
