"""Kernel-function tests: the decimal-sum exactness property (the engine's
oracle-comparability backbone) under hypothesis-generated data, and the
MLlib TF-IDF pipeline."""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from airflow_ml_pipeline_spark.functions.compare import dsum


@pytest.fixture(scope="module")
def sc_spark(spark):
    return spark


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.floats(
            min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=50,
    ),
    st.integers(min_value=1, max_value=8),
)
def test_dsum_is_partition_order_independent(values, n_partitions):
    """dsum must yield the bit-identical double no matter how rows are
    partitioned — the property every oracle comparison relies on."""
    from airflow_ml_pipeline_spark.session import get_spark

    spark = get_spark("prop", master="local[4]")
    df = spark.createDataFrame([(v,) for v in values], ["x"])
    a = df.coalesce(1).agg(dsum(F.col("x"))).collect()[0][0]
    b = df.repartition(n_partitions).agg(dsum(F.col("x"))).collect()[0][0]
    assert a == b
    # and equals an exact decimal reference (quantized at the cast scale;
    # Spark's double->decimal cast rounds HALF_UP — boundary values like
    # odd/128 land exactly on x.xxxxxx5 and distinguish the rounding modes)
    expected = float(
        sum(
            Decimal(v).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
            for v in values
        )
    )
    assert a == expected


def test_sorted_pairs_matches_itertools(spark):
    """The shared in-partition pair-explosion kernel (functions/pairs.py)
    equals itertools.combinations for every list — the index arithmetic
    (i+2 / size-i-1) is exactly what a off-by-one would silently break,
    and three operators now share this kernel (review finding)."""
    from itertools import combinations

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from airflow_ml_pipeline_spark.functions.pairs import sorted_pairs
    from pyspark.sql import functions as F

    @settings(max_examples=20, deadline=None)
    @given(
        st.lists(
            st.integers(min_value=0, max_value=50), max_size=12, unique=True
        )
    )
    def check(ids):
        ids = sorted(ids)
        df = spark.createDataFrame([(ids,)], "ids: array<bigint>")
        got = df.select(sorted_pairs(F.col("ids")).alias("p")).collect()[0].p
        assert [(r.a, r.b) for r in got] == list(combinations(ids, 2))

    check()
