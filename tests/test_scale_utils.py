"""Scale-utility tests: salting equivalence, partitioned writes with
partition pruning, bucketing-free co-location sanity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airflow_ml_pipeline_spark.functions import skew
from airflow_ml_pipeline_spark.sources.catalog import load_table, write_parquet


def test_salted_aggregation_equals_plain(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    plain = {
        (r.l_returnflag,): (r.n_rows, round(r.total, 4))
        for r in li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_quantity").cast("decimal(25,6)"))
            .cast("double")
            .alias("total"),
        )
        .collect()
    }
    salted = {
        (r.l_returnflag,): (r.n_rows, round(r.total, 4))
        for r in skew.salted_count_sum(li, ["l_returnflag"], "l_quantity").collect()
    }
    assert salted == plain


def test_salted_count_distinct_ignores_nulls_like_plain(spark):
    """COUNT(DISTINCT) skips nulls; the value-hash salt must not resurrect
    them (hash(NULL) -> NULL salt group, whose count_distinct is 0)."""
    df = spark.createDataFrame(
        [("a", 1), ("a", None), ("a", 2), ("b", None)],
        "k string, v int",
    )
    out = {r.k: r.n_distinct for r in skew.salted_count_distinct(df, ["k"], "v").collect()}
    assert out == {"a": 2, "b": 0}


def test_salted_count_distinct_equals_plain(spark, sf_dir):
    """Value-hash salt slices the distinct set disjointly, so per-salt
    distinct counts add back to the exact plain COUNT(DISTINCT)."""
    li = load_table(spark, sf_dir, "lineitem")
    plain = {
        r.l_returnflag: r.n_distinct
        for r in li.groupBy("l_returnflag")
        .agg(F.count_distinct("l_extendedprice").alias("n_distinct"))
        .collect()
    }
    salted = {
        r.l_returnflag: r.n_distinct
        for r in skew.salted_count_distinct(
            li, ["l_returnflag"], "l_extendedprice"
        ).collect()
    }
    assert salted == plain


def test_salted_join_equals_plain(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity")
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    plain = (
        li.join(part, "l_partkey")
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    salted = (
        skew.salted_join(li, part, "l_partkey")
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert {(r.p_brand, r.n) for r in plain.collect()} == {
        (r.p_brand, r.n) for r in salted.collect()
    }


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """Date-partitioned parquet layout: a ship-year filter must prune to the
    matching partition directories (PartitionFilters in the scan)."""
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "ship_year", F.year("l_shipdate")
    )
    out = str(tmp_path / "lineitem_by_year")
    write_parquet(li, out, partition_by=["ship_year"])

    scan = spark.read.parquet(out).filter(F.col("ship_year") == 1997)
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "ship_year" in plan.split("PartitionFilters", 1)[1][:200]
    expected = li.filter(F.col("ship_year") == 1997).count()
    assert scan.count() == expected


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """Two tables bucketed on the join key must SortMergeJoin with zero
    Exchange hashpartitioning in the executed plan — the write-time
    shuffle is paid once, every downstream join is co-located."""
    from pyspark.sql import functions as F

    from airflow_ml_pipeline_spark.functions.bucketing import (
        bucketed_table,
        write_bucketed,
    )
    from airflow_ml_pipeline_spark.sources.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    write_bucketed(li, "b_lineitem", "l_orderkey", 8)
    write_bucketed(orders, "b_orders", "o_orderkey", 8)
    try:
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = bucketed_table(spark, "b_lineitem").join(
                bucketed_table(spark, "b_orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            n = joined.count()
            plan = (
                joined._jdf.queryExecution().executedPlan().toString()
                .split("== Initial Plan ==")[0]  # AQE echoes the pre-AQE plan
            )
            assert "SortMergeJoin" in plan
            assert "Bucketed: true" in plan
            assert "Exchange" not in plan  # co-located: zero shuffles
            # cross-check the result against a plain join
            assert n == li.join(
                orders, F.col("l_orderkey") == F.col("o_orderkey")
            ).count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_json_and_orc_roundtrip(spark, sf_dir, tmp_path):
    """Interchange sinks: JSON-lines and ORC round-trip the customer table
    with identical rows; the ORC scan must push filters like parquet."""
    from pyspark.sql import functions as F

    from airflow_ml_pipeline_spark.sources import catalog

    cust = catalog.load_table(spark, sf_dir, "customer")
    jpath, opath = str(tmp_path / "cust_json"), str(tmp_path / "cust_orc")
    catalog.write_json(cust, jpath)
    catalog.write_orc(cust, opath)

    back_j = catalog.read_json(spark, jpath, cust.schema)
    back_o = catalog.read_orc(spark, opath)
    n = cust.count()
    assert back_j.count() == n and back_o.count() == n
    # value fidelity: exact sum of an integer-ish key and a double column
    for back in (back_j, back_o):
        a = cust.agg(F.sum("c_custkey"), F.sum(F.round("c_acctbal", 2))).collect()[0]
        b = back.agg(F.sum("c_custkey"), F.sum(F.round("c_acctbal", 2))).collect()[0]
        assert a[0] == b[0] and abs(a[1] - b[1]) < 1e-6
    # ORC pushdown evidence
    plan = (
        back_o.filter(F.col("c_custkey") == 42)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan and "c_custkey" in plan.split("PushedFilters")[1][:120]


def test_compact_parquet_reduces_files(spark, sf_dir, tmp_path):
    """64 tiny files -> sized-by-bytes compaction; row multiset preserved."""
    import glob

    from airflow_ml_pipeline_spark.sources import catalog

    li = catalog.load_table(spark, sf_dir, "lineitem")
    fragmented = str(tmp_path / "fragmented")
    li.repartition(64).write.parquet(fragmented)
    assert len(glob.glob(f"{fragmented}/*.parquet")) == 64

    compacted = str(tmp_path / "compacted")
    n = catalog.compact_parquet(spark, fragmented, compacted, target_mb=256)
    files = glob.glob(f"{compacted}/*.parquet")
    assert len(files) == n < 64
    back = spark.read.parquet(compacted)
    assert back.count() == li.count()
    a = li.agg(F.sum("l_orderkey"), F.sum("l_linenumber")).collect()[0]
    b = back.agg(F.sum("l_orderkey"), F.sum("l_linenumber")).collect()[0]
    assert tuple(a) == tuple(b)


def test_dynamic_partition_pruning_on_partitioned_fact(spark, sf_dir, tmp_path):
    """Dynamic partition pruning: when the partition filter is only known at
    runtime (it comes from a filtered dimension, not a literal), the scan
    must still prune — the plan carries a dynamicpruning subquery fed by the
    broadcast dim. This is the mechanism that makes date-partitioned fact
    tables cheap to join at 100 TB: the fact side reads only the partitions
    the dim side selects."""
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "ship_year", F.year("l_shipdate")
    )
    fact_path = str(tmp_path / "lineitem_dpp")
    write_parquet(li, fact_path, partition_by=["ship_year"])

    # the dim must come from storage (a local relation would constant-fold
    # into a static filter and sidestep DPP)
    dim_path = str(tmp_path / "year_dim")
    years = li.select(F.col("ship_year").alias("d_year")).distinct().withColumn(
        "tag", F.when(F.col("d_year") == 1997, "target").otherwise("other")
    )
    write_parquet(years, dim_path)

    fact = spark.read.parquet(fact_path)
    dim = spark.read.parquet(dim_path).filter(F.col("tag") == "target")
    joined = fact.join(dim, fact.ship_year == dim.d_year)

    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    expected = li.filter(F.col("ship_year") == 1997).count()
    assert joined.count() == expected


def test_dynamic_partition_pruning_fires_on_selective_dim(spark, tmp_path):
    """Joining a date-partitioned fact with a comparison-filtered dim must
    inject a dynamicpruning partition filter into the fact scan (only
    matching partitions are read — the Catalyst win the date-partitioned
    layout exists for). Gotcha pinned here: Spark's isLikelySelective
    requires a COMPARISON/IN/LIKE predicate — a bare boolean attribute
    filter ('WHERE d.is_holiday') never triggers DPP, so dims should
    carry comparable attributes."""
    ev = load_table(spark, "/root/testdata/sf0.01", "events")
    fact_dir = str(tmp_path / "evp")
    dim_dir = str(tmp_path / "dim")
    ev.withColumn("event_date", F.to_date("ts")).write.partitionBy(
        "event_date"
    ).mode("overwrite").parquet(fact_dir)
    dates = spark.read.parquet(fact_dir).select("event_date").distinct()
    dates.select(
        "event_date", F.dayofmonth("event_date").alias("dom")
    ).write.mode("overwrite").parquet(dim_dir)
    spark.read.parquet(fact_dir).createOrReplaceTempView("dpp_fact")
    spark.read.parquet(dim_dir).createOrReplaceTempView("dpp_dim")

    def plan_of(sql: str) -> str:
        df = spark.sql(sql)
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    fired = plan_of(
        "SELECT f.event_date, COUNT(*) n FROM dpp_fact f "
        "JOIN dpp_dim d ON f.event_date = d.event_date "
        "WHERE d.dom <= 2 GROUP BY f.event_date"
    )
    assert "dynamicpruningexpression" in fired, fired

    # result sanity: pruned plan equals an unpartitioned recompute
    got = {
        (str(r.event_date), r.n)
        for r in spark.sql(
            "SELECT f.event_date, COUNT(*) n FROM dpp_fact f "
            "JOIN dpp_dim d ON f.event_date = d.event_date "
            "WHERE d.dom <= 2 GROUP BY f.event_date"
        ).collect()
    }
    expected = {
        (str(r.event_date), r.n)
        for r in ev.withColumn("event_date", F.to_date("ts"))
        .filter(F.dayofmonth("event_date") <= 2)
        .groupBy("event_date")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == expected
