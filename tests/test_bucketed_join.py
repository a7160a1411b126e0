"""Bucketed-table co-located execution (io/bucketing.py): the plan-level
proof that pre-bucketed storage elides the per-query shuffle — the
big-to-big join lever at 100 TB (broadcast covers small dims; bucketing
covers fact-to-fact)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_lakes_tp2_student_spark.io.bucketing import read_table, write_bucketed

from .conftest import SF_SMOKE


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def bucketed_tables(spark):
    sf = SF_SMOKE
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf}/lineitem.parquet")
    write_bucketed(
        orders, "orders_bkt", ["o_orderkey"], 8, sort_cols=["o_orderkey"]
    )
    write_bucketed(
        lineitem, "lineitem_bkt", ["l_orderkey"], 8, sort_cols=["l_orderkey"]
    )
    yield
    spark.sql("DROP TABLE IF EXISTS orders_bkt")
    spark.sql("DROP TABLE IF EXISTS lineitem_bkt")


@pytest.fixture()
def no_broadcast(spark):
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_join_has_no_exchange(spark, bucketed_tables, no_broadcast):
    o = read_table(spark, "orders_bkt")
    l = read_table(spark, "lineitem_bkt")
    joined = o.join(l, o.o_orderkey == l.l_orderkey).select(
        "o_orderkey", "l_extendedprice"
    )
    p = plan_of(joined)
    assert "Exchange" not in p, f"bucketed join still shuffles:\n{p}"
    # and it is not secretly broadcasting
    assert "BroadcastHashJoin" not in p
    # correctness: identical to the plain path-read join
    plain = (
        spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
        .join(
            spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .count()
    )
    assert joined.count() == plain


def test_unbucketed_twin_join_shuffles(spark, no_broadcast):
    sf = SF_SMOKE
    o = spark.read.parquet(f"{sf}/orders.parquet")
    l = spark.read.parquet(f"{sf}/lineitem.parquet")
    p = plan_of(o.join(l, o.o_orderkey == l.l_orderkey))
    assert "Exchange" in p  # the shuffle bucketing removes


def test_bucketed_aggregate_has_no_exchange(spark, bucketed_tables):
    l = read_table(spark, "lineitem_bkt")
    agg = l.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("q"))
    p = plan_of(agg)
    assert "Exchange" not in p, f"bucketed groupBy still shuffles:\n{p}"


def test_bucket_pruning_filter(spark, bucketed_tables):
    """Equality filter on the bucket column prunes to one bucket's files
    (SelectedBucketsCount in the scan) — the bucket analog of partition
    pruning."""
    # autoBucketedScan drops the bucketed reader when no join/agg needs
    # the distribution, which also drops bucket pruning — force it on for
    # the filter-only shape
    prev = spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try:
        o = read_table(spark, "orders_bkt")
        p = plan_of(o.filter(F.col("o_orderkey") == 7))
        assert "SelectedBucketsCount: 1 out of 8" in p, p
    finally:
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", prev
        )
