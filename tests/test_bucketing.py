"""Bucketed-table co-located join: the pre-shuffle pattern for repeated
big-big joins at scale (SURVEY §7 / pyspark guide 'Partitioning & shuffle').
Writing both fact tables bucketed+sorted on the join key lets Catalyst
elide the Exchange (and the Sort) on both sides of a sort-merge join —
at 100 TB that is the difference between re-shuffling the lake per query
and reading co-located buckets."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from project_crypto_data_engineering_gcp_spark.sources.tables import load_table

from .conftest import SF_SMOKE
from .test_plan_shapes import plan_of


@pytest.fixture(scope="module")
def bucketed_tables(spark, tmp_path_factory):
    warehouse = tmp_path_factory.mktemp("warehouse")
    li = load_table(spark, SF_SMOKE, "lineitem")
    orders = load_table(spark, SF_SMOKE, "orders")
    (
        li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", str(warehouse / "li_bucketed"))
        .mode("overwrite").saveAsTable("li_bucketed")
    )
    (
        orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", str(warehouse / "orders_bucketed"))
        .mode("overwrite").saveAsTable("orders_bucketed")
    )
    yield "li_bucketed", "orders_bucketed"
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS orders_bucketed")


def test_bucketed_join_elides_shuffle(spark, bucketed_tables):
    li_t, o_t = bucketed_tables
    li = spark.table(li_t)
    orders = spark.table(o_t)
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # disable broadcast so the join is SMJ, then check both sides read
    # bucketed (no Exchange below the join)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(joined)
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    join_part = plan.split("SortMergeJoin", 1)
    assert len(join_part) == 2, f"expected SMJ, plan:\n{plan}"
    assert "Exchange hashpartitioning" not in join_part[1], (
        f"bucketed join should not shuffle either side:\n{plan}"
    )


def test_bucketed_join_matches_unbucketed(spark, bucketed_tables):
    li_t, o_t = bucketed_tables
    bucketed = (
        spark.table(li_t)
        .join(spark.table(o_t), F.col("l_orderkey") == F.col("o_orderkey"))
        .count()
    )
    li = load_table(spark, SF_SMOKE, "lineitem")
    orders = load_table(spark, SF_SMOKE, "orders")
    plain = li.join(orders, li.l_orderkey == orders.o_orderkey).count()
    assert bucketed == plain
