"""Bucketed co-located join: pre-bucketing both sides of a recurring join
key removes the per-query shuffle entirely — on a 100 TB corpus the
pages/extracted tables would be bucketed by url-hash so golden joins,
resume anti-joins, and metric joins are all exchange-free."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from document_ai_spark.plans.audit import formatted_plan


@pytest.fixture(scope="module")
def bucketed_db(spark, tmp_path_factory):
    # spark.sql.warehouse.dir is a static conf — the default ./spark-warehouse
    # (gitignored) is used; tables are dropped after the module
    spark.sql("CREATE DATABASE IF NOT EXISTS bdemo")
    o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    l = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    (
        o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("bdemo.orders_b")
    )
    (
        l.withColumnRenamed("l_orderkey", "o_orderkey")
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("bdemo.lineitem_b")
    )
    yield "bdemo"
    spark.sql("DROP TABLE IF EXISTS bdemo.orders_b")
    spark.sql("DROP TABLE IF EXISTS bdemo.lineitem_b")
    spark.sql("DROP DATABASE IF EXISTS bdemo")


def test_bucketed_join_has_no_shuffle(spark, bucketed_db):
    o = spark.table("bdemo.orders_b")
    l = spark.table("bdemo.lineitem_b")
    # force SMJ so the test checks bucketing, not broadcast
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = l.join(o, "o_orderkey").groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n")
        )
        plan = formatted_plan(j)
        join_section = plan.split("HashAggregate")[0]
        # co-located buckets: the join itself needs no Exchange
        assert "SortMergeJoin" in plan
        assert "Exchange" not in join_section
        # and results are right
        total = j.agg(F.sum("n")).collect()[0][0]
        assert total == spark.table("bdemo.lineitem_b").count()
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
