"""Bucketed tables co-locate joins: same-bucket joins need no exchange.

This is the 100 TB repeated-join strategy for recurring joins on one key;
the plan assertion proves Spark elides the shuffle entirely. The compare
drill-down pairs rows without a join, so bucketed compare inputs only need
an exact verdict.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    # NB: spark.sql.warehouse.dir is a static conf; tables land in the
    # default ./spark-warehouse (gitignored) and are dropped afterwards.
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    customer = spark.read.parquet(f"{SF_SMALL}/customer.parquet")
    try:
        (
            orders.write.mode("overwrite")
            .bucketBy(8, "o_custkey")
            .sortBy("o_custkey")
            .saveAsTable("orders_b")
        )
        (
            customer.write.mode("overwrite")
            .bucketBy(8, "c_custkey")
            .sortBy("c_custkey")
            .saveAsTable("customer_b")
        )
        # disable broadcast so the join would otherwise need a full shuffle
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("orders_b").join(
            spark.table("customer_b"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan, plan[:2000]
        assert joined.count() == orders.join(
            customer, orders.o_custkey == customer.c_custkey
        ).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS customer_b")


def test_compare_drilldown_over_bucketed_tables_has_no_join_shuffle(spark):
    """A compare over pre-bucketed catalog tables gives the exact verdict
    of the same compare over plain frames, and its drill-down plans no
    join: rows pair in the signed aggregation, not a PK join. (A union
    cannot inherit the sides' bucketing, so that aggregation plans its own
    exchange even here.)"""
    from tidb_large_table_compare_spark.operators.compare import (
        CompareOptions,
        compare_tables,
    )
    from tidb_large_table_compare_spark.perturb import perturbed_orders

    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    try:
        (
            orders.write.mode("overwrite")
            .bucketBy(8, "o_orderkey")
            .sortBy("o_orderkey")
            .saveAsTable("cmp_master_b")
        )
        (
            perturbed_orders(orders).write.mode("overwrite")
            .bucketBy(8, "o_orderkey")
            .sortBy("o_orderkey")
            .saveAsTable("cmp_replica_b")
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        tc = compare_tables(
            spark,
            spark.table("cmp_master_b"),
            spark.table("cmp_replica_b"),
            ["o_orderkey"],
            options=CompareOptions(n_buckets=16),
            table_name="b.orders",
        )
        diff = tc.diff_rows()
        plan = diff._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan, plan[:3000]
        # verdict still exact
        by_type = {r.diff_type: 1 for r in diff.select("diff_type").distinct().collect()}
        assert set(by_type) == {"missing_in_right", "extra_in_right", "modified"}
        ref = compare_tables(
            spark, orders, perturbed_orders(orders), ["o_orderkey"],
            options=CompareOptions(n_buckets=16), table_name="p.orders",
        ).summary().collect()[0]
        got = tc.summary().collect()[0]
        assert (got.upcount, got.downcount) == (ref.upcount, ref.downcount)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS cmp_master_b")
        spark.sql("DROP TABLE IF EXISTS cmp_replica_b")
