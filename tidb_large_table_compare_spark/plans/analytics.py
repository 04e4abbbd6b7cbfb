"""DataFrame-native TPC-H-shaped analytics (SURVEY.md §2.C).

These queries were originally registered as shared ANSI SQL (Spark executed
the oracle's identical string — legitimate for a SQL-surface capability, but
it verifies Spark's SQL engine, not engine code). Re-expressed here with the
DataFrame API as genuinely different formulations: window-min/window-max
instead of correlated MIN/MAX subqueries (q2, q15), left-semi/left-anti
joins instead of EXISTS/NOT EXISTS/IN (q4, q20, q21, q22), broadcast
cross-joins of one-row aggregates instead of scalar subqueries (q11, q22),
pre-aggregated threshold joins instead of correlated averages (q17),
join-graph composition instead of FROM-lists, `when/otherwise` instead of
CASE. The DuckDB oracle still runs the original ANSI string, so the
cross-engine value check exercises two independent constructions.

Numeric discipline matches the registry-wide contract (PERFORMANCE.md
"Cross-engine exactness"): interior arithmetic in exact DECIMAL — the same
precision/scale promotions the SQL string produces, so Catalyst builds the
same expression tree — with DOUBLE casts only in final projections.

Scale notes: every join here is a key equi-join Catalyst plans freely (the
dimension sides — nation, supplier, part — broadcast under AQE); aggregations
are partial-aggregate shuffles on the group keys; the two LIMIT queries sort
only their aggregated output, never base rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tidb_large_table_compare_spark.functions.localframe import local_frame
from tidb_large_table_compare_spark.sources.tables import load_table

__all__ = [
    "q1_pricing_summary",
    "q2_cheapest_part_per_brand",
    "q3_shipping_priority",
    "q5_revenue_by_nation",
    "q7_nation_pair_volume",
    "q8_brand_share_by_year",
    "q9_profit_by_nation_year",
    "q10_top_return_customers",
    "q12_priority_line_counts",
    "q13_order_count_distribution",
    "q14_promo_revenue_share",
    "top3_customers_per_nation",
    "q4_order_priority_exists",
    "q6_forecast_revenue",
    "q11_important_part_stock",
    "q15_top_supplier_by_revenue",
    "q16_part_supplier_variety",
    "q17_small_quantity_revenue",
    "q18_large_quantity_orders",
    "q19_disjunctive_revenue",
    "q20_suppliers_of_heavy_parts",
    "q21_suppliers_with_problem_orders",
    "q22_idle_rich_customers",
    "latest_event_per_user",
    "order_priority_counts",
    "sessionize_events",
    "hourly_event_counts",
    "string_ops_documents",
    "rollup_quantity_by_flag_status",
    "customers_with_both_statuses",
    "customers_never_finished",
    "running_revenue_per_customer",
    "grouping_sets_order_counts",
    "cube_order_price_stats",
    "yearly_volume_by_nation",
    "extract_table_from_sql",
    "redact_pii_documents",
    "repeat_purchase_custkeys",
    "lateral_top2_orders_per_customer",
]


def _dec(col: Column | str, precision: int = 12, scale: int = 2) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({precision},{scale})")


def _one() -> Column:
    return F.lit(1).cast("decimal(3,2)")


def _disc_price(prefix: str = "l_") -> Column:
    """extendedprice × (1 − discount), exact decimal — the revenue kernel
    shared by q3/q5/q7/q9/q10 (and the oracle strings verbatim)."""
    return _dec(f"{prefix}extendedprice") * (_one() - _dec(f"{prefix}discount", 3, 2))


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    disc = _one() - _dec("l_discount", 3, 2)
    return (
        l.filter(F.col("l_shipdate") <= F.expr("TIMESTAMP '1998-09-02 00:00:00'"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(_dec("l_extendedprice") * disc).cast("double").alias("sum_disc_price"),
            F.sum(
                _dec("l_extendedprice") * disc * (_one() + _dec("l_tax", 3, 2))
            ).cast("double").alias("sum_charge"),
            (F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(_dec("l_extendedprice")).cast("double") / F.count(F.lit(1))).alias(
                "avg_price"
            ),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q2_cheapest_part_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-min formulation of the oracle's correlated MIN subquery."""
    p = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand")
    return (
        p.withColumn("__min_price", F.min("p_retailprice").over(w))
        .filter(F.col("p_retailprice") == F.col("__min_price"))
        .select("p_brand", "p_partkey", "p_retailprice")
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    cutoff = F.expr("TIMESTAMP '1998-03-15 00:00:00'")
    return (
        c.filter(F.col("c_mktsegment") == "BUILDING")
        .join(o.filter(F.col("o_orderdate") < cutoff), c.c_custkey == o.o_custkey)
        .join(l.filter(F.col("l_shipdate") > cutoff), l.l_orderkey == o.o_orderkey)
        .groupBy(l.l_orderkey.alias("o_orderkey"), "o_orderdate")
        .agg(F.sum(_disc_price()).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


def q5_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .join(s, (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(n, s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(_disc_price()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q7_nation_pair_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(cn, c.c_nationkey == F.col("cn_key"))
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(sn, s.s_nationkey == F.col("sn_key"))
        .filter(
            (F.col("cn_key") != F.col("sn_key"))
            & (F.col("cn_key") < 4)
            & (F.col("sn_key") < 4)
        )
        .groupBy("cust_nation", "supp_nation", F.year("l_shipdate").alias("ship_year"))
        .agg(F.sum(_disc_price()).cast("double").alias("volume"))
    )


def q8_brand_share_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part")
    # volume stays DECIMAL through the sums: a per-row double cast made
    # brand12_share a ratio of two order-dependent double sums, which
    # diverged from the oracle by an ulp once sf1 summed across 32
    # partitions (round-10 sf1 sweep). Exact decimal sums + ONE final
    # correctly-rounded double division are scale-independent.
    per_item = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(p, l.l_partkey == p.p_partkey)
        .select(
            F.year("o_orderdate").alias("order_year"),
            "p_brand",
            _disc_price().alias("volume"),
        )
    )
    zero = F.lit(0).cast(per_item.schema["volume"].dataType.simpleString())
    return per_item.groupBy("order_year").agg(
        (
            F.sum(
                F.when(F.col("p_brand") == "Brand#12", F.col("volume")).otherwise(
                    zero
                )
            ).cast("double")
            / F.sum("volume").cast("double")
        ).alias("brand12_share"),
        F.count(F.lit(1)).alias("n_items"),
    )


def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    profit = _disc_price() - _dec("p_retailprice") * _dec("l_quantity") * F.lit(
        0.1
    ).cast("decimal(3,2)")
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("n_name", F.year("o_orderdate").alias("order_year"))
        .agg(F.sum(profit).cast("double").alias("profit"))
    )


def q10_top_return_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l.filter(F.col("l_returnflag") == "R"), l.l_orderkey == o.o_orderkey)
        .filter(
            (F.col("o_orderdate") >= F.expr("TIMESTAMP '1997-01-01 00:00:00'"))
            & (F.col("o_orderdate") < F.expr("TIMESTAMP '1998-01-01 00:00:00'"))
        )
        .groupBy("c_custkey", "c_name")
        .agg(F.sum(_disc_price()).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


def q12_priority_line_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    high = F.expr("o_orderpriority IN ('1-URGENT', '2-HIGH')")
    # mirror SQL CASE WHEN ... NOT IN semantics on NULL priorities: NOT IN
    # over NULL is NULL, so a NULL-priority row counts in NEITHER bucket
    low = F.col("o_orderpriority").isNotNull() & ~high
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .filter(
            (F.col("l_shipdate") >= F.expr("TIMESTAMP '1997-01-01 00:00:00'"))
            & (F.col("l_shipdate") < F.expr("TIMESTAMP '1998-01-01 00:00:00'"))
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(low, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
    )


def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count(o.o_orderkey).alias("c_count"))  # counts non-null only
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    rev = _disc_price()
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast("decimal(12,2)")
    )
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .agg(
            (
                # 100.0 parses as DECIMAL(4,1) in SQL — keep the same
                # decimal-times-decimal tree, double cast only at the end
                (F.expr("CAST(100.0 AS DECIMAL(4,1))") * F.sum(promo)).cast("double")
                / F.sum(rev).cast("double")
            ).alias("promo_share_pct"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def top3_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(F.desc("c_acctbal"), "c_custkey")
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("n_name", "c_name", "c_acctbal", "rnk")
    )


def q4_order_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS → left-semi join with a mixed equi/non-equi condition."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    return (
        o.filter(
            (F.col("o_orderdate") >= F.expr("TIMESTAMP '1996-07-01 00:00:00'"))
            & (F.col("o_orderdate") < F.expr("TIMESTAMP '1996-10-01 00:00:00'"))
        )
        .join(
            l,
            (l.l_orderkey == o.o_orderkey) & (l.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.expr("TIMESTAMP '1996-01-01 00:00:00'"))
            & (F.col("l_shipdate") < F.expr("TIMESTAMP '1997-01-01 00:00:00'"))
            # decimal literals, as the SQL parser reads them — not doubles
            & (F.col("l_discount") >= F.expr("0.02"))
            & (F.col("l_discount") <= F.expr("0.09"))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_dec("l_extendedprice") * _dec("l_discount", 3, 2))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q11_important_part_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar-subquery HAVING, evaluated the way Spark itself
    executes scalar subqueries: one driver-side 1-row aggregate, reused as a
    literal in the main plan. Bounded driver state (a single double); avoids
    both a BroadcastNestedLoopJoin and an empty-partition window."""
    l = load_table(spark, sf_dir, "lineitem")
    thr = l.agg(
        (F.sum(_dec("l_quantity")).cast("double") * F.expr("0.008")).alias("t")
    ).collect()[0]["t"]
    return (
        l.groupBy("l_partkey")
        .agg(F.sum(_dec("l_quantity")).cast("double").alias("part_qty"))
        .filter(F.col("part_qty") > F.lit(thr))
    )


def q15_top_supplier_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAX-scalar subquery → empty-partition window max over the CTE frame."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    revenue = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_disc_price()).cast("double").alias("total_revenue")
    )
    top = (
        revenue.withColumn(
            "__max", F.max("total_revenue").over(Window.partitionBy())
        )
        .filter(F.col("total_revenue") == F.col("__max"))
        .drop("__max")
    )
    return s.join(top, s.s_suppkey == F.col("supplier_no")).select(
        "s_suppkey", "s_name", "total_revenue"
    )


def q16_part_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    l = load_table(spark, sf_dir, "lineitem")
    return (
        p.filter(
            (F.col("p_brand") != "Brand#1")
            & F.expr("p_size IN (1, 5, 10, 15, 20, 25, 30, 35)")
        )
        .join(l, p.p_partkey == l.l_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated per-part average → pre-aggregated threshold equi-join."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    thresholds = l.groupBy(F.col("l_partkey").alias("__tp")).agg(
        (
            F.expr("0.2")
            * (F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1)))
        ).alias("__thr")
    )
    return (
        l.join(p.filter(F.col("p_brand") == "Brand#23"), l.l_partkey == p.p_partkey)
        .join(thresholds, l.l_partkey == F.col("__tp"))
        .filter(F.col("l_quantity") < F.col("__thr"))
        .agg(
            (F.sum(_dec("l_extendedprice")).cast("double") / F.expr("7.0")).alias(
                "avg_yearly"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q18_large_quantity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .groupBy("c_custkey", "o_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("__qty"))
        # HAVING compares the exact decimal sum, before the double cast
        .filter(F.col("__qty") > 150)
        .select(
            "c_custkey", "o_orderkey", F.col("__qty").cast("double").alias("total_qty")
        )
    )


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    qty = F.col("l_quantity")

    def arm(brand: str, size_hi: int, q_lo: int, q_hi: int):
        return (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(1, size_hi)
            & (qty >= q_lo)
            & (qty <= q_hi)
        )

    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .filter(
            arm("Brand#12", 15, 1, 30)
            | arm("Brand#23", 25, 5, 40)
            | arm("Brand#15", 50, 10, 50)
        )
        .agg(
            F.sum(_disc_price()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q20_suppliers_of_heavy_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery → left-semi join on the aggregated key set."""
    s = load_table(spark, sf_dir, "supplier")
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    heavy = (
        l.join(p.filter(F.col("p_size") > 25), l.l_partkey == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum(_dec("l_quantity")).alias("__qty"))
        .filter(F.col("__qty") > 100)
        .select("l_suppkey")
    )
    return s.join(heavy, s.s_suppkey == F.col("l_suppkey"), "left_semi").select(
        "s_name", "s_suppkey"
    )


def q21_suppliers_with_problem_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS → left-semi, NOT EXISTS → left-anti, both with mixed
    equi/non-equi correlation on the same fact table."""
    s = load_table(spark, sf_dir, "supplier")
    l1 = load_table(spark, sf_dir, "lineitem").alias("l1")
    o = load_table(spark, sf_dir, "orders")
    l2 = load_table(spark, sf_dir, "lineitem").alias("l2")
    l3 = load_table(spark, sf_dir, "lineitem").alias("l3")
    base = s.join(l1, s.s_suppkey == F.col("l1.l_suppkey")).join(
        o.filter(F.col("o_orderstatus") == "F"),
        F.col("o_orderkey") == F.col("l1.l_orderkey"),
    )
    with_other = base.join(
        l2,
        (F.col("l2.l_orderkey") == F.col("l1.l_orderkey"))
        & (F.col("l2.l_suppkey") != F.col("l1.l_suppkey")),
        "left_semi",
    )
    sole_blocker = with_other.join(
        l3,
        (F.col("l3.l_orderkey") == F.col("l1.l_orderkey"))
        & (F.col("l3.l_suppkey") != F.col("l1.l_suppkey"))
        & (F.col("l3.l_shipdate") > F.col("l1.l_shipdate")),
        "left_anti",
    )
    return sole_blocker.groupBy("s_name").agg(F.count(F.lit(1)).alias("numwait"))


def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar average threshold evaluated driver-side (one 1-row collect,
    like Spark's own scalar-subquery execution); NOT EXISTS → left-anti
    join on the order feed."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    thr = (
        c.filter(F.col("c_acctbal") > F.expr("0.0"))
        .agg(
            (F.sum(_dec("c_acctbal")).cast("double") / F.count(F.lit(1))).alias("t")
        )
        .collect()[0]["t"]
    )
    return (
        c.filter(F.col("c_acctbal") > F.lit(thr))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(_dec("c_acctbal")).cast("double").alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# Final conversion batch: every remaining shared-SQL entry re-expressed
# natively — set operators, ROLLUP/CUBE/GROUPING SETS, window analytics,
# event-time queries, LATERAL-as-window, inline-VALUES string ops.
# ---------------------------------------------------------------------------


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with the same ts axis the oracle's normalizing CTE builds
    (CAST to TIMESTAMP under the UTC-pinned session)."""
    return load_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )


def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", "ts")
    )


def order_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("bigint")
        .alias("finished_count"),
        F.sum(F.when(F.col("o_totalprice") > 200000, 1).otherwise(0))
        .cast("bigint")
        .alias("big_ticket_count"),
    )


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    is_new = F.when(
        F.lag("ts").over(w).isNull()
        | (F.col("ts") - F.lag("ts").over(w) > F.expr("INTERVAL 30 MINUTE")),
        1,
    ).otherwise(0)
    return (
        e.withColumn("is_new", is_new)
        .groupBy("user_id")
        .agg(
            F.sum("is_new").cast("bigint").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def hourly_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    return (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour_start"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value")).cast("double").alias("total_value"),
        )
    )


def string_ops_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.regexp_extract("source", "([0-9]+)", 1).cast("bigint"))
        .cast("bigint")
        .alias("sum_src_num"),
        F.sum(F.length("text")).cast("bigint").alias("total_chars"),
        F.sum(F.when(F.substring("text", 1, 4) == "the ", 1).otherwise(0))
        .cast("bigint")
        .alias("the_prefix_docs"),
    )


def rollup_quantity_by_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return l.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
    )


def customers_with_both_statuses(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    open_ = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    finished = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return open_.intersect(finished)  # INTERSECT (distinct)


def customers_never_finished(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select("o_custkey").subtract(  # EXCEPT (distinct)
        o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    )


def running_revenue_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.filter(F.col("o_custkey") % 10 == 1).select(
        "o_custkey",
        "o_orderkey",
        F.sum(_dec("o_totalprice"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("double")
        .alias("running_total"),
        F.lag("o_totalprice").over(w).cast("double").alias("prev_price"),
    )


def grouping_sets_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupingSets(
        [["o_orderstatus"], ["o_orderpriority"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(F.count(F.lit(1)).alias("n"))


def cube_order_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("bigint").alias("g_status"),
        F.grouping("o_orderpriority").cast("bigint").alias("g_priority"),
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec("o_totalprice")).cast("double").alias("total_price"),
    )


def yearly_volume_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", F.year("o_orderdate").alias("order_year"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("volume"),
        )
    )


def extract_table_from_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A27: FROM-clause table extraction with db.table split + fallback
    (reference behavior) — inline rows instead of a VALUES CTE."""
    sqls = local_frame(
        spark,
        [
            (1, "SELECT * FROM my_database.users WHERE id > 0"),
            (2, "SELECT COUNT(*) FROM app_db.orders o JOIN x.y ON 1=1"),
            (3, "SELECT 1 FROM unqualified_table"),
            (4, "SELECT 1"),
        ],
        "sql_id int, sql_text string",
    )
    qualified = F.regexp_extract("sql_text", r"FROM +([a-zA-Z_][a-zA-Z0-9_.]*)", 1)
    dot = F.instr(qualified, ".")
    return sqls.select(
        "sql_id",
        F.when(qualified == "", F.lit("my_database"))
        .when(dot > 0, F.substring(qualified, F.lit(1), dot - 1))
        .otherwise(F.lit("my_database"))
        .alias("db_name"),
        F.when(qualified == "", F.lit("users"))
        .when(dot > 0, qualified.substr(dot + 1, F.length(qualified)))
        .otherwise(qualified)
        .alias("table_name"),
    )


def redact_pii_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    email = r"[a-zA-Z0-9_.]+@[a-zA-Z0-9_.]+"
    tagged = d.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com now"),
        ).alias("text"),
    )
    return tagged.select(
        "doc_id",
        F.regexp_replace("text", email, "<EMAIL>").alias("redacted"),
        (
            F.length("text") - F.length(F.regexp_replace("text", email, ""))
        ).alias("redacted_chars"),
    )


def repeat_purchase_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cutoff = F.expr("TIMESTAMP '1998-01-01 00:00:00'")
    before = o.filter(F.col("o_orderdate") < cutoff).select("o_custkey")
    after = o.filter(F.col("o_orderdate") >= cutoff).select("o_custkey")
    return before.intersectAll(after)  # INTERSECT ALL keeps multiplicity


def lateral_top2_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL top-k per key → ranked window over the inner join (customers
    without orders drop out of both formulations)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("c_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        c.filter(F.col("c_custkey") % 20 == 1)
        .join(o, c.c_custkey == o.o_custkey)
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= 2)
        .select("c_custkey", "o_orderkey", "o_totalprice")
    )
