"""Physical-plan assertions — the scale properties the engine depends on.

These lock in what `.explain("formatted")` reviews found: predicate pushdown
and column pruning reaching the parquet scans, dimension joins broadcasting,
and the compare drill-down no longer recomputing the digest subtree.
"""

from __future__ import annotations

import dataclasses

import pytest
from pyspark.sql import functions as F

from tidb_large_table_compare_spark.operators.compare import compare_tables
from tidb_large_table_compare_spark.perturb import perturbed_orders
from tidb_large_table_compare_spark.registry import QUERIES
from tests.conftest import SF_SMALL


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_pushdown_and_pruning(spark):
    plan = _plan(QUERIES["q1_pricing_summary"](spark, SF_SMALL))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: the scan must not read the join keys q1 never touches
    scan = [l for l in plan.splitlines() if "FileScan parquet" in l][0]
    assert "l_orderkey" not in scan and "l_partkey" not in scan
    assert "l_quantity" in scan


def test_q5_broadcasts_dimensions(spark):
    plan = _plan(QUERIES["q5_revenue_by_nation"](spark, SF_SMALL))
    # nation/region/supplier are tiny: Catalyst must broadcast, not sort-merge
    assert plan.count("BroadcastHashJoin") >= 3


def test_compare_drilldown_scans_bounded(spark):
    """After bad-bucket materialization the diff plan contains exactly the
    two drill-down scans — the digest subtree must not be re-inlined."""
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    cmp = compare_tables(
        spark, orders, perturbed_orders(orders), pk=["o_orderkey"], table_name="t"
    )
    plan = _plan(cmp.diff_rows())
    # left side scans once; the perturbed right side is built from two reads
    # of the same file (filter + union) → at most 3 file scans, never the
    # 8-10 of the pre-materialization plan
    assert plan.count("FileScan parquet") <= 3


def test_drilldowns_read_through_the_bucket_scope_alone(spark):
    """Column drift and fix-SQL read rows one way whichever consumer ran
    first. After the summary's diff is computed, column_drift still
    restricts both scans through the bucket bitset, with no pk-IN
    predicate, and plans exactly as it did standalone; fix-SQL retrieves
    the master's rows by a semi-join against the diff keys. (n_buckets
    pinned high so the scope is a bitset, not skip.)"""
    import re

    from tidb_large_table_compare_spark.operators.compare import CompareOptions
    from tidb_large_table_compare_spark.operators.fixsql import fix_sql

    def shape(df):  # expression ids differ between two builds of a plan
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return re.sub(r"(#|_common_expr_)\d+L?", r"\1", plan)

    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    cmp = compare_tables(
        spark, orders, perturbed_orders(orders), pk=["o_orderkey"],
        options=CompareOptions(n_buckets=4096), table_name="main.orders",
    )
    assert cmp.scope().kind == "bitset"
    standalone = shape(cmp.column_drift())
    cmp.diff_rows().count()  # the summary's diff, persisted and filled
    assert shape(cmp.column_drift()) == standalone
    plan = _plan(cmp.column_drift())
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert len(scans) >= 2 and all("getbit(" in l for l in scans), scans
    assert "In(o_orderkey" not in plan, plan
    fix = _plan(fix_sql(cmp))
    assert "LeftSemi" in fix and "In(" not in fix, fix
    cmp.close()


def test_fix_sql_export_gathers_statements_not_the_scan(spark, tmp_path):
    """The CLI writes each table's fix SQL as one file. The single-task
    gather is an exchange above the statements, not a Coalesce folded into
    the master scan's stage: coalesce(1) ran the whole scan and semi-join
    in one task (a single-core full-table scan at scale)."""
    from unittest.mock import patch

    from tidb_large_table_compare_spark.cli import main

    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    slave = tmp_path / "slave"
    perturbed_orders(orders).write.parquet(str(slave / "orders.parquet"))
    real_write = type(orders).write
    written = []

    def capture(df):
        written.append(df)
        return real_write.fget(df)

    # patch the CONCRETE class — pyspark.sql.DataFrame is abstract in Spark 4
    with patch.object(type(orders), "write", property(capture)):
        main(
            [
                "--left-dir", SF_SMALL,
                "--right-dir", str(slave),
                "--tables", "orders",
                "--pk", "orders=o_orderkey",
                "--fix-sql-out", str(tmp_path / "fix"),
            ]
        )
    (fix,) = [df for df in written if df.columns == ["fix_sql"]]
    plan = _plan(fix)
    assert "Coalesce" not in plan, plan
    assert "Exchange SinglePartition" in plan.splitlines()[1], plan
    assert list((tmp_path / "fix" / "main_orders_fix").glob("part-*"))


def test_verify_repair_filters_before_row_hash(spark):
    """The scoped re-verify must discard clean-bucket rows BEFORE the
    full-width canonicalize+hash: in its digest plan, EVERY parquet scan
    carries the bad-bucket membership predicate (the bitset's getbit
    over the pk hash) as a data filter, so the saved work — hashing every payload column of
    the clean ~1-p of the table — is structural, not incidental.

    (Asserted on the scoped digest plan, the shape verify_repair builds
    internally; verify_repair's own returned summary folds to a local
    relation once the drill-down finds nothing, so the interesting plan
    is the eager digest pass.)"""
    from tidb_large_table_compare_spark.operators.compare import CompareOptions
    from tidb_large_table_compare_spark.operators.reconcile import apply_fixes

    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    slave = perturbed_orders(orders)
    # pin buckets high so drift is a small fraction and the scope engages
    tc = compare_tables(
        spark, orders, slave, pk=["o_orderkey"],
        options=CompareOptions(n_buckets=4096), table_name="t",
    )
    scope = tc.scope()
    n_buckets = scope.n_buckets
    assert scope.kind == "bitset" and scope.n_bad < 0.25 * n_buckets
    repaired = apply_fixes(orders, slave, ["o_orderkey"], tc.diff_rows())
    scoped = compare_tables(
        spark,
        scope.restrict(tc.left, tc.pk),
        scope.restrict(repaired, tc.pk),
        tc.pk,
        dataclasses.replace(tc.options, n_buckets=n_buckets),
        "t",
    )
    plan = _plan(scoped.mismatched_buckets())
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert len(scans) >= 2  # left + the repaired union's branches
    for line in scans:
        # the scan abbreviates DataFilters to 100 characters, and the
        # bitset's words come before the pk hash
        assert "getbit(element_at([" in line, (
            f"unfiltered scan in scoped verify: {line[:160]}"
        )


def test_compare_narrow_shuffle_columns(spark):
    """The PK join must shuffle only (pk, hash) — no payload columns."""
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    cmp = compare_tables(
        spark, orders, perturbed_orders(orders), pk=["o_orderkey"], table_name="t"
    )
    plan = _plan(cmp.diff_rows())
    for line in plan.splitlines():
        if "Exchange hashpartitioning(o_orderkey" in line:
            # shuffle output schema is the narrow (pk, hash) projection
            assert "o_totalprice" not in line and "o_orderpriority" not in line


def test_ann_broadcasts_queries(spark):
    plan = _plan(QUERIES["ann_cosine_topk"](spark, SF_SMALL))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_digest_map_side_combine(spark):
    """The compare's digest aggregation (left +1, right -1, one groupBy)
    must partially aggregate before the shuffle — bytes shuffled ∝
    n_buckets, not rows (the core 100 TB property, B6)."""
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    cmp = compare_tables(
        spark, orders, perturbed_orders(orders), pk=["o_orderkey"], table_name="t"
    )
    plan = _plan(cmp.mismatched_buckets())
    pre_shuffle = plan.split("Exchange hashpartitioning(__bucket")[-1]
    assert "partial_sum" in pre_shuffle and "partial_bit_xor" in pre_shuffle


# --- skew stress (SURVEY.md §7): hot keys must not unbound any shuffle ------


def _walk_executed(node):
    yield node
    it = node.children().iterator()
    while it.hasNext():
        yield from _walk_executed(it.next())
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from _walk_executed(node.executedPlan())
    if name.endswith("QueryStageExec"):
        yield from _walk_executed(node.plan())


def _shuffle_records_written(df) -> int:
    total = 0
    for node in _walk_executed(df._jdf.queryExecution().executedPlan()):
        if "ShuffleExchange" in node.getClass().getSimpleName():
            m = node.metrics()
            it = m.keysIterator()
            while it.hasNext():
                k = it.next()
                if k == "shuffleRecordsWritten":
                    total += m.apply(k).value()
    return total


def test_aqe_skew_join_splits_hot_key(spark):
    """A join key held by 10% of all rows must trigger AQE's skew-join
    split (session enables it; thresholds lowered here so test-sized data
    crosses them). Assertion is on the final adaptive plan, not wall-clock.
    The shuffle width is pinned too: the session sizes it to the host's
    core count, and at 4 partitions the hot key is under twice the median
    partition, so AQE rightly declines to split it."""
    saved = {
        "spark.sql.shuffle.partitions": None,
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": None,
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": None,
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": None,
        "spark.sql.autoBroadcastJoinThreshold": None,
    }
    for k in saved:
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        left = spark.range(0, 200_000).select(
            F.when(F.col("id") % 10 == 0, F.lit(0)).otherwise(F.col("id")).alias("key"),
            F.concat(F.lit("payload_payload_payload_"), F.col("id")).alias("pl"),
        )
        right = spark.range(0, 50_000).select(
            F.col("id").alias("key"), (F.col("id") * 3).alias("rv")
        )
        j = left.join(right, "key")
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, "AQE skew-join did not engage"
        assert "skewed" in plan  # AQEShuffleRead ... skewed
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_in_list_pushdown_for_decimal_and_string_pks(spark, tmp_path):
    """``hashing.in_list``'s rendered domain includes Decimal (the TiDB
    unsigned-BIGINT mapping) and identifier-charset string keys — the
    rendered IN must reach the parquet scan's PushedFilters for both, or
    a filtered read degrades to an unpruned full scan."""
    from decimal import Decimal

    from tidb_large_table_compare_spark.functions.hashing import in_list

    p = str(tmp_path / "dec")
    spark.range(1000).selectExpr(
        "cast(id as decimal(20,0)) pk", "id v"
    ).write.parquet(p)
    df = spark.read.parquet(p)
    plan = (
        df.filter(in_list("pk", [Decimal(5), Decimal(7)]))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "In(pk, [5,7" in plan.split("PushedFilters")[1][:80], plan

    p2 = str(tmp_path / "str")
    spark.range(1000).selectExpr("concat('k-', id) pk", "id v").write.parquet(p2)
    df2 = spark.read.parquet(p2)
    plan2 = (
        df2.filter(in_list("pk", ["k-5", "k-7"]))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "In(pk, [k-5,k-7" in plan2.split("PushedFilters")[1][:80], plan2

    # timestamp pks (both flavors) joined the domain in round 10: the
    # dtype-declared rendering must reach PushedFilters as In — these are
    # the event-time keys of CDC feeds, where the isin fallback's driver
    # cost was the standing 22-30 s penalty
    import datetime

    p3 = str(tmp_path / "ts")
    spark.range(1000).selectExpr(
        "timestampadd(SECOND, cast(id as int), timestamp'2024-01-01 00:00:00+00:00') pk",
        "id v",
    ).write.parquet(p3)
    df3 = spark.read.parquet(p3)
    tids = [r.pk for r in df3.filter("v in (5, 7)").select("pk").collect()]
    assert all(isinstance(t, datetime.datetime) for t in tids)
    plan3 = (
        df3.filter(in_list("pk", tids, df3.schema["pk"].dataType))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "In(pk, [2024-01-01" in plan3.split("PushedFilters")[1][:120], plan3
    got3 = sorted(
        r.v
        for r in df3.filter(
            in_list("pk", tids, df3.schema["pk"].dataType)
        ).collect()
    )
    assert got3 == [5, 7]

    p4 = str(tmp_path / "ntz")
    spark.range(1000).selectExpr(
        "timestampadd(SECOND, cast(id as int), timestamp_ntz'2024-01-01 00:00:00') pk",
        "id v",
    ).write.parquet(p4)
    df4 = spark.read.parquet(p4)
    nids = [r.pk for r in df4.filter("v in (5, 7)").select("pk").collect()]
    plan4 = (
        df4.filter(in_list("pk", nids, df4.schema["pk"].dataType))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "In(pk, [2024-01-01" in plan4.split("PushedFilters")[1][:120], plan4
    got4 = sorted(
        r.v
        for r in df4.filter(
            in_list("pk", nids, df4.schema["pk"].dataType)
        ).collect()
    )
    assert got4 == [5, 7]


def test_compare_drilldown_shuffle_bounded_under_hot_bucket(spark):
    """Inject a hot bucket at sf0.1: every row of ONE of 10 buckets differs
    (~10% of the table). The drill-down must shuffle only that bucket's rows
    from each side — measured from shuffle-write metrics, never ~2x table."""
    from tidb_large_table_compare_spark.functions.hashing import bucket_id
    from tidb_large_table_compare_spark.operators.compare import CompareOptions

    orders = spark.read.parquet("/root/testdata/sf0.1/orders.parquet")
    total = orders.count()
    n_buckets = 10
    tagged = orders.withColumn("__b", bucket_id(["o_orderkey"], n_buckets, orders))
    right = tagged.withColumn(
        "o_totalprice",
        F.when(F.col("__b") == 3, F.col("o_totalprice") + 1).otherwise(
            F.col("o_totalprice")
        ),
    ).drop("__b")
    hot_rows = tagged.filter(F.col("__b") == 3).count()
    cmp = compare_tables(
        spark, orders, right, ["o_orderkey"],
        CompareOptions(n_buckets=n_buckets), "t",
    )
    diff = cmp.diff_rows()
    # the bounded-drift persist would serve the second action from cache
    # and hide the very shuffle this test measures — measure the raw plan
    diff.unpersist()
    assert diff.count() == hot_rows  # all-and-only the hot bucket's rows
    diff_executed = cmp.diff_rows()  # cached DataFrame; execute it directly
    rows = diff_executed.collect()
    assert len(rows) == hot_rows
    shuffled = _shuffle_records_written(diff_executed)
    assert shuffled > 0, "metrics traversal found no shuffle"
    # bound: both sides' hot-bucket rows (+ slack), far below a full shuffle
    assert shuffled <= int(2.2 * hot_rows), (shuffled, hot_rows)
    assert shuffled < 0.25 * 2 * total, (shuffled, total)


def test_salted_aggregation_spreads_hot_key(spark):
    """salted_count_by_key: a 10%-hot key is spread over n_salts partial
    groups (phase-1 plan groups on (key, salt)) and totals stay exact."""
    from tidb_large_table_compare_spark.operators.skew import (
        salted_count_by_key,
        with_salt,
    )

    df = spark.range(0, 100_000).select(
        F.when(F.col("id") % 10 == 0, F.lit(0)).otherwise(F.col("id") % 997).alias("k")
    )
    out = salted_count_by_key(df, ["k"], n_salts=16)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "__salt" in plan  # phase-1 grouping key includes the salt
    got = {r.k: r.n for r in out.collect()}
    want = {r.k: r.cnt for r in df.groupBy("k").agg(F.count("*").alias("cnt")).collect()}
    assert got == want
    # the hot key's phase-1 partials really spread across salts
    partials = (
        with_salt(df, 16).filter(F.col("k") == 0)
        .select("__salt").distinct().count()
    )
    assert partials == 16


def test_tfidf_single_tokenization_pass(spark):
    """tf/df must come from ONE explode+aggregate lineage (a self-join
    recomputes the tokenization per consumer) with the top-3 pushed down
    as a WindowGroupLimit before the final shuffle."""
    df = QUERIES["tfidf_top_terms"](spark, SF_SMALL)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("FileScan parquet") == 1
    assert "WindowGroupLimit" in final


def test_contamination_filters_pushed_to_scan(spark):
    plan = _plan(QUERIES["contamination_check"](spark, SF_SMALL))
    # probe side and corpus side each push their doc_id % 97 predicate
    assert "(doc_id" in plan and plan.count("FileScan parquet") == 2
    assert any(
        "% 97) = 0)" in l and "FileScan" in l for l in plan.splitlines()
    ), "probe-side filter not pushed to the scan"


def test_no_accidental_cartesian_products_anywhere(spark):
    """Registry-wide guardrail: no query may plan a CartesianProduct, and
    BroadcastNestedLoopJoin is allowed ONLY for the documented brute-force
    ANN baseline (broadcast query set x corpus with a != condition).
    Streaming entries are skipped — they execute fully on construction and
    are plan-asserted by their own tests."""
    # knn_label_classify reuses the same brute_force_topk broadcast scan as
    # its candidate stage, so it carries the identical (documented) BNLJ
    ALLOWED_BNLJ = {"ann_cosine_topk", "knn_label_classify"}
    offenders = []
    for name, fn in QUERIES.items():
        if name.startswith("streaming_"):
            continue
        df = fn(spark, SF_SMALL)
        plan = df._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            offenders.append((name, "CartesianProduct"))
        if "BroadcastNestedLoopJoin" in plan and name not in ALLOWED_BNLJ:
            offenders.append((name, "BroadcastNestedLoopJoin"))
    assert not offenders, offenders


@pytest.mark.parametrize(
    "name,needed,forbidden",
    [
        ("stratified_sample_docs", ["doc_id", "source"], ["text", "lang"]),
        ("repetition_filter_docs", ["doc_id", "text"], ["source", "lang"]),
        ("pack_training_chunks", ["doc_id", "text"], ["source", "lang"]),
        ("quality_filter_verdicts", ["doc_id", "text"], ["source", "lang"]),
    ],
)
def test_curation_ops_prune_document_scan(spark, name, needed, forbidden):
    """Map-side curation ops must prune the documents scan to the columns
    they actually use — reading `text` for a sampling decision (or `lang`
    for anything) would multiply scan bytes at 100 TB."""
    plan = _plan(QUERIES[name](spark, SF_SMALL))
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    doc_scans = [s for s in scans if "documents" in s]
    assert doc_scans, plan[:1500]
    for s in doc_scans:
        for col in needed:
            assert col in s, f"{name}: scan lost {col}: {s}"
        for col in forbidden:
            assert col not in s, f"{name}: scan reads unneeded {col}: {s}"


def test_ensure_min_partitions_is_noop_on_wide_inputs(spark):
    """The small-input spread must never repartition an already-parallel
    input — at scale the guard's no-op branch is the only branch that runs,
    so no shuffle of a large table is ever introduced."""
    from tidb_large_table_compare_spark.functions.partitioning import (
        ensure_min_partitions,
    )

    target = spark.sparkContext.defaultParallelism
    narrow = spark.range(1000).coalesce(1)
    spread = ensure_min_partitions(narrow)
    assert spread.rdd.getNumPartitions() == target

    wide = spark.range(1000).repartition(target + 8)
    assert ensure_min_partitions(wide) is wide  # identical plan, no shuffle


def test_sharded_packing_window_partitions_by_shard(spark):
    """The sharded packing twin's running-sum window must hash-partition on
    the shard key — one window task per shard, never a single global sort —
    while the exact twin keeps the single global window it documents."""
    from tests.conftest import SF_SMALL

    sharded = QUERIES["pack_training_chunks_sharded"](spark, SF_SMALL)
    plan = sharded._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning(shard" in plan, plan
    assert "Window" in plan

    flat = QUERIES["pack_training_chunks"](spark, SF_SMALL)
    flat_plan = flat._jdf.queryExecution().executedPlan().toString()
    # global window => a single-partition exchange, by design in the exact twin
    assert "Exchange SinglePartition" in flat_plan, flat_plan


def test_seeded_shuffle_is_take_ordered_not_global_sort(spark):
    """The reproducible-shuffle sample must plan as TakeOrderedAndProject
    (per-partition top-k + k-sized driver merge); a global Sort before the
    limit would funnel the whole corpus through one task order-by at scale.
    The rank window may only run over the k survivors (downstream of the
    take), never over the full input."""
    from tests.conftest import SF_SMALL

    plan = _plan(QUERIES["seeded_shuffle_sample"](spark, SF_SMALL))
    assert "TakeOrderedAndProject" in plan, plan
    take_pos = plan.index("TakeOrderedAndProject")
    window_pos = plan.index("Window")
    assert window_pos < take_pos, plan  # window consumes the take's output
    # no full-corpus sort: the only Sort allowed is inside the take operator
    assert "Sort " not in plan.split("TakeOrderedAndProject")[0], plan


def test_weighted_mix_filters_at_scan_and_prunes(spark):
    """The mixing filter must evaluate before aggregation with a pruned
    3-column scan — at 100 TB the dropped rows must die at the scan, and
    reading `lang`/`n_chars` for a sampling decision would inflate scan
    bytes for nothing."""
    from tests.conftest import SF_SMALL

    plan = _plan(QUERIES["weighted_source_mix"](spark, SF_SMALL))
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert scans and all("lang" not in s and "n_chars" not in s for s in scans), plan
    assert plan.index("Filter") > plan.index("HashAggregate"), plan  # filter below agg


def test_decode_stats_is_shuffle_free(spark):
    """The image build→decode chain is two chained Arrow-batched
    MapInPandas over a two-column scan: partition-preserving, zero
    exchanges — the multimodal contract (decode parallelism comes from the
    scan's splits, not from a shuffle)."""
    from tests.conftest import SF_SMALL

    plan = _plan(QUERIES["multimodal_decode_stats"](spark, SF_SMALL))
    assert plan.count("MapInPandas") == 2, plan
    assert "Exchange" not in plan, plan
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert scans and all("lang" not in s and "source" not in s for s in scans), plan


def test_stable_ids_have_no_single_partition_exchange(spark):
    """Global deterministic enumeration must come from ordered-bucket
    per-bucket ranks + driver offsets — never a single-task global sort.
    (`pack_training_chunks` keeps its documented global window as the exact
    twin; this op is the scale path for 0..N-1 id assignment.) The bucket
    id must be a pure function of the key, NOT repartitionByRange +
    spark_partition_id(): the range sampler seeds on the RDD id, so the
    offsets count-job and the rank-job can sample different boundaries
    (caught live by the round-10 sf1 oracle sweep) — no rangepartitioning
    may appear; the rank window's hash exchange is the only shuffle."""
    from tests.conftest import SF_SMALL

    plan = _plan(QUERIES["stable_sequential_ids"](spark, SF_SMALL))
    assert "Exchange SinglePartition" not in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan
    assert "hashpartitioning(__pid" in plan, plan  # the rank window's shuffle
    assert "Window" in plan  # per-bucket rank, partitioned by pid


def test_fk_audit_prunes_parent_scan_to_keys(spark):
    """The integrity audit's parent side must read ONLY the key columns —
    at 100 TB the parent payload never leaves the scan."""
    plan = _plan(QUERIES["fk_orphan_audit"](spark, SF_SMALL))
    cust_scans = [
        l for l in plan.splitlines()
        if "FileScan parquet" in l and "customer.parquet" in l
    ]
    assert cust_scans
    # customer appears as the parent of orders->customer (key c_custkey) and
    # as the child of customer->nation (c_nationkey only); no scan may read
    # payload columns like c_name / c_acctbal
    for scan in cust_scans:
        assert "c_name" not in scan and "c_acctbal" not in scan
    nation_scans = [
        l for l in plan.splitlines()
        if "FileScan parquet" in l and "nation.parquet" in l
    ]
    assert nation_scans and all("n_name" not in s for s in nation_scans)


def test_unigram_familiarity_single_freqs_materialization(spark):
    """The corpus-total scalar must come from the persisted token-count
    table, not a second full explode pass: the builder's scalar job
    materializes `freqs` once and the join leg reuses it as an
    InMemoryTableScan, so the FINAL plan explodes the documents scan
    exactly once (the old `toks.count()` + uncached-freqs shape scanned it
    twice there and three times per invocation overall)."""
    from tidb_large_table_compare_spark.registry import _TRACKED_CACHES

    df = QUERIES["unigram_familiarity_scores"](spark, SF_SMALL)
    assert df.count() > 0
    assert "unigram_familiarity:freqs" in _TRACKED_CACHES
    plan = _plan(df)
    assert "InMemoryTableScan" in plan, plan
    # exactly one LIVE documents scan (the toks join leg); everything after
    # the InMemoryRelation marker is the echo of the cached freqs build
    # plan, not a scan this invocation re-executes — the old uncached shape
    # printed two live scans and no InMemoryTableScan at all
    live_part = plan.split("InMemoryRelation")[0]
    doc_scans = [
        l for l in live_part.splitlines()
        if "FileScan parquet" in l and "documents.parquet" in l
    ]
    assert len(doc_scans) == 1, plan


def test_ensure_min_partitions_size_cap(spark):
    """With `bytes_per_partition` the spread is proportional to the
    input's footer-derived size, never past the parallelism cap and never
    below one partition — a tiny vector table must not fan into
    sub-overhead tasks (the kmeans driver-host cost was 302 tasks for
    2,000 rows before this cap)."""
    from tidb_large_table_compare_spark.functions.partitioning import (
        ensure_min_partitions,
    )

    narrow = spark.range(1000).coalesce(1)
    size = int(narrow._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    assert size > 0
    # budget bigger than the input: stays at one partition (no spread)
    assert (
        ensure_min_partitions(narrow, bytes_per_partition=size * 2) is narrow
    )
    # budget of ~1/4 the input: spreads to exactly ceil(size/bpp)
    spread = ensure_min_partitions(narrow, bytes_per_partition=-(-size // 4))
    assert 1 < spread.rdd.getNumPartitions() <= 5
    # cap still wins for minuscule budgets
    cap = spark.sparkContext.defaultParallelism
    assert (
        ensure_min_partitions(narrow, bytes_per_partition=1)
        .rdd.getNumPartitions()
        == cap
    )


class _NoJdfFrame:
    """A DataFrame stand-in whose py4j internals are unreachable — the
    shape Spark Connect presents (no `_jdf` on the client DataFrame).
    Everything else delegates to the wrapped frame."""

    def __init__(self, df):
        object.__setattr__(self, "_df", df)

    @property
    def _jdf(self):
        # deliberately NOT AttributeError: a property raising
        # AttributeError would fall through to __getattr__ and silently
        # delegate to the real _jdf, hiding the failure this simulates
        raise RuntimeError("simulated Spark Connect: no py4j internals")

    def __getattr__(self, name):
        return getattr(self._df, name)


def test_plan_size_probe_degrades_without_py4j_internals(spark):
    """Every size-gated decision routes through
    `optimized_plan_size_bytes`; when the py4j probe raises (Spark
    Connect, internals drift) it must return None, and each call site
    must take its conservative default instead of propagating."""
    from tidb_large_table_compare_spark.functions.partitioning import (
        ensure_min_partitions,
        optimized_plan_size_bytes,
    )

    real = spark.range(1000).coalesce(1)
    assert optimized_plan_size_bytes(real) > 0
    broken = _NoJdfFrame(real)
    assert optimized_plan_size_bytes(broken) is None

    # ensure_min_partitions: cap unavailable → full spread, never a raise
    spread = ensure_min_partitions(broken, bytes_per_partition=1 << 20)
    assert spread.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_admission_probe_degrades_without_size_probe(spark, tmp_path, monkeypatch):
    """With the size probe unavailable, query_neardup_index must land on
    its documented fallbacks — no static broadcast (AQE can still upgrade)
    and no verify-scan pushdown (the fully-lazy plain join) — and return
    the same pairs."""
    from tidb_large_table_compare_spark.operators import dedup_index

    corpus = spark.createDataFrame(
        [(i, f"doc number {i} with some shared words " * 3) for i in range(20)],
        "doc_id bigint, text string",
    )
    path = str(tmp_path / "noprobeidx")
    dedup_index.build_neardup_index(corpus, path)
    batch = spark.createDataFrame(
        [(101, "doc number 7 with some shared words " * 3)],
        "doc_id bigint, text string",
    )
    expected = {
        (r.id_a, r.id_b)
        for r in dedup_index.query_neardup_index(
            spark, path, batch, threshold=0.5
        ).collect()
    }
    assert expected  # the near-copy must collide with its original

    monkeypatch.setattr(
        dedup_index, "optimized_plan_size_bytes", lambda df: None
    )
    got = dedup_index.query_neardup_index(
        spark, path, batch, threshold=0.5,
        # pushdown explicitly invited: the None store size must decline it
        verify_pushdown_min_store_bytes=0,
    )
    assert {(r.id_a, r.id_b) for r in got.collect()} == expected
    # and the plan stayed lazy: no pushed candidate-id IN filter
    plan = _plan(got)
    shingle_scans = [
        l for l in plan.splitlines()
        if "FileScan parquet" in l and "shingles#" in l
    ]
    assert shingle_scans and all("In(doc_id" not in l for l in shingle_scans)


def test_admission_probe_scans_bands_not_corpus_text(spark, tmp_path):
    """The probe's scale contract: candidate generation reads ONLY the
    persisted band table (32 longs/doc, ~1/400th of corpus bytes); the
    stored shingle sets appear once, in the verification join; corpus TEXT
    is never read at all. Plan-asserted so a refactor can't silently turn
    a probe back into a corpus scan."""
    from tidb_large_table_compare_spark.operators.dedup_index import (
        build_neardup_index,
        query_neardup_index,
    )

    corpus = spark.createDataFrame(
        [(i, f"doc number {i} with some shared words " * 3) for i in range(20)],
        "doc_id bigint, text string",
    )
    path = str(tmp_path / "probeidx")
    build_neardup_index(corpus, path)
    spark.createDataFrame(
        [(101, "doc number 7 with some shared words " * 3)],
        "doc_id bigint, text string",
    ).write.parquet(str(tmp_path / "batch"))
    batch = spark.read.parquet(str(tmp_path / "batch"))

    def scan_lines(plan: str) -> list[str]:
        # plan toString truncates Location paths, so scans are identified
        # by their (stable) column signatures instead
        return [l for l in plan.splitlines() if "FileScan parquet" in l]

    # pushdown path (forced on — at test scale the store is far below the
    # adaptive size floor): candidate generation ran eagerly into the
    # checkpoint, and BOTH stored-shingle scans carry the pushed
    # candidate-id IN filter, so parquet row-group stats bound verify IO
    # by the candidate set, not the corpus (docs/ is written id-clustered
    # for exactly this)
    pushed = scan_lines(
        _plan(
            query_neardup_index(
                spark, path, batch, threshold=0.5,
                verify_pushdown_min_store_bytes=0,
            )
        )
    )
    docs = [l for l in pushed if "shingles#" in l]
    assert 1 <= len(docs) <= 2
    for l in docs:
        assert "In(doc_id" in l, l
    # corpus text is never read — and since the probe checkpoints the
    # batch's shingles eagerly (one text read at checkpoint time, shared
    # by the signature leg and the verify union), the returned plan
    # carries ZERO text scans at all
    assert len([l for l in pushed if "text#" in l]) == 0

    # lazy path (the default at this store size): candidate generation
    # stays in-plan — the band table scans exactly once and corpus text
    # still never appears
    lazy = scan_lines(
        _plan(query_neardup_index(spark, path, batch, threshold=0.5))
    )
    assert len([l for l in lazy if "band#" in l and "bucket#" in l]) == 1
    # batch text reads live in the shingle checkpoint, not this plan
    assert len([l for l in lazy if "text#" in l]) == 0


def test_approx_distinct_keeps_hll_out_of_distinct_rewrite(spark):
    """approx_distinct_parts: the HLL aggregate and the exact COUNT(DISTINCT)
    must run as separate one-row branches. Mixed into one agg, Catalyst's
    distinct-aggregate rewrite (Expand) groups by the distinct key and drags
    one ~16 KB HLL++ buffer (rsd=0.01) through every per-key group — ~32 GB
    of aggregation state at sf10's 2M part keys; the r11 sf10 sweep found
    the combined form still unfinished after 12 minutes with all 32 tasks
    pinned in HyperLogLogPlusPlusHelper.merge. Structural pin: no Expand
    node in the plan, and the HLL aggregate appears in a subtree with no
    Expand ancestor (separate branches also mean the union shape)."""
    plan = _plan(QUERIES["approx_distinct_parts"](spark, SF_SMALL))
    assert "Expand" not in plan, "distinct-rewrite Expand reappeared"
    assert "Union" in plan, "expected the union-of-branches shape"
    assert "approx_count_distinct" in plan


def test_digest_pass_single_exchange_no_join(spark):
    """Round-12 rewrite: the digest compare (mismatched_buckets) runs as ONE
    per-bucket aggregation over a side-tagged union — exactly one shuffle
    and no join node. The former two-groupBy + full-outer-join shape cost
    two exchanges plus a join stage of pure scheduling overhead."""
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    cmp = compare_tables(
        spark, orders, perturbed_orders(orders), pk=["o_orderkey"], table_name="t"
    )
    plan = _plan(cmp.mismatched_buckets())
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan
    assert "Union" in plan


def test_row_pairing_plans_have_no_join(spark):
    """The drill-downs pair rows the way the digest pairs buckets: one
    signed aggregation over a side-tagged union, no join node. The
    multiset diff shuffles once, on the row hash. The keyed diff shuffles
    the table-side rows once, on pk, and at most once more over the
    drift-sized survivors (their per-key grouping)."""
    from tidb_large_table_compare_spark.operators.compare import CompareOptions

    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    right = perturbed_orders(orders)
    multiset = _plan(
        compare_tables(spark, orders, right, None, table_name="t").diff_rows()
    )
    assert "Join" not in multiset, multiset
    assert multiset.count("Exchange") == 1, multiset
    assert "Exchange hashpartitioning(__row_hash" in multiset, multiset
    for nb in (8, 4096):  # skip scope, bitset scope
        cmp = compare_tables(
            spark, orders, right, ["o_orderkey"], CompareOptions(n_buckets=nb), "t"
        )
        keyed = cmp.diff_rows()
        keyed.unpersist()  # the bitset diff's cache would hide its plan
        plan = _plan(keyed)
        assert "Join" not in plan, plan
        assert plan.count("Exchange hashpartitioning(o_orderkey") == 1, plan
        assert 1 <= plan.count("Exchange") <= 2, plan
        cmp.close()


def test_changed_buckets_and_fold_single_exchange_no_join(spark, tmp_path):
    """Changed-bucket detection and the CDC fold are the same signed digest
    aggregation as the compare: stored digest rows and the current table
    (or change batches) in one union, one shuffle on ``__bucket``, and no
    join against the stored artifact."""
    from tidb_large_table_compare_spark.operators.compare import CompareOptions
    from tidb_large_table_compare_spark.operators.incremental import (
        _fold,
        changed_buckets,
        read_digests,
        write_digests,
    )

    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    opts = CompareOptions(n_buckets=64)
    path = str(tmp_path / "digests")
    write_digests(spark, orders, ["o_orderkey"], path, opts)
    stored, n_buckets = read_digests(spark, path)
    inserts = orders.filter(F.col("o_orderkey") % 11 == 0)
    deletes = orders.filter(F.col("o_orderkey") % 13 == 0)
    for df in (
        changed_buckets(spark, path, perturbed_orders(orders), ["o_orderkey"], opts),
        _fold(stored, n_buckets, ["o_orderkey"], inserts, deletes, opts),
    ):
        plan = _plan(df)
        assert plan.count("Exchange hashpartitioning(__bucket") == 1, plan
        assert plan.count("Exchange") == 1, plan
        assert "Join" not in plan, plan
