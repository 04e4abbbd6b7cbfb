"""Query registry — the driver-facing inventory of implemented operators.

Every entry pairs a Spark implementation (``QUERIES[name]``) with a DuckDB
oracle (``ORACLES[name]``); `__spark_entry__.py` re-exports both. Operators
come from SURVEY.md §2 (A = reference shell operators, B = delegated
comparison semantics, C/ext = BASELINE.json extensions).

Conventions that keep the two engines hash-identical:
- money math in tightly-sized DECIMAL (exact in both), cast to DOUBLE only in
  the final projection (identical decimal → identical double bits);
- every computed column aliased identically on both sides;
- deterministic tiebreakers on every window/top-k ordering;
- since round 5 no entry runs the oracle's SQL text on Spark: the analytics
  surface is DataFrame-native (plans/analytics.py), so every oracle check
  compares two independently built constructions.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tidb_large_table_compare_spark.operators.compare import (
    CompareOptions,
    compare_tables,
)
from tidb_large_table_compare_spark.operators.fixsql import fix_sql
from tidb_large_table_compare_spark.operators.compaction import compaction_plan
from tidb_large_table_compare_spark.operators.profile import profile_table
from tidb_large_table_compare_spark.operators.integrity import integrity_audit
from tidb_large_table_compare_spark.operators.schema_diff import schema_diff
from tidb_large_table_compare_spark.perturb import (
    PERTURBED_ORDERS_MULTI_SQL,
    PERTURBED_ORDERS_SQL,
    perturbed_orders,
    perturbed_orders_multi,
)
from tidb_large_table_compare_spark.functions.layout import morton_key, morton_key_sql
from tidb_large_table_compare_spark.functions.localframe import local_frame
from tidb_large_table_compare_spark.functions.materialize import materialize
from tidb_large_table_compare_spark.functions.partitioning import ensure_min_partitions
from tidb_large_table_compare_spark.operators.spans import (
    chunk_tokens,
    duplicated_spans,
)
from tidb_large_table_compare_spark.plans.discover import discover, stale_entries
from tidb_large_table_compare_spark.plans import analytics as _A
from tidb_large_table_compare_spark.plans.report import (
    render_report,
    render_summary_block,
    report_totals,
)
from tidb_large_table_compare_spark.sources.catalog import (
    NONCLUSTERED_TABLES,
    parquet_catalog,
)
from tidb_large_table_compare_spark.sources.tables import (
    TABLES,
    load_table,
    register_views,
)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def _register(name: str, fn: Callable[[SparkSession, str], DataFrame], sql: str | None):
    QUERIES[name] = fn
    if sql is not None:
        ORACLES[name] = sql


# Caches embedded in a RETURNED lazy plan (e.g. the shingle table feeding
# three legs of a near-dup join) cannot be unpersisted inside the builder —
# the caller has not executed the plan yet. Left bare, every rebuild of the
# same entry (bench warmup + measured loop, repeated driver checks) stacked
# another session-lifetime cache entry and tripped CacheManager's "already
# cached" warning. Tracking one handle per (entry, role) key and releasing
# the previous build's cache on rebuild bounds live cache at one copy per
# key with zero builder-API change.
_TRACKED_CACHES: dict[str, DataFrame] = {}


def _persist_tracked(key: str, df: DataFrame) -> DataFrame:
    prev = _TRACKED_CACHES.pop(key, None)
    if prev is not None:
        prev.unpersist()
    out = df.persist()
    _TRACKED_CACHES[key] = out
    return out


# Entries that materialize on-disk state (admission indexes, digest
# snapshots, report trees) used a fresh mkdtemp per invocation — with the
# bench's warmup + samples and repeated driver checks, the corpus-sized
# index copies accumulated on disk for the session's lifetime. One scratch
# dir per key, wiped on reuse, bounds that at one live copy per entry
# (the same discipline _persist_tracked applies to caches).
_SCRATCH_DIRS: dict[str, str] = {}


def _scratch_dir(key: str) -> str:
    import os
    import shutil
    import tempfile

    path = _SCRATCH_DIRS.get(key)
    if path is None:
        path = tempfile.mkdtemp(prefix=f"sg_{key}_")
        _SCRATCH_DIRS[key] = path
    else:
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path, exist_ok=True)
    return path


# ===========================================================================
# 1. Comparison engine (SURVEY.md §2.B)
# ===========================================================================

_ORDERS_DIFF_PRED = """
      m.o_custkey       IS DISTINCT FROM s.o_custkey OR
      m.o_orderstatus   IS DISTINCT FROM s.o_orderstatus OR
      m.o_totalprice    IS DISTINCT FROM s.o_totalprice OR
      m.o_orderdate     IS DISTINCT FROM s.o_orderdate OR
      m.o_orderpriority IS DISTINCT FROM s.o_orderpriority
"""

_CMP_SUMMARY_ORDERS_SQL = f"""
WITH slave AS ({PERTURBED_ORDERS_SQL}),
j AS (
  SELECT m.o_orderkey AS l_pk, s.o_orderkey AS r_pk,
         (m.o_orderkey IS NOT NULL AND s.o_orderkey IS NOT NULL AND
          ({_ORDERS_DIFF_PRED})) AS modified
  FROM orders m FULL OUTER JOIN slave s ON m.o_orderkey = s.o_orderkey
)
SELECT 'main.orders' AS "table",
       TRUE AS structure_ok,
       CAST(SUM(CASE WHEN r_pk IS NULL OR modified THEN 1 ELSE 0 END) AS BIGINT) AS upcount,
       CAST(SUM(CASE WHEN l_pk IS NULL OR modified THEN 1 ELSE 0 END) AS BIGINT) AS downcount,
       (SUM(CASE WHEN l_pk IS NULL OR r_pk IS NULL OR modified THEN 1 ELSE 0 END) = 0)
         AS equivalent
FROM j
"""


def _cmp(spark: SparkSession, sf_dir: str, **opts):
    orders = load_table(spark, sf_dir, "orders")
    return compare_tables(
        spark, orders, perturbed_orders(orders), pk=["o_orderkey"],
        options=CompareOptions(**opts), table_name="main.orders",
    )


_register("cmp_summary_orders",
          lambda spark, sf: _cmp(spark, sf).summary(),
          _CMP_SUMMARY_ORDERS_SQL)

# Same verdict must come out of the keyless multiset path: a modified row is
# one missing multiset member (old version) plus one extra (new version).
_register("cmp_summary_orders_multiset",
          lambda spark, sf: _cmp(spark, sf, force_multiset=True).summary(),
          _CMP_SUMMARY_ORDERS_SQL)


def _cmp_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Digest-snapshot incremental path: snapshot the verified master state,
    detect drifted buckets in one linear scan of the perturbed side, then
    row-level-compare ONLY those buckets. Must reach the full compare's
    verdict — the oracle is the same full-compare SQL."""
    from tidb_large_table_compare_spark.operators.incremental import (
        incremental_compare,
        write_digests,
    )

    orders = load_table(spark, sf_dir, "orders")
    opts = CompareOptions(n_buckets=64)
    path = _scratch_dir("digests") + "/orders"
    write_digests(spark, orders, ["o_orderkey"], path, opts)
    return incremental_compare(
        spark, orders, perturbed_orders(orders), ["o_orderkey"], path, opts,
        "main.orders",
    ).summary()


_register("cmp_summary_incremental", _cmp_incremental, _CMP_SUMMARY_ORDERS_SQL)


def _cmp_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-loop repair: compute the row diff, apply it natively to the
    drifted side (operators/reconcile.py), then re-verify — the summary
    must come back equivalent. The re-verify runs on the ACTUAL repaired
    frame but scoped to the first pass's mismatched buckets
    (reconcile.verify_repair — clean buckets are untouchable by
    construction, so the scoped summary IS the full-table one at
    drift-sized cost). The oracle rebuilds the same patch in SQL and
    recomputes the post-repair verdict over the WHOLE table, so the
    scoping soundness is itself oracle-checked, not asserted; the
    scoped-vs-full equivalence is additionally pinned for arbitrary
    perturbation plans by tests/test_property.py.

    n_buckets is pinned at 4096 so the driver's sf0.01 check exercises
    the SCOPED branch (361 diffs → ~8% of buckets bad, inside the
    fraction gate) while the sf0.1 bench perturbation (~70% bad) still
    takes the full-fallback branch — both paths stay driver-covered."""
    from tidb_large_table_compare_spark.operators.reconcile import (
        apply_fixes,
        verify_repair,
    )

    orders = load_table(spark, sf_dir, "orders")
    slave = perturbed_orders(orders)
    tc = compare_tables(
        spark, orders, slave, pk=["o_orderkey"],
        options=CompareOptions(n_buckets=4096), table_name="main.orders",
    )
    repaired = apply_fixes(orders, slave, ["o_orderkey"], tc.diff_rows())
    return verify_repair(tc, repaired)


_register(
    "cmp_reconcile_orders",
    _cmp_reconcile,
    f"""
WITH slave AS ({PERTURBED_ORDERS_SQL}),
diff AS (
  SELECT m.o_orderkey AS l_pk, s.o_orderkey AS r_pk,
         (m.o_orderkey IS NOT NULL AND s.o_orderkey IS NOT NULL AND
          ({_ORDERS_DIFF_PRED})) AS modified
  FROM orders m FULL OUTER JOIN slave s ON m.o_orderkey = s.o_orderkey
),
del AS (SELECT r_pk AS pk FROM diff WHERE l_pk IS NULL OR modified),
ins AS (SELECT l_pk AS pk FROM diff WHERE r_pk IS NULL OR modified),
patched AS (
  SELECT * FROM slave WHERE o_orderkey NOT IN (SELECT pk FROM del)
  UNION ALL
  SELECT * FROM orders WHERE o_orderkey IN (SELECT pk FROM ins)
),
j AS (
  SELECT m.o_orderkey AS l_pk, p.o_orderkey AS r_pk,
         (m.o_orderkey IS NOT NULL AND p.o_orderkey IS NOT NULL AND (
      m.o_custkey       IS DISTINCT FROM p.o_custkey OR
      m.o_orderstatus   IS DISTINCT FROM p.o_orderstatus OR
      m.o_totalprice    IS DISTINCT FROM p.o_totalprice OR
      m.o_orderdate     IS DISTINCT FROM p.o_orderdate OR
      m.o_orderpriority IS DISTINCT FROM p.o_orderpriority
         )) AS modified
  FROM orders m FULL OUTER JOIN patched p ON m.o_orderkey = p.o_orderkey
)
SELECT 'main.orders' AS "table",
       TRUE AS structure_ok,
       CAST(SUM(CASE WHEN r_pk IS NULL OR modified THEN 1 ELSE 0 END) AS BIGINT) AS upcount,
       CAST(SUM(CASE WHEN l_pk IS NULL OR modified THEN 1 ELSE 0 END) AS BIGINT) AS downcount,
       (SUM(CASE WHEN l_pk IS NULL OR r_pk IS NULL OR modified THEN 1 ELSE 0 END) = 0)
         AS equivalent
FROM j
""",
)

_register(
    "cmp_diff_rows_orders",
    lambda spark, sf: _cmp(spark, sf).diff_rows(),
    f"""
WITH slave AS ({PERTURBED_ORDERS_SQL})
SELECT COALESCE(m.o_orderkey, s.o_orderkey) AS o_orderkey,
       CASE WHEN s.o_orderkey IS NULL THEN 'missing_in_right'
            WHEN m.o_orderkey IS NULL THEN 'extra_in_right'
            ELSE 'modified' END AS diff_type
FROM orders m FULL OUTER JOIN slave s ON m.o_orderkey = s.o_orderkey
WHERE s.o_orderkey IS NULL OR m.o_orderkey IS NULL OR ({_ORDERS_DIFF_PRED})
""",
)


def _cmp_column_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column drift histogram over a slave drifted in THREE columns
    (price bump, status flip, priority nulled-out — perturb.py) — which
    columns drive the drift, counted only over 'modified' rows."""
    orders = load_table(spark, sf_dir, "orders")
    return compare_tables(
        spark, orders, perturbed_orders_multi(orders), pk=["o_orderkey"],
        table_name="main.orders",
    ).column_drift()


_CMP_COLUMN_DRIFT_SQL = f"""
WITH slave AS ({PERTURBED_ORDERS_MULTI_SQL}),
j AS (
  SELECT m.o_custkey AS lc, s.o_custkey AS rc,
         m.o_orderstatus AS ls, s.o_orderstatus AS rs,
         m.o_totalprice AS lp, s.o_totalprice AS rp,
         m.o_orderdate AS ld, s.o_orderdate AS rd,
         m.o_orderpriority AS lo, s.o_orderpriority AS ro
  FROM orders m JOIN slave s ON m.o_orderkey = s.o_orderkey
)
SELECT 'o_custkey' AS column_name,
       CAST(COALESCE(SUM(CASE WHEN lc IS DISTINCT FROM rc THEN 1 ELSE 0 END), 0) AS BIGINT)
         AS mismatch_rows FROM j
UNION ALL
SELECT 'o_orderdate',
       CAST(COALESCE(SUM(CASE WHEN ld IS DISTINCT FROM rd THEN 1 ELSE 0 END), 0) AS BIGINT) FROM j
UNION ALL
SELECT 'o_orderpriority',
       CAST(COALESCE(SUM(CASE WHEN lo IS DISTINCT FROM ro THEN 1 ELSE 0 END), 0) AS BIGINT) FROM j
UNION ALL
SELECT 'o_orderstatus',
       CAST(COALESCE(SUM(CASE WHEN ls IS DISTINCT FROM rs THEN 1 ELSE 0 END), 0) AS BIGINT) FROM j
UNION ALL
SELECT 'o_totalprice',
       CAST(COALESCE(SUM(CASE WHEN lp IS DISTINCT FROM rp THEN 1 ELSE 0 END), 0) AS BIGINT) FROM j
"""

# The inner-join oracle needs no bucket restriction: rows whose every column
# agrees contribute 0 to every count, so restricting to mismatched buckets
# (what the engine does, for scale) cannot change any sum.
_register("cmp_column_drift_orders", _cmp_column_drift, _CMP_COLUMN_DRIFT_SQL)


def _cmp_column_drift_ts_pk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change canary: column drift over a TIMESTAMP primary key.

    This entry drives ``column_drift`` end-to-end through the bitset
    restriction over a timestamp pk: a unique event-time pk synthesized
    from o_orderkey, bounded value drift on ~1/97 of the rows, and both
    sides read through the mismatched-bucket bitset, whose bucket ids
    hash the timestamp pk on each side — a wrong bucket assignment drops
    modified pairs and fails the oracle hash.
    """
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        # timestamp_seconds(bigint), NOT timestampadd(..., cast(k as int), ...):
        # replicated scale factors offset keys by 1e9 per replica
        # (tools/replicate_sf.py), which overflows the INT cast under
        # ANSI at sf1 — caught by the round-10 sf1 spot check.
        # 1577836800 = 2020-01-01T00:00:00Z.
        F.timestamp_seconds(F.lit(1577836800) + F.col("o_orderkey")).alias(
            "ts_pk"
        ),
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        "o_orderstatus",
    )
    left = base.drop("o_orderkey")
    right = base.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 97 == 0, F.col("o_totalprice") + 1
        ).otherwise(F.col("o_totalprice")),
    ).drop("o_orderkey")
    # n_buckets pinned HIGH relative to the ~1/97 drift so the bad-bucket
    # scope stays a bitset at every sf (with the default coarse sizing the
    # drift covers most buckets, restriction is skipped, and this canary
    # would silently stop exercising the bitset over a timestamp pk)
    return compare_tables(
        spark, left, right, pk=["ts_pk"],
        options=CompareOptions(n_buckets=512), table_name="main.ts_orders",
    ).column_drift()


_register(
    "cmp_column_drift_timestamp_pk",
    _cmp_column_drift_ts_pk,
    """
SELECT 'o_custkey' AS column_name, CAST(0 AS BIGINT) AS mismatch_rows
UNION ALL
SELECT 'o_orderstatus', CAST(0 AS BIGINT)
UNION ALL
SELECT 'o_totalprice',
       CAST(COUNT(*) AS BIGINT) FROM orders WHERE (o_orderkey % 97) = 0
""",
)


def _fk_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-schema referential-integrity audit, with the orders replica
    drifted: the rows the replica DELETEd (perturb.py) orphan their
    lineitems — the cross-table damage no per-table diff reports. The two
    clean relationships pin the zero path."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return integrity_audit(
        [
            (lineitem, ["l_orderkey"], perturbed_orders(orders),
             ["o_orderkey"], "lineitem->slave.orders"),
            (orders, ["o_custkey"], customer, ["c_custkey"],
             "orders->customer"),
            (customer, ["c_nationkey"], nation, ["n_nationkey"],
             "customer->nation"),
        ]
    )


_register(
    "fk_orphan_audit",
    _fk_orphan_audit,
    f"""
WITH slave AS ({PERTURBED_ORDERS_SQL})
SELECT 'lineitem->slave.orders' AS relationship,
       CAST(COUNT(*) AS BIGINT) AS child_rows,
       CAST(COALESCE(SUM(CASE WHEN c.l_orderkey IS NULL THEN 1 END), 0) AS BIGINT)
         AS null_fk_rows,
       CAST(COALESCE(SUM(CASE WHEN c.l_orderkey IS NOT NULL AND p.o_orderkey IS NULL
                              THEN 1 END), 0) AS BIGINT) AS orphan_rows
FROM lineitem c
LEFT JOIN (SELECT DISTINCT o_orderkey FROM slave) p ON c.l_orderkey = p.o_orderkey
UNION ALL
SELECT 'orders->customer',
       CAST(COUNT(*) AS BIGINT),
       CAST(COALESCE(SUM(CASE WHEN c.o_custkey IS NULL THEN 1 END), 0) AS BIGINT),
       CAST(COALESCE(SUM(CASE WHEN c.o_custkey IS NOT NULL AND p.c_custkey IS NULL
                              THEN 1 END), 0) AS BIGINT)
FROM orders c
LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) p ON c.o_custkey = p.c_custkey
UNION ALL
SELECT 'customer->nation',
       CAST(COUNT(*) AS BIGINT),
       CAST(COALESCE(SUM(CASE WHEN c.c_nationkey IS NULL THEN 1 END), 0) AS BIGINT),
       CAST(COALESCE(SUM(CASE WHEN c.c_nationkey IS NOT NULL AND p.n_nationkey IS NULL
                              THEN 1 END), 0) AS BIGINT)
FROM customer c
LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation) p ON c.c_nationkey = p.n_nationkey
""",
)


def _compaction_plan_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-fit compaction-bin planning over a deterministic synthetic
    inventory (one 'file' per order date, bytes from key arithmetic) — the
    cross-engine check of the planner's window algebra; `file_inventory`
    over real directories is covered by pytest."""
    orders = load_table(spark, sf_dir, "orders")
    inv = orders.groupBy("o_orderdate").agg(
        F.sum(F.col("o_orderkey") % 1000 + 1).cast("bigint").alias("bytes")
    ).select(
        F.concat(
            F.lit("orders/part-"),
            F.date_format("o_orderdate", "yyyy-MM-dd"),
            F.lit(".parquet"),
        ).alias("path"),
        "bytes",
    )
    return compaction_plan(inv, target_bytes=5000)


_register(
    "compaction_plan_bins",
    _compaction_plan_bins,
    """
WITH inv AS (
  SELECT 'orders/part-' || strftime(o_orderdate, '%Y-%m-%d') || '.parquet' AS path,
         CAST(SUM(o_orderkey % 1000 + 1) AS BIGINT) AS bytes
  FROM orders GROUP BY o_orderdate
),
elig AS (
  SELECT path, bytes,
         SUM(bytes) OVER (ORDER BY path
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - bytes AS start
  FROM inv WHERE bytes < 5000
)
SELECT path, bytes, 'orders' AS dir, 'keep' AS action,
       CAST(NULL AS BIGINT) AS bin
FROM inv WHERE bytes >= 5000
UNION ALL
SELECT path, bytes, 'orders', 'compact', CAST(FLOOR(start / 5000) AS BIGINT)
FROM elig
""",
)


def _compaction_replan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-iteration compaction planning — the maintenance-loop
    invariant `execute_compaction` relies on: merge each planned bin into
    one file, re-inventory, re-plan. The second plan must keep every
    merged file that reached the target and only re-queue the bounded
    straddle/tail remainder (window-bin algebra allows a bin to undershoot
    when the previous file straddles into its window), so repeated
    maintenance passes converge instead of churning the same files. Pure
    inventory algebra on both engines — the FS half of the loop is
    pytest-covered (`test_execute_compaction_*`)."""
    orders = load_table(spark, sf_dir, "orders")
    inv = orders.groupBy("o_orderdate").agg(
        F.sum(F.col("o_orderkey") % 1000 + 1).cast("bigint").alias("bytes")
    ).select(
        F.concat(
            F.lit("orders/part-"),
            F.date_format("o_orderdate", "yyyy-MM-dd"),
            F.lit(".parquet"),
        ).alias("path"),
        "bytes",
    )
    plan1 = compaction_plan(inv, target_bytes=5000)
    keeps = plan1.filter(F.col("action") == "keep").select("path", "bytes")
    merged = (
        plan1.filter(F.col("action") == "compact")
        .groupBy("dir", "bin")
        .agg(F.sum("bytes").cast("bigint").alias("bytes"))
        .select(
            F.concat(
                F.col("dir"),
                F.lit("/merged-"),
                F.lpad(F.col("bin").cast("string"), 5, "0"),
                F.lit(".parquet"),
            ).alias("path"),
            "bytes",
        )
    )
    return compaction_plan(keeps.unionByName(merged), target_bytes=5000)


_register(
    "compaction_replan_converges",
    _compaction_replan,
    """
WITH inv AS (
  SELECT 'orders/part-' || strftime(o_orderdate, '%Y-%m-%d') || '.parquet' AS path,
         CAST(SUM(o_orderkey % 1000 + 1) AS BIGINT) AS bytes
  FROM orders GROUP BY o_orderdate
),
elig AS (
  SELECT path, bytes,
         SUM(bytes) OVER (ORDER BY path
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - bytes AS start
  FROM inv WHERE bytes < 5000
),
merged AS (
  SELECT 'orders/merged-' || lpad(CAST(CAST(FLOOR(start / 5000) AS BIGINT) AS VARCHAR), 5, '0')
           || '.parquet' AS path,
         CAST(SUM(bytes) AS BIGINT) AS bytes
  FROM elig GROUP BY 1
),
inv2 AS (
  SELECT path, bytes FROM inv WHERE bytes >= 5000
  UNION ALL
  SELECT path, bytes FROM merged
),
elig2 AS (
  SELECT path, bytes,
         SUM(bytes) OVER (ORDER BY path
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - bytes AS start
  FROM inv2 WHERE bytes < 5000
)
SELECT path, bytes, 'orders' AS dir, 'keep' AS action,
       CAST(NULL AS BIGINT) AS bin
FROM inv2 WHERE bytes >= 5000
UNION ALL
SELECT path, bytes, 'orders', 'compact', CAST(FLOOR(start / 5000) AS BIGINT)
FROM elig2
""",
)


def _profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-scan column profile of orders (the ANALYZE analog and the cheap
    drift tripwire between full compares). Restricted to integer/string/
    date columns whose string renderings are engine-identical; double
    formatting differs between engines and is covered by pytest instead."""
    return profile_table(
        load_table(spark, sf_dir, "orders"),
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate",
         "o_orderpriority"],
    )


def _profile_col_sql(c: str) -> str:
    return f"""
SELECT '{c}' AS column_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(CASE WHEN {c} IS NULL THEN 1 END) AS BIGINT) AS n_nulls,
       CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
       CAST(MIN({c}) AS VARCHAR) AS min_value,
       CAST(MAX({c}) AS VARCHAR) AS max_value
FROM orders"""


_register(
    "profile_orders_columns",
    _profile_orders,
    "\nUNION ALL".join(
        _profile_col_sql(c)
        for c in ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate",
                  "o_orderpriority"]
    ),
)


def _profile_orders_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lake-scale profiling path graded against its own error contract:
    ``profile_table(approx=True)`` swaps COUNT(DISTINCT) (a per-column
    shuffle of every distinct value) for HLL++ sketches (fixed-size
    map-side state), which is the only affordable shape at 100 TB. HLL
    estimates are engine-specific so the estimate itself can't be
    oracle-hashed; what IS cross-checkable is the contract: the estimate
    must sit within 3× the declared rsd (5% default) of the exact count.
    The exact side here exists only to grade the sketch — production runs
    approx alone. A Spark HLL regression flips within_3rsd to false and
    the entry goes red."""
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate",
            "o_orderpriority"]
    orders = load_table(spark, sf_dir, "orders")
    exact = _profile_orders(spark, sf_dir)
    approx = profile_table(orders, cols, approx=True).select(
        "column_name", F.col("n_distinct").alias("approx_distinct")
    )
    return exact.join(approx, "column_name").select(
        "column_name", "n_rows", "n_nulls", "n_distinct",
        "min_value", "max_value",
        (
            F.abs(F.col("approx_distinct") - F.col("n_distinct"))
            <= F.lit(0.15) * F.col("n_distinct")
        ).alias("within_3rsd"),
    )


_register(
    "profile_orders_approx_bounds",
    _profile_orders_approx,
    "\nUNION ALL".join(
        _profile_col_sql(c).rstrip()[:-len("\nFROM orders")]
        + ",\n       TRUE AS within_3rsd\nFROM orders"
        for c in ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate",
                  "o_orderpriority"]
    ),
)


def _cmp_self(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return compare_tables(
        spark, orders, orders, pk=["o_orderkey"], table_name="main.orders"
    ).summary()


_register(
    "cmp_summary_self",
    _cmp_self,
    """
SELECT 'main.orders' AS "table", TRUE AS structure_ok,
       0::BIGINT AS upcount, 0::BIGINT AS downcount, TRUE AS equivalent
""",
)


def _cmp_schema_diff_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1 structure diff against a drifted schema (retype + drop + add)."""
    orders = load_table(spark, sf_dir, "orders")
    drifted = (
        orders.withColumn("o_custkey", F.col("o_custkey").cast("int"))
        .drop("o_orderpriority")
        .withColumn("o_note", F.lit("x"))
    )
    return schema_diff(spark, orders, drifted).select("column_name", "status")


# The expected classification is scale-independent — the oracle is the golden
# constant table (a legitimate oracle for metadata-shaped results).
_register(
    "cmp_schema_diff_drift",
    _cmp_schema_diff_drift,
    """
SELECT * FROM (VALUES
  ('o_orderkey', 'ok'), ('o_custkey', 'type_mismatch'), ('o_orderstatus', 'ok'),
  ('o_totalprice', 'ok'), ('o_orderdate', 'ok'),
  ('o_orderpriority', 'missing_in_right'), ('o_note', 'extra_in_right')
) AS t(column_name, status)
""",
)

_register(
    "cmp_fix_sql_orders",
    lambda spark, sf: fix_sql(_cmp(spark, sf)),
    f"""
WITH slave AS ({PERTURBED_ORDERS_SQL}),
diff AS (
  SELECT COALESCE(m.o_orderkey, s.o_orderkey) AS o_orderkey,
         CASE WHEN s.o_orderkey IS NULL THEN 'missing_in_right'
              WHEN m.o_orderkey IS NULL THEN 'extra_in_right'
              ELSE 'modified' END AS diff_type
  FROM orders m FULL OUTER JOIN slave s ON m.o_orderkey = s.o_orderkey
  WHERE s.o_orderkey IS NULL OR m.o_orderkey IS NULL OR ({_ORDERS_DIFF_PRED})
)
SELECT 'REPLACE INTO main.orders (o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority) VALUES ('
       || CAST(m.o_orderkey AS VARCHAR) || ', ' || CAST(m.o_custkey AS VARCHAR)
       || ', ''' || m.o_orderstatus || ''', ' || CAST(m.o_totalprice AS VARCHAR)
       || ', ''' || strftime(m.o_orderdate, '%Y-%m-%d %H:%M:%S.%f')
       || ''', ''' || m.o_orderpriority || ''');' AS fix_sql
FROM orders m JOIN diff d ON m.o_orderkey = d.o_orderkey
WHERE d.diff_type <> 'extra_in_right'
UNION ALL
SELECT 'DELETE FROM main.orders WHERE o_orderkey = ' || CAST(d.o_orderkey AS VARCHAR) || ';'
FROM diff d WHERE d.diff_type = 'extra_in_right'
""",
)


# ===========================================================================
# 2. Orchestration: discovery, stale cleanup, report (SURVEY.md §2.A)
# ===========================================================================

_ROW_SCALE = 100_000  # lifts sf-scale row counts into the reference's 1e9 regime

_CATALOG_CTE = "\nUNION ALL\n".join(
    f"SELECT 'main' AS table_schema, '{t}' AS table_name, "
    f"(SELECT COUNT(*) FROM {t}) * {_ROW_SCALE} AS table_rows, "
    f"'{'NONCLUSTERED' if t in NONCLUSTERED_TABLES else 'CLUSTERED'}' AS pk_type"
    for t in TABLES
)


def _catalog_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = parquet_catalog(spark, sf_dir, TABLES, row_scale=_ROW_SCALE)
    return discover(cat)


_register(
    "catalog_discovery",
    _catalog_discovery,
    f"""
WITH catalog AS ({_CATALOG_CTE})
SELECT table_schema, table_name FROM catalog
WHERE table_rows > 1000000000 AND pk_type = 'NONCLUSTERED'
""",
)


def _stale_worklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11: entries discovered by yesterday's looser run, gone today."""
    cat = parquet_catalog(spark, sf_dir, TABLES, row_scale=_ROW_SCALE)
    previous = discover(cat, row_threshold=50_000_000)
    current = discover(cat)
    return stale_entries(previous, current)


_register(
    "stale_worklist",
    _stale_worklist,
    f"""
WITH catalog AS ({_CATALOG_CTE}),
previous AS (SELECT table_schema, table_name FROM catalog
             WHERE table_rows > 50000000 AND pk_type = 'NONCLUSTERED'),
current_run AS (SELECT table_schema, table_name FROM catalog
                WHERE table_rows > 1000000000 AND pk_type = 'NONCLUSTERED')
SELECT * FROM previous EXCEPT SELECT * FROM current_run
""",
)


def _report_latest_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16-A23 over real compare outputs plus a stale prior run."""
    orders = load_table(spark, sf_dir, "orders")
    s_perturbed = (
        compare_tables(spark, orders, perturbed_orders(orders), ["o_orderkey"],
                       table_name="main.orders")
        .summary().withColumn("run_ts", F.lit("20240202_000000"))
    )
    s_self = (
        compare_tables(spark, orders, orders, ["o_orderkey"],
                       table_name="main.orders_self")
        .summary().withColumn("run_ts", F.lit("20240202_000000"))
    )
    old = local_frame(
        spark,
        [("20240101_000000", "main.orders", False, 9, 9)],
        "run_ts string, table string, structure_ok boolean, upcount bigint, downcount bigint",
    )
    summaries = (
        s_perturbed.select("run_ts", "table", "structure_ok", "upcount", "downcount")
        .unionByName(s_self.select("run_ts", "table", "structure_ok", "upcount", "downcount"))
        .unionByName(old)
    )
    return report_totals(summaries)


_register(
    "report_latest_totals",
    _report_latest_totals,
    f"""
WITH slave AS ({PERTURBED_ORDERS_SQL}),
j AS (
  SELECT m.o_orderkey AS l_pk, s.o_orderkey AS r_pk,
         (m.o_orderkey IS NOT NULL AND s.o_orderkey IS NOT NULL AND
          ({_ORDERS_DIFF_PRED})) AS modified
  FROM orders m FULL OUTER JOIN slave s ON m.o_orderkey = s.o_orderkey
),
cmp AS (
  SELECT CAST(SUM(CASE WHEN r_pk IS NULL OR modified THEN 1 ELSE 0 END) AS BIGINT) AS up,
         CAST(SUM(CASE WHEN l_pk IS NULL OR modified THEN 1 ELSE 0 END) AS BIGINT) AS down
  FROM j
)
SELECT 2::BIGINT AS tables_checked, 2::BIGINT AS structure_ok_cnt,
       0::BIGINT AS structure_diff_cnt,
       up AS total_upcount, down AS total_downcount,
       CAST(FLOOR(up / 1000000) AS BIGINT) || 'M 行' AS volume_label
FROM cmp
""",
)

# Rendered fixed-width report lines (A24/A25): the oracle rebuilds the exact
# strings in DuckDB with printf, so the rendered text itself is value-checked
# (reference format: step3_run_syncdiff.sh:190-234).
def _render_report_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    summaries = (
        compare_tables(spark, orders, perturbed_orders(orders), ["o_orderkey"],
                       table_name="`main`.`orders`")
        .summary().withColumn("run_ts", F.lit("20240202_000000"))
        .select("run_ts", "table", "structure_ok", "upcount", "downcount")
    )
    return render_report(summaries)


from tidb_large_table_compare_spark.plans.report import (  # noqa: E402
    REPORT_BORDER as _REPORT_BORDER,
    REPORT_HEADER as _REPORT_HEADER,
)

_register(
    "render_report_lines",
    _render_report_lines,
    f"""
WITH slave AS ({PERTURBED_ORDERS_SQL}),
j AS (
  SELECT m.o_orderkey AS l_pk, s.o_orderkey AS r_pk,
         (m.o_orderkey IS NOT NULL AND s.o_orderkey IS NOT NULL AND
          ({_ORDERS_DIFF_PRED})) AS modified
  FROM orders m FULL OUTER JOIN slave s ON m.o_orderkey = s.o_orderkey
),
s AS (
  SELECT CAST(SUM(CASE WHEN r_pk IS NULL OR modified THEN 1 ELSE 0 END) AS BIGINT)
           AS up,
         CAST(SUM(CASE WHEN l_pk IS NULL OR modified THEN 1 ELSE 0 END) AS BIGINT)
           AS down
  FROM j
)
SELECT '{_REPORT_BORDER}' AS line
UNION ALL SELECT '{_REPORT_HEADER}'
UNION ALL SELECT '{_REPORT_BORDER}'
UNION ALL
-- printf-byte padding: 一致 is 6 UTF-8 bytes, so %-9s pads with 3 spaces
-- (step3_run_syncdiff.sh:221); built by explicit concat because DuckDB's
-- rpad counts characters, not bytes
SELECT '| ' || rpad('`main`.`orders`', 17, ' ') || ' | ' || '一致   ' || ' | '
       || lpad(up::VARCHAR, 7, ' ') || ' | ' || lpad(down::VARCHAR, 9, ' ') || ' |'
FROM s
UNION ALL SELECT '{_REPORT_BORDER}'
""",
)


# 汇总统计 tail block (A21-A23 rendered; step3_run_syncdiff.sh:237-243): the
# oracle rebuilds the reference's exact strings so the label parity (一致/张/
# M 行) is value-checked, not just eyeballed.
def _render_summary_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    summaries = (
        compare_tables(spark, orders, perturbed_orders(orders), ["o_orderkey"],
                       table_name="`main`.`orders`")
        .summary().withColumn("run_ts", F.lit("20240202_000000"))
        .select("run_ts", "table", "structure_ok", "upcount", "downcount")
    )
    return render_summary_block(summaries)


_register(
    "render_summary_lines",
    _render_summary_lines,
    f"""
WITH slave AS ({PERTURBED_ORDERS_SQL}),
j AS (
  SELECT m.o_orderkey AS l_pk, s.o_orderkey AS r_pk,
         (m.o_orderkey IS NOT NULL AND s.o_orderkey IS NOT NULL AND
          ({_ORDERS_DIFF_PRED})) AS modified
  FROM orders m FULL OUTER JOIN slave s ON m.o_orderkey = s.o_orderkey
),
s AS (
  SELECT CAST(SUM(CASE WHEN r_pk IS NULL OR modified THEN 1 ELSE 0 END) AS BIGINT)
           AS up
  FROM j
)
SELECT '[INFO] 汇总统计: 共 1 张表' AS line
UNION ALL SELECT '  结构一致: 1 张'
UNION ALL SELECT '  总数据量: ' || CAST(FLOOR(up / 1000000) AS BIGINT) || 'M 行' FROM s
""",
)


# ===========================================================================
# 3. Analytics surface (SURVEY.md §2.C) — TPC-H-shaped over the test star
#    schema. Every analytics entry is a DataFrame-native formulation
#    (plans/analytics.py, converted round 5) checked against the original
#    ANSI string running in DuckDB — as of round 5 NO registry entry
#    executes the oracle's SQL text on Spark; every oracle compares two
#    independent constructions.
# ===========================================================================

_register(
    "q1_pricing_summary",
    _A.q1_pricing_summary,
    """
SELECT l_returnflag, l_linestatus,
       -- the VARCHAR hop on each decimal->double cast forces DuckDB's
       -- correctly-rounded string->double path; its direct cast
       -- double-rounds above 2^53 unscaled (sum_charge diverged by an
       -- ulp at sf1 with the exact decimal sums engine-identical —
       -- round-10 sweep decomposition)
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
                (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS VARCHAR) AS DOUBLE)
         AS sum_disc_price,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
                (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))) *
                (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2)))) AS VARCHAR) AS DOUBLE)
         AS sum_charge,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)

_register(
    "q3_shipping_priority",
    _A.q3_shipping_priority,
    """
SELECT l.l_orderkey AS o_orderkey, o.o_orderdate,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) *
                (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))) AS DOUBLE)
         AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l.l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate
ORDER BY revenue DESC, o_orderkey
LIMIT 10
""",
)

_register(
    "q5_revenue_by_nation",
    _A.q5_revenue_by_nation,
    """
SELECT n.n_name,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) *
                (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))) AS DOUBLE)
         AS revenue,
       COUNT(*) AS n_items
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
GROUP BY n.n_name
""",
)

_register(
    "top3_customers_per_nation",
    _A.top3_customers_per_nation,
    """
SELECT n_name, c_name, c_acctbal, rnk FROM (
  SELECT n.n_name, c.c_name, c.c_acctbal,
         ROW_NUMBER() OVER (PARTITION BY n.n_name
                            ORDER BY c.c_acctbal DESC, c.c_custkey) AS rnk
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
) t
WHERE rnk <= 3
""",
)

# events.ts is nanosecond-precision parquet; Spark reads it truncated to
# microseconds while DuckDB keeps nanos. Every event query goes through this
# normalizing CTE (CAST truncates DuckDB to µs; it is value-preserving on the
# Spark side) so both engines see identical timestamps.
_EVENTS_N = """
events_n AS (
  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props
  FROM events
)
"""

_register(
    "latest_event_per_user",
    _A.latest_event_per_user,
    f"""
WITH {_EVENTS_N}
SELECT user_id, event_id, event_type, ts FROM (
  SELECT user_id, event_id, event_type, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events_n
) t
WHERE rn = 1
""",
)

_register(
    "order_priority_counts",
    _A.order_priority_counts,
    """
SELECT o_orderpriority,
       COUNT(*) AS order_count,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS finished_count,
       CAST(SUM(CASE WHEN o_totalprice > 200000 THEN 1 ELSE 0 END) AS BIGINT) AS big_ticket_count
FROM orders
GROUP BY o_orderpriority
""",
)

_register(
    "sessionize_events",
    _A.sessionize_events,
    f"""
WITH {_EVENTS_N}
SELECT user_id, CAST(SUM(is_new) AS BIGINT) AS n_sessions, COUNT(*) AS n_events FROM (
  SELECT user_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS is_new
  FROM events_n
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
) t
GROUP BY user_id
""",
)

_register(
    "hourly_event_counts",
    _A.hourly_event_counts,
    f"""
WITH {_EVENTS_N}
SELECT date_trunc('hour', ts) AS hour_start, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM events_n
GROUP BY date_trunc('hour', ts), event_type
""",
)

# JSON extraction (events.props) — dialect differs, values must not.
_register(
    "json_props_by_type",
    lambda spark, sf: (
        register_views(spark, sf),
        spark.sql(
            """
            SELECT event_type,
                   SUM(CAST(get_json_object(props, '$.k') AS BIGINT)) AS sum_k,
                   COUNT(*) AS n_events
            FROM events GROUP BY event_type
            """
        ),
    )[1],
    """
SELECT event_type,
       CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
       COUNT(*) AS n_events
FROM events GROUP BY event_type
""",
)

_register(
    "string_ops_documents",
    _A.string_ops_documents,
    """
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(CAST(regexp_extract(source, '([0-9]+)', 1) AS BIGINT)) AS BIGINT)
         AS sum_src_num,
       CAST(SUM(length(text)) AS BIGINT) AS total_chars,
       CAST(SUM(CASE WHEN substring(text, 1, 4) = 'the ' THEN 1 ELSE 0 END) AS BIGINT)
         AS the_prefix_docs
FROM documents
GROUP BY lang
""",
)


# ===========================================================================
# 4. LLM-pipeline extensions (BASELINE.json): dedup, similarity, text
#    analysis, multimodal plumbing, streaming.
# ===========================================================================

from tidb_large_table_compare_spark.operators import textops  # noqa: E402
from tidb_large_table_compare_spark.operators.dedup import (  # noqa: E402
    exact_dedup_groups,
    hashed_word_ngrams,
    jaccard_verified_pairs,
    lsh_candidate_pairs_from_array,
    minhash_signature_oph_np,
    prefix_filtered_candidates,
    simhash,
    word_ngrams,
)
from tidb_large_table_compare_spark.operators.multimodal import (  # noqa: E402
    attach_binary_payload,
    binary_metadata,
    decode_media,
    encode_ppm,
)
from tidb_large_table_compare_spark.operators.similarity import (  # noqa: E402
    brute_force_topk,
    bucketed_neardup_pairs,
)
from tidb_large_table_compare_spark.streaming.events import (  # noqa: E402
    streaming_hourly_counts,
)

# Deterministic duplicate corpora: the test documents are all distinct, so
# dedup queries construct known duplicates inline (FIXTURES.md §8 pattern —
# the "slave side" built from the master so oracles stay SQL-expressible).
_EXACT_DUP_CTE = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 10 = 3
"""

_NEAR_DUP_CTE = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text || ' xtra xtra' AS text
  FROM documents WHERE doc_id % 10 = 3
"""


def _exact_dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") % 10 == 3).select(
        (F.col("doc_id") + 100_000).alias("doc_id"), "text"
    )
    return docs.unionByName(copies)


def _near_dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") % 10 == 3).select(
        (F.col("doc_id") + 100_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" xtra xtra")).alias("text"),
    )
    return docs.unionByName(copies)


_register(
    "dedup_exact_docs",
    lambda spark, sf: exact_dedup_groups(
        _exact_dup_corpus(spark, sf), ["text"], "doc_id"
    ),
    f"""
WITH corpus AS ({_EXACT_DUP_CTE})
SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
FROM corpus GROUP BY text HAVING COUNT(*) > 1
""",
)

_register(
    "dedup_corpus_stats",
    lambda spark, sf: _exact_dup_corpus(spark, sf).agg(
        F.count(F.lit(1)).alias("n_total"),
        F.countDistinct("text").alias("n_unique"),
    ),
    f"""
WITH corpus AS ({_EXACT_DUP_CTE})
SELECT COUNT(*) AS n_total, COUNT(DISTINCT text) AS n_unique FROM corpus
""",
)


def _minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash→LSH→exact-verify near-dup pipeline over 5-gram shingles.

    The LSH stage is a pruning strategy: with 128 hashes in 32 bands the
    probability of missing a Jaccard≥0.8 pair is < 1e-7, so the *verified*
    output equals the exact-Jaccard oracle while never materializing the
    quadratic pair space (the 100 TB property).
    """
    # single-row-group test files plan as ONE scan partition — spread them so
    # the Arrow OPH stage uses every core (no-op on real multi-split inputs)
    corpus = ensure_min_partitions(_near_dup_corpus(spark, sf_dir))
    # the shingle table feeds three consumers (signatures + both sides of the
    # verification join): persist it instead of re-shingling the corpus 3×
    # (at scale this is a checkpointed intermediate table, same idea).
    # Shingles are hashed to int64 at creation: every downstream stage works
    # on 8-byte longs, and Jaccard values are unchanged (collision odds 2^-64)
    shingle_sets = _persist_tracked(
        "neardup_minhash_lsh:shingles",
        corpus.select("doc_id", hashed_word_ngrams("text", 5).alias("shingles")),
    )
    sigs = minhash_signature_oph_np(shingle_sets, "doc_id")
    cands = lsh_candidate_pairs_from_array(sigs, "doc_id")
    return jaccard_verified_pairs(cands, shingle_sets, "doc_id", 0.8)


_NGRAM_JACCARD_ORACLE = """
WITH corpus AS ({corpus}),
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
grams AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(t) - {nm1} + 1),
                                      i -> array_to_string(t[i:i+{nm1}], ' '))) AS g
  FROM toks
),
eg AS (SELECT doc_id, unnest(g) AS gram FROM grams),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
  FROM eg a JOIN eg b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, len(g) AS n FROM grams)
SELECT c.id_a, c.id_b,
       CAST(c.shared AS DOUBLE) / (sa.n + sb.n - c.shared) AS jaccard
FROM cand c
JOIN sizes sa ON c.id_a = sa.doc_id
JOIN sizes sb ON c.id_b = sb.doc_id
WHERE CAST(c.shared AS DOUBLE) / (sa.n + sb.n - c.shared) >= {threshold}
"""

_register(
    "neardup_minhash_lsh",
    _minhash_neardup,
    _NGRAM_JACCARD_ORACLE.format(corpus=_NEAR_DUP_CTE, nm1=4, threshold=0.8),
)


def _minhash_neardup_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same pipeline with the hot-bucket guard ON (``max_bucket_size=10_000``,
    the curate-pipeline default, ``plans/curate.py``) — the 100 TB-critical
    code path: bucket sizes are counted and oversized buckets dropped BEFORE
    the k² self-join. At driver SF no LSH bucket approaches 10k members, so
    the capped output still equals the exact-Jaccard oracle — the driver
    verifies that enabling the guard does not corrupt results.
    """
    corpus = ensure_min_partitions(_near_dup_corpus(spark, sf_dir))
    shingle_sets = _persist_tracked(
        "neardup_minhash_lsh_capped:shingles",
        corpus.select("doc_id", hashed_word_ngrams("text", 5).alias("shingles")),
    )
    sigs = minhash_signature_oph_np(shingle_sets, "doc_id")
    cands = lsh_candidate_pairs_from_array(sigs, "doc_id", max_bucket_size=10_000)
    return jaccard_verified_pairs(cands, shingle_sets, "doc_id", 0.8)


_register(
    "neardup_minhash_lsh_capped",
    _minhash_neardup_capped,
    _NGRAM_JACCARD_ORACLE.format(corpus=_NEAR_DUP_CTE, nm1=4, threshold=0.8),
)


def _neardup_index_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup admission (`operators/dedup_index.py`): the
    MinHash/LSH state for the standing corpus (base doc ids) is built once
    and PERSISTED; the arriving batch (the +100k near-copies) is admitted
    by probing the index — batch-only signatures, band-bucket equi-join
    against the stored band table, exact-Jaccard verification against the
    stored shingle sets. Work ∝ batch × collisions; the corpus text is
    never re-read. The oracle recomputes the exact cross-pair Jaccard set,
    so the pruned probe must find exactly the true near-dup admissions."""
    from tidb_large_table_compare_spark.operators.dedup_index import (
        build_neardup_index,
        query_neardup_index,
    )

    corpus_all = _near_dup_corpus(spark, sf_dir)
    base = ensure_min_partitions(corpus_all.filter(F.col("doc_id") < 100_000))
    arrivals = corpus_all.filter(F.col("doc_id") >= 100_000)
    path = _scratch_dir("ndidx") + "/index"
    build_neardup_index(base, path)
    return query_neardup_index(spark, path, arrivals)


_register(
    "neardup_index_admission",
    _neardup_index_admission,
    f"""
WITH all_pairs AS (
  {_NGRAM_JACCARD_ORACLE.format(corpus=_NEAR_DUP_CTE, nm1=4, threshold=0.8)}
)
SELECT id_a, id_b, jaccard FROM all_pairs
WHERE id_a < 100000 AND id_b >= 100000
""",
)


def _neardup_index_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full admission-index lifecycle under one oracle: build on the
    standing corpus, APPEND an admitted day-1 batch, COMPACT (dedup rows,
    re-apply the hot-bucket cap, merge append debris — the store's
    small-file repair), then probe a day-2 batch. The probe must see both
    the original corpus AND the appended day-1 docs, and compaction must
    be invisible to results — the oracle is the exact cross-Jaccard
    between (base ∪ day1) and day2, so a lifecycle step that loses or
    duplicates index rows goes red. Day batches split the +100k
    near-copies by original-id parity of the tens digit (%20)."""
    from tidb_large_table_compare_spark.operators.dedup_index import (
        append_to_neardup_index,
        build_neardup_index,
        compact_neardup_index,
        query_neardup_index,
    )

    corpus_all = _near_dup_corpus(spark, sf_dir)
    base = ensure_min_partitions(corpus_all.filter(F.col("doc_id") < 100_000))
    day1 = corpus_all.filter(
        (F.col("doc_id") >= 100_000) & ((F.col("doc_id") - 100_000) % 20 == 3)
    )
    day2 = corpus_all.filter(
        (F.col("doc_id") >= 100_000) & ((F.col("doc_id") - 100_000) % 20 == 13)
    )
    path = _scratch_dir("ndidx_lc") + "/index"
    build_neardup_index(base, path)
    append_to_neardup_index(day1, path)
    compact_neardup_index(spark, path)
    pairs = query_neardup_index(spark, path, day2)
    # canonical (small, large) id order: a day1-indexed doc can carry a
    # LARGER id than the day2 probe doc it collides with, and the exact
    # all-pairs oracle only emits id_a < id_b
    return pairs.select(
        F.least("id_a", "id_b").alias("id_a"),
        F.greatest("id_a", "id_b").alias("id_b"),
        "jaccard",
    )


_register(
    "neardup_index_lifecycle",
    _neardup_index_lifecycle,
    f"""
WITH all_pairs AS (
  {_NGRAM_JACCARD_ORACLE.format(corpus=_NEAR_DUP_CTE, nm1=4, threshold=0.8)}
)
SELECT id_a, id_b, jaccard FROM all_pairs
WHERE ((id_a < 100000 OR (id_a - 100000) % 20 = 3)
       AND id_b >= 100000 AND (id_b - 100000) % 20 = 13)
   OR (id_a >= 100000 AND (id_a - 100000) % 20 = 13
       AND id_b >= 100000 AND (id_b - 100000) % 20 = 3)
""",
)


def _ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs n-gram Jaccard (no LSH) — candidates via prefix
    filtering (AllPairs/PPJoin), which is candidate-complete for J >= 0.6,
    so the verified output is byte-identical to a naive every-shared-
    shingle join while hot shingles stop pairing quadratically (the r11
    sf10 sweep measured the naive join's lone hot-gram straggler at ~40
    minutes; see prefix_filtered_candidates)."""
    corpus = _near_dup_corpus(spark, sf_dir)
    shingle_sets = _persist_tracked(
        "neardup_ngram_jaccard:shingles",
        corpus.select("doc_id", hashed_word_ngrams("text", 3).alias("shingles")),
    )
    cands = prefix_filtered_candidates(shingle_sets, "doc_id", 0.6)
    return jaccard_verified_pairs(cands, shingle_sets, "doc_id", 0.6)


_register(
    "neardup_ngram_jaccard",
    _ngram_jaccard_pairs,
    _NGRAM_JACCARD_ORACLE.format(corpus=_NEAR_DUP_CTE, nm1=2, threshold=0.6),
)


def _simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash with a cross-engine token hash: the top 60 bits of md5,
    identical in Spark (conv of the hex prefix) and DuckDB (unrolled
    hex-digit arithmetic), so the fingerprint value itself is oracle-
    checkable. simhash() keeps xxhash64 as its fast default."""
    corpus = _near_dup_corpus(spark, sf_dir)
    toks = corpus.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    md5_60 = F.conv(F.substring(F.md5(F.col("token")), 1, 15), 16, 10).cast("long")
    return simhash(toks, "doc_id", "token", hash_expr=md5_60)


# DuckDB replica of the md5-prefix hash: value of the first 15 hex digits.
_MD5_60_SQL = " + ".join(
    f"(instr('0123456789abcdef', substring(md5(token), {j + 1}, 1)) - 1)"
    f" * {16 ** (14 - j)}"
    for j in range(15)
)
_SIMHASH_BIT_SUMS = ",\n         ".join(
    f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
    for j in range(60)
)
_SIMHASH_FINGERPRINT = "\n         + ".join(
    f"CASE WHEN b{j} > 0 THEN {2 ** j} ELSE 0 END" for j in range(60)
)

_register(
    "simhash_docs",
    _simhash_docs,
    f"""
WITH corpus AS ({_NEAR_DUP_CTE}),
toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM corpus
),
hashed AS (
  SELECT doc_id, ({_MD5_60_SQL}) AS h FROM toks
),
bits AS (
  SELECT doc_id,
         {_SIMHASH_BIT_SUMS}
  FROM hashed GROUP BY doc_id
)
SELECT doc_id,
       CAST({_SIMHASH_FINGERPRINT} AS BIGINT) AS simhash
FROM bits
""",
)


def _simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs via band blocking: split the 60-bit
    fingerprint into 4×15-bit bands, bucket-join on (band, key) — the
    web-scale dedup blocking scheme — then verify candidates with the exact
    hamming distance (pigeonhole guarantees capture for ≤3 differing bits;
    above that, blocking is the documented recall/cost trade). All integer
    ops, so the pair set is engine-exact."""
    fps = _simhash_docs(spark, sf_dir)
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), 15 * b)
                .bitwiseAND(F.lit(32767))
                .alias("bkey"),
            )
            for b in range(4)
        ]
    )
    exploded = fps.select(
        "doc_id", "simhash", F.explode(bands).alias("bb")
    ).select(
        "doc_id", "simhash", F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey")
    )
    # materialize once before the self-join: both sides otherwise re-derive
    # the FULL fingerprint pass (text → token hash → bit sums) from source
    # — the same duplicated-lineage shape the sf10 profile measured in the
    # minhash candidate stage. Narrow table (id + two longs + band key);
    # default localCheckpoint because no unpersist hook exists after the
    # return — preemptible clusters flip the conf-gated seam to persist
    # (functions/materialize.py).
    exploded = materialize(exploded)
    a = exploded.select(
        F.col("doc_id").alias("id_a"), F.col("simhash").alias("fp_a"), "band", "bkey"
    )
    b = exploded.select(
        F.col("doc_id").alias("id_b"), F.col("simhash").alias("fp_b"), "band", "bkey"
    )
    cands = (
        a.join(b, ["band", "bkey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "fp_a", "fp_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        cands.select("id_a", "id_b", hamming.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= 12)
    )


_SIMHASH_FP_CTES = f"""
corpus AS ({_NEAR_DUP_CTE}),
toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM corpus
),
hashed AS (
  SELECT doc_id, ({_MD5_60_SQL}) AS h FROM toks
),
bits AS (
  SELECT doc_id,
         {_SIMHASH_BIT_SUMS}
  FROM hashed GROUP BY doc_id
),
fp AS (
  SELECT doc_id,
         CAST({_SIMHASH_FINGERPRINT} AS BIGINT) AS simhash
  FROM bits
)"""

_register(
    "neardup_simhash_pairs",
    _simhash_pairs,
    f"""
WITH {_SIMHASH_FP_CTES},
bands AS (
  SELECT doc_id, simhash, b.band,
         (simhash >> (15 * b.band)) & 32767 AS bkey
  FROM fp, LATERAL (SELECT unnest([0, 1, 2, 3]) AS band) b
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.simhash AS fp_a, b.simhash AS fp_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       CAST(bit_count(xor(fp_a, fp_b)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(fp_a, fp_b)) <= 12
""",
)


def _ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return brute_force_topk(emb, queries, k=5)


# CAST to DOUBLE before scaling: DuckDB would otherwise multiply in float32
_QUANT = "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"

_register(
    "ann_cosine_topk",
    _ann_topk,
    f"""
WITH q AS (SELECT vec_id AS query_id, {_QUANT} AS qv
           FROM embeddings WHERE vec_id % 100 = 0),
c AS (SELECT vec_id AS neighbor_id, {_QUANT} AS cv FROM embeddings),
scored AS (
  SELECT q.query_id, c.neighbor_id,
         CAST(list_sum(list_transform(list_zip(q.qv, c.cv), p -> p[1] * p[2])) AS DOUBLE)
         / (sqrt(CAST(list_sum(list_transform(q.qv, x -> x * x)) AS DOUBLE))
            * sqrt(CAST(list_sum(list_transform(c.cv, x -> x * x)) AS DOUBLE))) AS cosine
  FROM q, c WHERE q.query_id <> c.neighbor_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
) t
WHERE rank <= 5
""",
)


def _majority_vote(topk: DataFrame, emb: DataFrame) -> DataFrame:
    """(query_id, predicted_label, n_votes, true_label, correct) from any
    candidate stage emitting (query_id, neighbor_id, ...): join neighbor
    labels, count votes, break ties deterministically (most votes, then
    smallest label). The label lookup is an equi-join on vec_id — at 100 TB
    a plain co-located join against the labeled subset, never a second
    distance pass."""
    from pyspark.sql import window as W

    labeled = topk.join(
        emb.select(F.col("vec_id").alias("neighbor_id"), "label"), "neighbor_id"
    )
    votes = labeled.groupBy("query_id", "label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    w = W.Window.partitionBy("query_id").orderBy(F.desc("n_votes"), F.asc("label"))
    pred = votes.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
    truth = emb.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    return pred.join(truth, "query_id").select(
        "query_id",
        F.col("label").cast("long").alias("predicted_label"),
        F.col("n_votes").cast("long").alias("n_votes"),
        F.col("true_label").cast("long").alias("true_label"),
        (F.col("label") == F.col("true_label")).alias("correct"),
    )


def _knn_label_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN majority-vote label prediction over the embedding space — the
    classifier step of an embedding-based curation pipeline (label a corpus
    by nearest labeled neighbors, then filter/route on the predicted label).

    Exact twin of `ann_cosine_topk`'s candidate machinery: top-5 neighbors
    by quantized-integer cosine, then the deterministic majority vote.
    `knn_label_classify_ivf` is the probe-bounded scale path; this entry is
    its exact-recall reference. Output includes the query's own label so
    downstream can measure agreement.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return _majority_vote(brute_force_topk(emb, queries, k=5), emb)


_register(
    "knn_label_classify",
    _knn_label_classify,
    f"""
WITH q AS (SELECT vec_id AS query_id, {_QUANT} AS qv
           FROM embeddings WHERE vec_id % 100 = 0),
c AS (SELECT vec_id AS neighbor_id, label AS nlabel, {_QUANT} AS cv
      FROM embeddings),
scored AS (
  SELECT q.query_id, c.neighbor_id, c.nlabel,
         CAST(list_sum(list_transform(list_zip(q.qv, c.cv), p -> p[1] * p[2])) AS DOUBLE)
         / (sqrt(CAST(list_sum(list_transform(q.qv, x -> x * x)) AS DOUBLE))
            * sqrt(CAST(list_sum(list_transform(c.cv, x -> x * x)) AS DOUBLE))) AS cosine
  FROM q, c WHERE q.query_id <> c.neighbor_id
),
top5 AS (
  SELECT query_id, nlabel FROM (
    SELECT query_id, nlabel,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id) AS rank
    FROM scored
  ) t WHERE rank <= 5
),
votes AS (SELECT query_id, nlabel, COUNT(*) AS n_votes
          FROM top5 GROUP BY query_id, nlabel),
pred AS (
  SELECT query_id, nlabel, n_votes FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY n_votes DESC, nlabel) AS rk
    FROM votes
  ) v WHERE rk = 1
)
SELECT p.query_id,
       CAST(p.nlabel AS BIGINT) AS predicted_label,
       CAST(p.n_votes AS BIGINT) AS n_votes,
       CAST(e.label AS BIGINT) AS true_label,
       p.nlabel = e.label AS correct
FROM pred p JOIN embeddings e ON p.query_id = e.vec_id
""",
)


def _embedding_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    copies = emb.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 100_000).alias("vec_id"), "embedding", "label"
    )
    return bucketed_neardup_pairs(emb.unionByName(copies), threshold=0.99)


# Banded sign-LSH, mirrored from similarity.band_ids (4 bands × 16 bits =
# all 64 components): candidates agree on ALL bits of SOME band. The
# previous single 5-bit bucket made in-block pairing quadratic in the
# corpus (fixed 32 blocks — 2.4 s at sf1 → 97 s at sf10) AND missed any
# true pair differing in one of the first 5 signs; see the round-10
# PERFORMANCE.md rehearsal section. DuckDB's embedding[i] is 1-based and
# NULL past the end (missing components read as negative on both engines).
def _band_bucket_sql(b: int, bits: int = 16) -> str:
    return " + ".join(
        f"(CASE WHEN embedding[{b * bits + i}] >= 0 THEN {1 << (i - 1)} ELSE 0 END)"
        for i in range(1, bits + 1)
    )


_EMB_BANDS_SQL = "\n  UNION ALL\n".join(
    f"  SELECT id, lbl, {b} AS band, {_band_bucket_sql(b)} AS bval FROM p"
    for b in range(4)
)

_EMB_PAIRS_BODY = f"""
WITH corpus AS (
  SELECT vec_id, embedding, label FROM embeddings
  UNION ALL
  SELECT vec_id + 100000, embedding, label FROM embeddings WHERE vec_id % 50 = 0
),
p AS (SELECT vec_id AS id, label AS lbl, {_QUANT} AS qv, embedding
      FROM corpus),
bands AS (
{_EMB_BANDS_SQL}
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b
    ON a.lbl = b.lbl AND a.band = b.band AND a.bval = b.bval AND a.id < b.id
),
pairs AS (
  SELECT c.id_a, c.id_b,
         CAST(list_sum(list_transform(list_zip(pa.qv, pb.qv), x -> x[1] * x[2])) AS DOUBLE)
         / (sqrt(CAST(list_sum(list_transform(pa.qv, x -> x * x)) AS DOUBLE))
            * sqrt(CAST(list_sum(list_transform(pb.qv, x -> x * x)) AS DOUBLE))) AS cosine
  FROM cand c
  JOIN p pa ON pa.id = c.id_a
  JOIN p pb ON pb.id = c.id_b
)
SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= 0.99
"""

_register("embedding_neardup_pairs", _embedding_neardups, _EMB_PAIRS_BODY)


def _embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution in embedding space: the same iterative
    min-label propagation used for text near-dups, over the sign-LSH
    candidate pairs — (node, cluster_id) per clustered vector."""
    from tidb_large_table_compare_spark.operators.clustering import (
        connected_components,
    )

    pairs = _embedding_neardups(spark, sf_dir).select("id_a", "id_b").persist()
    # connected_components consumes pairs eagerly (driver union-find collect,
    # or checkpoint-backed rounds) — its result carries no lineage into the
    # pair cache, so the handle releases before the caller runs an action
    clusters = connected_components(pairs)
    pairs.unpersist()
    return clusters


_register(
    "embedding_dedup_clusters",
    _embedding_clusters,
    f"""
WITH RECURSIVE epairs AS (
  {_EMB_PAIRS_BODY}
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM epairs
  UNION
  SELECT id_b AS a, id_a AS b FROM epairs
),
reach(node, lbl) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, r.lbl FROM reach r JOIN edges e ON r.node = e.a
)
SELECT node, CAST(MIN(lbl) AS BIGINT) AS cluster_id FROM reach GROUP BY node
""",
)


# ---- text analysis ---------------------------------------------------------

_register(
    "doc_token_counts",
    lambda spark, sf: load_table(spark, sf, "documents").select(
        "doc_id", textops.token_count(F.col("text")).cast("bigint").alias("n_tokens")
    ),
    """
SELECT doc_id, CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT) AS n_tokens
FROM documents
""",
)


def _doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    feats = textops.quality_features(F.col("text"))
    return docs.select("doc_id", *[c.alias(n) for n, c in feats.items()])


_register(
    "doc_quality_scores",
    _doc_quality,
    """
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT) AS n_tokens,
       CAST(length(text) - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g')) AS DOUBLE)
         / length(text) AS punct_ratio,
       CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE)
         / length(text) AS space_ratio,
       CAST((length(text) - length(replace(text, 'the', ''))) / 3 AS BIGINT) AS stopword_hits
FROM documents
""",
)

_register(
    "doc_lang_guess",
    lambda spark, sf: load_table(spark, sf, "documents").select(
        "doc_id", textops.lang_guess(F.col("text")).alias("lang_guess")
    ),
    """
SELECT doc_id,
       CASE
         WHEN instr(text, ' the ') > 0 OR instr(text, ' and ') > 0 OR instr(text, ' of ') > 0 THEN 'en'
         WHEN instr(text, ' der ') > 0 OR instr(text, ' und ') > 0 OR instr(text, ' die ') > 0 THEN 'de'
         WHEN instr(text, ' le ') > 0 OR instr(text, ' et ') > 0 OR instr(text, ' les ') > 0 THEN 'fr'
         WHEN instr(text, ' el ') > 0 OR instr(text, ' y ') > 0 OR instr(text, ' los ') > 0 THEN 'es'
         WHEN instr(text, '的') > 0 OR instr(text, '是') > 0 OR instr(text, '了') > 0 THEN 'zh'
         ELSE 'und'
       END AS lang_guess
FROM documents
""",
)

_register(
    "doc_fingerprints",
    lambda spark, sf: load_table(spark, sf, "documents").select(
        "doc_id", textops.doc_fingerprint(F.col("text")).alias("fingerprint")
    ),
    f"""
SELECT doc_id,
       list_reduce(
         list_prepend(CAST({textops.FP_SEED} AS BIGINT),
           list_transform(string_split_regex(trim(text), ' +'),
                          t -> CAST(ascii(substring(t, 1, 1)) AS BIGINT))),
         (a, b) -> (a * 31 + b) % {textops.FP_MOD}) AS fingerprint
FROM documents
""",
)


# ---- multimodal plumbing ----------------------------------------------------

_register(
    "multimodal_binary_meta",
    lambda spark, sf: binary_metadata(
        attach_binary_payload(load_table(spark, sf, "documents"))
    ),
    """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       CAST(ascii(substring(text, 1, 1)) AS BIGINT) AS head_byte,
       'raw' AS media_format
FROM documents
""",
)


def _multimodal_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked exercise of the REAL image decoder (`operators/
    multimodal.py::decode_media`): deterministic PPM images are built from
    each document's leading text bytes (dimensions derived from doc_id),
    encoded with ``encode_ppm`` and decoded back through the Arrow-batched
    ``decode_media`` path. Because the raster IS the text bytes, the
    decoder's outputs — dimensions, channel count, per-channel means — are
    recomputable by the DuckDB oracle with string functions alone; pixel-
    level/thumbnail parity stays in the roundtrip property tests."""
    import numpy as np

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def to_ppm(batches):
        import pandas as pd

        for pdf in batches:
            ids, payloads = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                w = 1 + int(doc_id) % 13
                h = 1 + int(doc_id) % 7
                raw = text.encode("ascii")
                if len(raw) < w * h * 3:
                    continue  # mirrored by the oracle's length predicate
                arr = np.frombuffer(raw[: w * h * 3], np.uint8).reshape(h, w, 3)
                ids.append(doc_id)
                payloads.append(encode_ppm(arr))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    images = docs.mapInPandas(to_ppm, "doc_id bigint, payload binary")
    return decode_media(images, "ppm").select(
        "doc_id", "width", "height", "n_channels", "mean_r", "mean_g", "mean_b"
    )


_register(
    "multimodal_decode_stats",
    _multimodal_decode_stats,
    """
WITH dims AS (
  SELECT doc_id, text,
         CAST(1 + doc_id % 13 AS INTEGER) AS width,
         CAST(1 + doc_id % 7 AS INTEGER) AS height
  FROM documents
  WHERE length(text) >= (1 + doc_id % 13) * (1 + doc_id % 7) * 3
),
px AS (
  SELECT doc_id, width, height, text,
         unnest(range(0, CAST(width AS BIGINT) * height)) AS i
  FROM dims
)
SELECT doc_id, width, height, CAST(3 AS INTEGER) AS n_channels,
       AVG(ascii(substring(text, CAST(i * 3 + 1 AS BIGINT), 1))) AS mean_r,
       AVG(ascii(substring(text, CAST(i * 3 + 2 AS BIGINT), 1))) AS mean_g,
       AVG(ascii(substring(text, CAST(i * 3 + 3 AS BIGINT), 1))) AS mean_b
FROM px
GROUP BY doc_id, width, height
""",
)


# ---- streaming ---------------------------------------------------------------

_register(
    "streaming_hourly_counts",
    streaming_hourly_counts,
    f"""
WITH {_EVENTS_N}
SELECT date_trunc('hour', ts) AS hour_start, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM events_n
GROUP BY date_trunc('hour', ts), event_type
""",
)


# ===========================================================================
# 5. Coverage widening: composite-PK compare, set ops, rollup, scalar ops
# ===========================================================================

# Composite-PK coverage on a key that is unique BY CONSTRUCTION:
# (o_orderkey DIV 10, o_orderkey % 10) splits the unique orders key into two
# columns. The real lineitem (l_orderkey, l_linenumber) is NOT unique in this
# synthetic data (multiplicity up to 6), and keyed-join diff semantics over
# duplicate keys are ill-defined — that is exactly what the multiset path is
# for (SURVEY.md §7 hard parts; see test_multiset_fallback_dupkeys).

_SPLIT_ORDERS_SQL = """
    SELECT o_orderkey // 10 AS k1, o_orderkey % 10 AS k2, o_custkey,
           o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
    FROM orders
"""

_SPLIT_SLAVE_SQL = f"""
    SELECT o_orderkey // 10 AS k1, o_orderkey % 10 AS k2, o_custkey,
           o_orderstatus,
           CASE WHEN o_orderkey % 89 = 5 THEN o_totalprice + 1.0
                ELSE o_totalprice END AS o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders WHERE o_orderkey % 97 <> 3
    UNION ALL
    SELECT (o_orderkey + 10000000) // 10, (o_orderkey + 10000000) % 10,
           o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
    FROM orders WHERE o_orderkey % 400 = 7
"""

_SPLIT_DIFF_PRED = """
      m.o_custkey       IS DISTINCT FROM s.o_custkey OR
      m.o_orderstatus   IS DISTINCT FROM s.o_orderstatus OR
      m.o_totalprice    IS DISTINCT FROM s.o_totalprice OR
      m.o_orderdate     IS DISTINCT FROM s.o_orderdate OR
      m.o_orderpriority IS DISTINCT FROM s.o_orderpriority
"""


def _split_orders(df: DataFrame) -> DataFrame:
    return df.select(
        F.expr("o_orderkey DIV 10").alias("k1"),
        (F.col("o_orderkey") % 10).alias("k2"),
        "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
        "o_orderpriority",
    )


def _cmp_composite(spark: SparkSession, sf_dir: str):
    orders = load_table(spark, sf_dir, "orders")
    return compare_tables(
        spark,
        _split_orders(orders),
        _split_orders(perturbed_orders(orders)),
        pk=["k1", "k2"],
        table_name="main.orders_split",
    )


_register(
    "cmp_summary_composite_pk",
    lambda spark, sf: _cmp_composite(spark, sf).summary(),
    f"""
WITH master AS ({_SPLIT_ORDERS_SQL}),
slave AS ({_SPLIT_SLAVE_SQL}),
j AS (
  SELECT m.k1 AS l_pk, s.k1 AS r_pk,
         (m.k1 IS NOT NULL AND s.k1 IS NOT NULL AND
          ({_SPLIT_DIFF_PRED})) AS modified
  FROM master m FULL OUTER JOIN slave s ON m.k1 = s.k1 AND m.k2 = s.k2
)
SELECT 'main.orders_split' AS "table",
       TRUE AS structure_ok,
       CAST(SUM(CASE WHEN r_pk IS NULL OR modified THEN 1 ELSE 0 END) AS BIGINT) AS upcount,
       CAST(SUM(CASE WHEN l_pk IS NULL OR modified THEN 1 ELSE 0 END) AS BIGINT) AS downcount,
       (SUM(CASE WHEN l_pk IS NULL OR r_pk IS NULL OR modified THEN 1 ELSE 0 END) = 0)
         AS equivalent
FROM j
""",
)

_register(
    "cmp_diff_rows_composite_pk",
    lambda spark, sf: _cmp_composite(spark, sf).diff_rows(),
    f"""
WITH master AS ({_SPLIT_ORDERS_SQL}),
slave AS ({_SPLIT_SLAVE_SQL})
SELECT COALESCE(m.k1, s.k1) AS k1, COALESCE(m.k2, s.k2) AS k2,
       CASE WHEN s.k1 IS NULL THEN 'missing_in_right'
            WHEN m.k1 IS NULL THEN 'extra_in_right'
            ELSE 'modified' END AS diff_type
FROM master m FULL OUTER JOIN slave s ON m.k1 = s.k1 AND m.k2 = s.k2
WHERE s.k1 IS NULL OR m.k1 IS NULL OR ({_SPLIT_DIFF_PRED})
""",
)

_register(
    "rollup_quantity_by_flag_status",
    _A.rollup_quantity_by_flag_status,
    """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
""",
)

_register(
    "customers_with_both_statuses",
    _A.customers_with_both_statuses,
    """
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
""",
)

_register(
    "customers_never_finished",
    _A.customers_never_finished,
    """
SELECT o_custkey FROM orders
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
""",
)


def _approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL) checked against the exact count.

    The approximate value is engine-specific, so the oracle-checkable
    projection is the exact count plus a boolean relative-error bound:
    HLL++ is deterministic for fixed data, so `within_2pct` is a stable
    value, and the oracle asserts it is TRUE against DuckDB's exact
    COUNT(DISTINCT).

    The two aggregates run as SEPARATE one-row branches combined by
    union + re-aggregate (the ``sketch_daily_users_merged`` pattern).
    Mixing them in one ``agg`` looks natural but is a scale trap: the
    distinct-aggregate rewrite (Expand) then groups by the distinct key
    and carries one HLL++ buffer PER DISTINCT KEY through the merge path
    — at rsd=0.01 that is ~16 KB × n_distinct of aggregation state
    (~32 GB and per-group register-array merges at sf10's 2M part keys;
    the r11 full-registry sf10 sweep found the combined form still
    running after 12 minutes, all 32 tasks pinned in
    HyperLogLogPlusPlusHelper.merge). Separated, the HLL branch keeps
    one buffer per partition and the distinct branch is a plain
    two-phase distinct — both linear, 24M rows in ~4 s."""
    li = load_table(spark, sf_dir, "lineitem")
    approx = li.agg(
        F.approx_count_distinct("l_partkey", 0.01).alias("v")
    ).select(F.lit("approx").alias("metric"), F.col("v").cast("double").alias("v"))
    exact = li.agg(F.countDistinct("l_partkey").alias("v")).select(
        F.lit("exact").alias("metric"), F.col("v").cast("double").alias("v")
    )
    both = approx.unionByName(exact).agg(
        F.max(F.when(F.col("metric") == "exact", F.col("v"))).alias("exact_d"),
        F.max(F.when(F.col("metric") == "approx", F.col("v"))).alias("approx_d"),
    )
    rel_err = F.abs(F.col("approx_d") - F.col("exact_d")) / F.col("exact_d")
    return both.select(
        F.col("exact_d").cast("long").alias("exact_parts"),
        (rel_err <= F.lit(0.02)).alias("within_2pct"),
    )


_register(
    "approx_distinct_parts",
    _approx_distinct,
    """
SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
       TRUE AS within_2pct
FROM lineitem
""",
)

# A7 scalar parity: base64 round-trip over real text. Spark's base64 is
# MIME-chunked (CRLF every 76 chars) — normalize before comparing with
# DuckDB's unchunked encoding.
_register(
    "base64_roundtrip_docs",
    lambda spark, sf: (
        register_views(spark, sf),
        spark.sql(
            """
            SELECT doc_id,
                   replace(replace(base64(CAST(text AS BINARY)), '\r', ''), '\n', '')
                     AS b64,
                   (CAST(unbase64(base64(CAST(text AS BINARY))) AS STRING) = text)
                     AS roundtrip_ok
            FROM documents
            """
        ),
    )[1],
    """
SELECT doc_id, base64(encode(text)) AS b64,
       (decode(from_base64(base64(encode(text)))) = text) AS roundtrip_ok
FROM documents
""",
)

# A15/A26 scalar parity: the reference's YYYYMMDD_HHMMSS run-timestamp format.
_register(
    "event_ts_labels",
    lambda spark, sf: (
        register_views(spark, sf),
        spark.sql(
            """
            SELECT event_id,
                   date_format(CAST(ts AS TIMESTAMP), 'yyyyMMdd_HHmmss') AS ts_label,
                   concat_ws('\t', CAST(user_id AS STRING), event_type) AS tsv_line
            FROM events
            WHERE event_id % 20 = 0
            """
        ),
    )[1],
    """
SELECT event_id,
       strftime(CAST(ts AS TIMESTAMP), '%Y%m%d_%H%M%S') AS ts_label,
       CAST(user_id AS VARCHAR) || chr(9) || event_type AS tsv_line
FROM events
WHERE event_id % 20 = 0
""",
)


# ===========================================================================
# 6. Remaining analytics coverage: EXISTS, frames, grouping sets, skew
# ===========================================================================

from tidb_large_table_compare_spark.operators.skew import salted_count_by_key  # noqa: E402

_register(
    "q6_forecast_revenue",
    _A.q6_forecast_revenue,
    """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
             CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.02 AND 0.09
  AND l_quantity < 24
""",
)

_register(
    "q4_order_priority_exists",
    _A.q4_order_priority_exists,
    """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
  )
GROUP BY o_orderpriority
""",
)

_register(
    "running_revenue_per_customer",
    _A.running_revenue_per_customer,
    """
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
              OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS running_total,
       CAST(LAG(o_totalprice) OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey) AS DOUBLE)
         AS prev_price
FROM orders
WHERE o_custkey % 10 = 1
""",
)

_register(
    "grouping_sets_order_counts",
    _A.grouping_sets_order_counts,
    """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
""",
)

# CUBE completes the §2.C multi-dimensional aggregation row (rollup and
# grouping sets above); GROUPING() flags distinguish subtotal NULLs from
# data NULLs in both engines.
_register(
    "cube_order_price_stats",
    _A.cube_order_price_stats,
    """
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
       CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
)

_register(
    "salted_lineitem_counts",
    lambda spark, sf: salted_count_by_key(
        load_table(spark, sf, "lineitem").select("l_returnflag", "l_linestatus"),
        ["l_returnflag", "l_linestatus"],
    ),
    """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n
FROM lineitem GROUP BY l_returnflag, l_linestatus
""",
)


# Custom stateful streaming (applyInPandasWithState): per-user running
# totals in exact integer cents — state result equals the batch aggregate,
# so even the stateful path gets a value oracle.
from tidb_large_table_compare_spark.streaming.events import (  # noqa: E402
    streaming_user_totals,
)

_register(
    "streaming_user_totals_stateful",
    streaming_user_totals,
    """
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM events
GROUP BY user_id
""",
)


# ===========================================================================
# 7. As-of join + pivot
# ===========================================================================

from tidb_large_table_compare_spark.operators.asof import asof_join  # noqa: E402


def _asof_purchase_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each purchase, the latest signup at-or-before it by the same user.

    Spark composes the as-of join (union + carry-forward window); DuckDB's
    native ASOF JOIN is the oracle — two entirely different formulations that
    must agree row-for-row.
    """
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", F.col("event_id").alias("signup_id")
    )
    joined = asof_join(
        purchases, signups, on="ts", by=["user_id"], right_cols=["signup_id"]
    )
    return joined.select(
        "user_id", "purchase_id", F.col("signup_id_asof").alias("signup_id")
    )


_register(
    "asof_purchase_last_signup",
    _asof_purchase_signup,
    """
WITH purchases AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id AS purchase_id
  FROM events WHERE event_type = 'purchase'
),
signups AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id AS signup_id
  FROM events WHERE event_type = 'signup'
)
SELECT p.user_id, p.purchase_id, s.signup_id
FROM purchases p
ASOF LEFT JOIN signups s ON p.user_id = s.user_id AND p.ts >= s.ts
""",
)


def _pivot_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .pivot("source", ["src0", "src1", "src2", "src3"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["src0", "src1", "src2", "src3"])
    )


_register(
    "pivot_docs_by_source",
    _pivot_docs,
    """
SELECT lang,
       CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS src0,
       CAST(SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS src1,
       CAST(SUM(CASE WHEN source = 'src2' THEN 1 ELSE 0 END) AS BIGINT) AS src2,
       CAST(SUM(CASE WHEN source = 'src3' THEN 1 ELSE 0 END) AS BIGINT) AS src3
FROM documents
GROUP BY lang
""",
)


# ===========================================================================
# 8. Dedup clustering, parser round-trip, compare variants, q7-style join
# ===========================================================================

from tidb_large_table_compare_spark.operators.clustering import (  # noqa: E402
    connected_components,
)


def _dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over exact-Jaccard near-dup pairs: iterative
    Spark label propagation vs a recursive-CTE oracle."""
    pairs = QUERIES["neardup_ngram_jaccard"](spark, sf_dir).select("id_a", "id_b")
    cached = pairs.persist()
    # eager consumer (see _embedding_clusters): release once resolved
    clusters = connected_components(cached)
    cached.unpersist()
    return clusters


_register("dedup_cluster_assignments", _dedup_clusters, None)

# Recursive min-label reachability over the same pair set the Spark side
# clusters iteratively — a recursive CTE is the SQL-native fixpoint.
ORACLES["dedup_cluster_assignments"] = f"""
WITH RECURSIVE pairs AS (
  {_NGRAM_JACCARD_ORACLE.format(corpus=_NEAR_DUP_CTE, nm1=2, threshold=0.6)}
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
),
reach(node, lbl) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, r.lbl FROM reach r JOIN edges e ON r.node = e.a
)
SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node
"""


def _parsed_report_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end text-report path (A14-A20): run two compares, render their
    summaries to summary.txt files on disk (reference output layout
    '{schema}_{table}_{ts}/summary.txt'), then parse them back with the
    DataFrame-native parser. Output = the parsed summaries; oracle = the
    compare results computed directly in SQL."""
    from pathlib import Path

    from tidb_large_table_compare_spark.plans.report import EQUIVALENT_MARKER
    from tidb_large_table_compare_spark.sources.reports import parse_summaries

    orders = load_table(spark, sf_dir, "orders")
    rows = []
    for table, right in [
        ("orders", perturbed_orders(orders)),
        ("orders_self", orders),
    ]:
        r = compare_tables(
            spark, orders, right, ["o_orderkey"], table_name=f"`main`.`{table}`"
        ).summary().collect()[0]
        rows.append((table, r))

    out_dir = Path(_scratch_dir("reports"))
    for table, r in rows:
        d = out_dir / f"main_{table}_20240303_000000"
        d.mkdir(parents=True, exist_ok=True)
        lines = [
            "mysql: [Warning] Using a password on the command line.",  # A4 noise
            "+---+", "| TABLE | UPCOUNT | DOWNCOUNT |", "+---+",
            f"| `main`.`{table}` | {r.upcount} | {r.downcount} |",
            "+---+",
        ]
        if r.equivalent:
            lines.append(EQUIVALENT_MARKER)
        (d / "summary.txt").write_text("\n".join(lines) + "\n")
    return parse_summaries(spark, f"{out_dir}/*/summary.txt")


_register(
    "parsed_report_roundtrip",
    _parsed_report_roundtrip,
    f"""
WITH slave AS ({PERTURBED_ORDERS_SQL}),
j AS (
  SELECT m.o_orderkey AS l_pk, s.o_orderkey AS r_pk,
         (m.o_orderkey IS NOT NULL AND s.o_orderkey IS NOT NULL AND
          ({_ORDERS_DIFF_PRED})) AS modified
  FROM orders m FULL OUTER JOIN slave s ON m.o_orderkey = s.o_orderkey
)
SELECT '20240303_000000' AS run_ts, '`main`.`orders`' AS "table",
       FALSE AS structure_ok,
       CAST(SUM(CASE WHEN r_pk IS NULL OR modified THEN 1 ELSE 0 END) AS BIGINT)
         AS upcount,
       CAST(SUM(CASE WHEN l_pk IS NULL OR modified THEN 1 ELSE 0 END) AS BIGINT)
         AS downcount
FROM j
UNION ALL
SELECT '20240303_000000', '`main`.`orders_self`', TRUE,
       CAST(0 AS BIGINT), CAST(0 AS BIGINT)
""",
)


def _cmp_range_scoped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4: the user-editable range predicate scopes the comparison."""
    return _cmp(spark, sf_dir, range_sql="o_orderkey % 2 = 0").summary()


_register(
    "cmp_summary_orders_ranged",
    _cmp_range_scoped,
    f"""
WITH master AS (SELECT * FROM orders WHERE o_orderkey % 2 = 0),
slave_all AS ({PERTURBED_ORDERS_SQL}),
slave AS (SELECT * FROM slave_all WHERE o_orderkey % 2 = 0),
j AS (
  SELECT m.o_orderkey AS l_pk, s.o_orderkey AS r_pk,
         (m.o_orderkey IS NOT NULL AND s.o_orderkey IS NOT NULL AND
          ({_ORDERS_DIFF_PRED})) AS modified
  FROM master m FULL OUTER JOIN slave s ON m.o_orderkey = s.o_orderkey
)
SELECT 'main.orders' AS "table",
       TRUE AS structure_ok,
       CAST(SUM(CASE WHEN r_pk IS NULL OR modified THEN 1 ELSE 0 END) AS BIGINT) AS upcount,
       CAST(SUM(CASE WHEN l_pk IS NULL OR modified THEN 1 ELSE 0 END) AS BIGINT) AS downcount,
       (SUM(CASE WHEN l_pk IS NULL OR r_pk IS NULL OR modified THEN 1 ELSE 0 END) = 0)
         AS equivalent
FROM j
""",
)


def _cmp_struct_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """check-struct-only = true short-circuits the data compare (B1)."""
    orders = load_table(spark, sf_dir, "orders")
    drifted = orders.drop("o_orderpriority")
    return compare_tables(
        spark, orders, drifted, ["o_orderkey"],
        CompareOptions(check_struct_only=True), "main.orders",
    ).summary()


_register(
    "cmp_struct_only_drift",
    _cmp_struct_only,
    """
SELECT 'main.orders' AS "table", FALSE AS structure_ok,
       0::BIGINT AS upcount, 0::BIGINT AS downcount, FALSE AS equivalent
""",
)

_register(
    "yearly_volume_by_nation",
    _A.yearly_volume_by_nation,
    """
SELECT n.n_name, EXTRACT(YEAR FROM o.o_orderdate) AS order_year,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS volume
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name, EXTRACT(YEAR FROM o.o_orderdate)
""",
)


# ===========================================================================
# 9. Wider TPC-H-shaped coverage (correlated subqueries, anti-join EXISTS,
#    conditional ratios, HAVING) — DataFrame-native (plans/analytics.py),
#    oracles keep the original ANSI strings.
# ===========================================================================

_register(
    "q2_cheapest_part_per_brand",
    _A.q2_cheapest_part_per_brand,
    """
SELECT p1.p_brand, p1.p_partkey, p1.p_retailprice
FROM part p1
WHERE p1.p_retailprice = (
  SELECT MIN(p2.p_retailprice) FROM part p2 WHERE p2.p_brand = p1.p_brand
)
""",
)

_register(
    "q10_top_return_customers",
    _A.q10_top_return_customers,
    """
SELECT c.c_custkey, c.c_name,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) *
                (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))) AS DOUBLE)
         AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY c.c_custkey, c.c_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)

_register(
    "q12_priority_line_counts",
    _A.q12_priority_line_counts,
    """
SELECT l.l_linestatus,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT)
         AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT)
         AS low_line_count
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l.l_linestatus
""",
)

_register(
    "q14_promo_revenue_share",
    _A.q14_promo_revenue_share,
    """
SELECT CAST(100.0 * SUM(CASE WHEN p.p_type = 'PROMO'
                             THEN CAST(l.l_extendedprice AS DECIMAL(12,2)) *
                                  (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))
                             ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
       / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) *
                  (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))) AS DOUBLE)
         AS promo_share_pct,
       COUNT(*) AS n_items
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
""",
)

_register(
    "q18_large_quantity_orders",
    _A.q18_large_quantity_orders,
    """
SELECT c.c_custkey, o.o_orderkey,
       CAST(SUM(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY c.c_custkey, o.o_orderkey
HAVING SUM(CAST(l.l_quantity AS DECIMAL(12,2))) > 150
""",
)

_register(
    "q22_idle_rich_customers",
    _A.q22_idle_rich_customers,
    """
SELECT c.c_nationkey, COUNT(*) AS numcust,
       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
FROM customer c
WHERE c.c_acctbal > (
    SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
    FROM customer c2 WHERE c2.c_acctbal > 0.0
  )
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY c.c_nationkey
""",
)


# IVF-style ANN: deterministic coarse quantizer + probed-cell exact ranking.
from tidb_large_table_compare_spark.operators.similarity import ivf_topk  # noqa: E402

# Shared oracle CTEs up through per-query ranked candidates; consumed by
# the top-k entries (modulo-sampled and k-means-trained coarse quantizers),
# the IVF-based kNN classifier, and the persisted-index lifecycle entry
# below. ``cents_sql`` supplies the CTE chain ending in
# cents(cent_id, cent_v) — the coarse quantizer; ``query_where`` selects
# the query set out of the corpus (the lifecycle entry probes a FRESH set
# disjoint from the inline entries' ``id % 100 = 0``).
def _ivf_ranked_ctes(cents_sql: str, query_where: str = "id % 100 = 0") -> str:
    return f"""
WITH prepped AS (SELECT vec_id AS id, {_QUANT} AS qv FROM embeddings),
{cents_sql},
cell_scores AS (
  SELECT p.id, p.qv, c.cent_id,
         CAST(list_sum(list_transform(list_zip(p.qv, c.cent_v), x -> x[1] * x[2])) AS DOUBLE)
         / (sqrt(CAST(list_sum(list_transform(p.qv, x -> x * x)) AS DOUBLE))
            * sqrt(CAST(list_sum(list_transform(c.cent_v, x -> x * x)) AS DOUBLE))) AS csim
  FROM prepped p, cents c
),
assigned AS (
  SELECT id, qv, cent_id AS cell FROM (
    SELECT id, qv, cent_id,
           ROW_NUMBER() OVER (PARTITION BY id ORDER BY csim DESC, cent_id) AS rn
    FROM cell_scores
  ) t WHERE rn = 1
),
probes AS (
  SELECT id AS query_id, qv AS query_v, cent_id AS cell FROM (
    SELECT id, qv, cent_id,
           ROW_NUMBER() OVER (PARTITION BY id ORDER BY csim DESC, cent_id) AS rn
    FROM cell_scores WHERE {query_where}
  ) t WHERE rn <= 3
),
ranked AS (
  SELECT p.query_id, a.id AS neighbor_id,
         CAST(list_sum(list_transform(list_zip(p.query_v, a.qv), x -> x[1] * x[2])) AS DOUBLE)
         / (sqrt(CAST(list_sum(list_transform(p.query_v, x -> x * x)) AS DOUBLE))
            * sqrt(CAST(list_sum(list_transform(a.qv, x -> x * x)) AS DOUBLE))) AS cosine
  FROM probes p JOIN assigned a ON p.cell = a.cell
  WHERE a.id <> p.query_id
)"""


# The sampled quantizer is BOUNDED: the 1024 smallest qualifying ids, the
# same deterministic cap as ivf_topk(max_cells=1024)/_train — an uncapped
# modulo sample grows cells ∝ corpus, which the sf10 rehearsal measured as
# an 80k-cell quadratic assignment (17–265 s vs ~1 s). Not binding at the
# driver SFs (sf0.01: 80 cells, sf0.1: 800); binding at sf≥1 on BOTH
# engines identically.
_IVF_CENT_CAP = 1024
_IVF_RANKED_CTES = _ivf_ranked_ctes(
    "cents AS (SELECT id AS cent_id, qv AS cent_v FROM prepped "
    f"WHERE id % 25 = 0 ORDER BY id LIMIT {_IVF_CENT_CAP})"
)

_register(
    "ann_ivf_topk",
    lambda spark, sf: ivf_topk(load_table(spark, sf, "embeddings")),
    f"""
{_IVF_RANKED_CTES}
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM ranked
) t WHERE rank <= 5
""",
)


def _ann_ivf_index_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN **serving** shape end-to-end under one oracle: PERSIST the
    IVF structure (`build_ivf_index` — coarse quantizer + per-vector cell
    assignments on disk, the build-once/probe-many path PERFORMANCE.md
    names as the 100 TB answer to the inline entries' queries-∝-N term),
    then probe it with a FRESH query set (``vec_id % 100 == 50`` —
    disjoint from the inline entries' ``% 100 == 0``, so a probe that
    accidentally reuses inline state goes red). The oracle is the same
    unrolled quantize→assign→probe→rank CTE as `ann_ivf_topk` with the
    query filter swapped, so a lifecycle step that drops, duplicates, or
    re-quantizes index rows diverges. ``max_cells`` is pinned to the
    shared cap so the DuckDB LIMIT stays byte-identical at every SF
    (operator default is √N-derived, `similarity.py::derive_max_cells`).
    """
    from tidb_large_table_compare_spark.operators.similarity import (
        build_ivf_index,
        ivf_query_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    path = _scratch_dir("ivfidx") + "/index"
    build_ivf_index(spark, emb, path, max_cells=_IVF_CENT_CAP)
    queries = emb.filter(F.col("vec_id") % 100 == 50)
    return ivf_query_index(spark, path, queries)


_register(
    "ann_ivf_index_lifecycle",
    _ann_ivf_index_lifecycle,
    f"""
{_ivf_ranked_ctes(
    "cents AS (SELECT id AS cent_id, qv AS cent_v FROM prepped "
    f"WHERE id % 25 = 0 ORDER BY id LIMIT {_IVF_CENT_CAP})",
    query_where="id % 100 = 50",
)}
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM ranked
) t WHERE rank <= 5
""",
)


def _knn_label_classify_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The kNN classifier's 100 TB path: candidates come from the IVF probe
    (`ivf_topk` — broadcast-centroid assignment, probe-limited scan, never
    the full corpus per query) instead of the brute-force broadcast scan;
    the majority vote is identical to `knn_label_classify`, whose exact
    output doubles as this entry's recall reference."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _majority_vote(ivf_topk(emb), emb)


_register(
    "knn_label_classify_ivf",
    _knn_label_classify_ivf,
    f"""
{_IVF_RANKED_CTES},
top5 AS (
  SELECT r.query_id, e.label AS nlabel FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id) AS rank
    FROM ranked
  ) r JOIN embeddings e ON r.neighbor_id = e.vec_id
  WHERE r.rank <= 5
),
votes AS (SELECT query_id, nlabel, COUNT(*) AS n_votes
          FROM top5 GROUP BY query_id, nlabel),
pred AS (
  SELECT query_id, nlabel, n_votes FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY n_votes DESC, nlabel) AS rk
    FROM votes
  ) v WHERE rk = 1
)
SELECT p.query_id,
       CAST(p.nlabel AS BIGINT) AS predicted_label,
       CAST(p.n_votes AS BIGINT) AS n_votes,
       CAST(e.label AS BIGINT) AS true_label,
       p.nlabel = e.label AS correct
FROM pred p JOIN embeddings e ON p.query_id = e.vec_id
""",
)


# A27: regex extraction of the target table from a SQL string
# (generate_from_config.sh:32-40) — FROM-clause capture, db/table split,
# unqualified-name fallback, as column ops over a work list of SQL texts.
_register(
    "extract_table_from_sql",
    _A.extract_table_from_sql,
    """
WITH sqls(sql_id, sql_text) AS (
  VALUES (1, 'SELECT * FROM my_database.users WHERE id > 0'),
         (2, 'SELECT COUNT(*) FROM app_db.orders o JOIN x.y ON 1=1'),
         (3, 'SELECT 1 FROM unqualified_table'),
         (4, 'SELECT 1')
),
extracted AS (
  SELECT sql_id, regexp_extract(sql_text, 'FROM +([a-zA-Z_][a-zA-Z0-9_.]*)', 1) AS qualified
  FROM sqls
)
SELECT sql_id,
       CASE WHEN qualified = '' THEN 'my_database'
            WHEN instr(qualified, '.') > 0
              THEN substring(qualified, 1, instr(qualified, '.') - 1)
            ELSE 'my_database' END AS db_name,
       CASE WHEN qualified = '' THEN 'users'
            WHEN instr(qualified, '.') > 0
              THEN substring(qualified, instr(qualified, '.') + 1)
            ELSE qualified END AS table_name
FROM extracted
""",
)


# ===========================================================================
# 10. Final analytics shapes: nation-pair volume, profit rollup, disjunctive
#     predicates, multi-EXISTS.
# ===========================================================================

_register(
    "q7_nation_pair_volume",
    _A.q7_nation_pair_volume,
    """
SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
       EXTRACT(YEAR FROM l.l_shipdate) AS ship_year,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) *
                (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))) AS DOUBLE)
         AS volume
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation cn ON c.c_nationkey = cn.n_nationkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation sn ON s.s_nationkey = sn.n_nationkey
WHERE cn.n_nationkey <> sn.n_nationkey
  AND cn.n_nationkey < 4 AND sn.n_nationkey < 4
GROUP BY cn.n_name, sn.n_name, EXTRACT(YEAR FROM l.l_shipdate)
""",
)

_register(
    "q9_profit_by_nation_year",
    _A.q9_profit_by_nation_year,
    """
SELECT n.n_name, EXTRACT(YEAR FROM o.o_orderdate) AS order_year,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) *
                (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))
                - CAST(p.p_retailprice AS DECIMAL(12,2)) *
                  CAST(l.l_quantity AS DECIMAL(12,2)) *
                  CAST(0.1 AS DECIMAL(3,2))) AS DOUBLE) AS profit
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY n.n_name, EXTRACT(YEAR FROM o.o_orderdate)
""",
)

_register(
    "q19_disjunctive_revenue",
    _A.q19_disjunctive_revenue,
    """
SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) *
             (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))) AS DOUBLE)
         AS revenue,
       COUNT(*) AS n_items
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity >= 1 AND l.l_quantity <= 30)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25 AND l.l_quantity >= 5 AND l.l_quantity <= 40)
   OR (p.p_brand = 'Brand#15' AND p.p_size BETWEEN 1 AND 50 AND l.l_quantity >= 10 AND l.l_quantity <= 50)
""",
)

_register(
    "q21_suppliers_with_problem_orders",
    _A.q21_suppliers_with_problem_orders,
    """
SELECT s.s_name, COUNT(*) AS numwait
FROM supplier s
JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
JOIN orders o ON o.o_orderkey = l1.l_orderkey
WHERE o.o_orderstatus = 'F'
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > l1.l_shipdate
  )
GROUP BY s.s_name
""",
)


# ===========================================================================
# 11. Map / array scalar surface (SURVEY §2.C scalar array/map/json row)
# ===========================================================================

# The array/map functions stay under test, but the output is serialized to a
# scalar (array_join / array_to_string) because the driver's pandas-based
# canonicalizer cannot hash list cells (r1-r3 `unhashable type: 'list'`).
_register(
    "event_prop_keys",
    lambda spark, sf: (
        register_views(spark, sf),
        spark.sql(
            """
            SELECT event_id,
                   array_join(
                     array_sort(map_keys(from_json(props, 'map<string,bigint>'))),
                     ','
                   ) AS prop_keys,
                   map_values(from_json(props, 'map<string,bigint>'))[0] AS k_value
            FROM events WHERE event_id % 25 = 0
            """
        ),
    )[1],
    """
SELECT event_id,
       array_to_string(list_sort(json_keys(props)), ',') AS prop_keys,
       CAST(props->>'$.k' AS BIGINT) AS k_value
FROM events WHERE event_id % 25 = 0
""",
)

# Same driver constraint as event_prop_keys: slice() stays under test but its
# elements are projected to scalar double columns instead of a raw array<>.
# float32 -> double widening is exact, so the value hashes agree cross-engine.
_register(
    "embedding_array_stats",
    lambda spark, sf: load_table(spark, sf, "embeddings").select(
        "vec_id",
        F.size("embedding").alias("dims"),
        F.array_max("embedding").cast("double").alias("max_val"),
        F.array_position(
            F.col("embedding"), F.array_max("embedding")
        ).cast("bigint").alias("argmax_pos"),
        F.element_at(F.slice("embedding", 1, 3), 1).cast("double").alias("head1"),
        F.element_at(F.slice("embedding", 1, 3), 2).cast("double").alias("head2"),
        F.element_at(F.slice("embedding", 1, 3), 3).cast("double").alias("head3"),
    ),
    """
SELECT vec_id,
       CAST(len(embedding) AS INTEGER) AS dims,
       CAST(list_max(embedding) AS DOUBLE) AS max_val,
       CAST(list_position(embedding, list_max(embedding)) AS BIGINT) AS argmax_pos,
       CAST(embedding[1:3][1] AS DOUBLE) AS head1,
       CAST(embedding[1:3][2] AS DOUBLE) AS head2,
       CAST(embedding[1:3][3] AS DOUBLE) AS head3
FROM embeddings
""",
)


# ===========================================================================
# 12. Percentiles, token frequencies, declared float tolerance
# ===========================================================================

# Exact interpolated median/quantiles: Spark percentile() and DuckDB
# quantile_cont() use the same linear interpolation over sorted values.
_register(
    "price_quantiles_by_status",
    lambda spark, sf: (
        register_views(spark, sf),
        spark.sql(
            """
            SELECT o_orderstatus,
                   CAST(percentile(o_totalprice, 0.5) AS DOUBLE) AS median_price,
                   CAST(percentile(o_totalprice, 0.9) AS DOUBLE) AS p90_price,
                   COUNT(*) AS n
            FROM orders GROUP BY o_orderstatus
            """
        ),
    )[1],
    """
SELECT o_orderstatus,
       CAST(quantile_cont(o_totalprice, 0.5) AS DOUBLE) AS median_price,
       CAST(quantile_cont(o_totalprice, 0.9) AS DOUBLE) AS p90_price,
       COUNT(*) AS n
FROM orders GROUP BY o_orderstatus
""",
)


def _top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split(F.trim("text"), " +")).alias("token"))
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(15)
    )


_register(
    "top_tokens_documents",
    _top_tokens,
    """
SELECT token, COUNT(*) AS n
FROM (SELECT unnest(string_split_regex(trim(text), ' +')) AS token FROM documents) t
GROUP BY token
ORDER BY n DESC, token
LIMIT 15
""",
)


def _cmp_float_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared float tolerance (SURVEY §7 hard part): sub-tolerance noise on
    a double column must compare equivalent under round(x, 6) canonicalization."""
    orders = load_table(spark, sf_dir, "orders")
    noisy = orders.withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(1e-9)
    )
    return compare_tables(
        spark, orders, noisy, ["o_orderkey"],
        CompareOptions(float_round=6), "main.orders",
    ).summary()


_register(
    "cmp_float_tolerance",
    _cmp_float_tolerance,
    """
SELECT 'main.orders' AS "table", TRUE AS structure_ok,
       0::BIGINT AS upcount, 0::BIGINT AS downcount, TRUE AS equivalent
""",
)


# Streaming session windows checked against the batch lag-cumsum oracle.
from tidb_large_table_compare_spark.streaming.events import (  # noqa: E402
    streaming_session_counts,
)

_register(
    "streaming_session_counts",
    streaming_session_counts,
    f"""
WITH {_EVENTS_N}
SELECT user_id, CAST(SUM(is_new) AS BIGINT) AS n_sessions, COUNT(*) AS n_events FROM (
  SELECT user_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS is_new
  FROM events_n
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
) t
GROUP BY user_id
""",
)


# PII redaction (training-data hygiene): regex scrub with counts. Synthetic
# emails are appended deterministically so the redaction is observable;
# patterns stay backslash-free (Spark literals eat escapes DuckDB keeps).
_register(
    "redact_pii_documents",
    _A.redact_pii_documents,
    """
WITH tagged AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS STRING) || '@example.com now'
           AS text
  FROM documents WHERE doc_id % 7 = 0
)
SELECT doc_id,
       regexp_replace(text, '[a-zA-Z0-9_.]+@[a-zA-Z0-9_.]+', '<EMAIL>') AS redacted,
       length(text) - length(regexp_replace(text, '[a-zA-Z0-9_.]+@[a-zA-Z0-9_.]+', ''))
         AS redacted_chars
FROM tagged
""",
)


_register(
    "repeat_purchase_custkeys",
    _A.repeat_purchase_custkeys,
    """
SELECT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
INTERSECT ALL
SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
""",
)


# ===========================================================================
# 13. Dedup end-result + remaining TPC-H shapes (q8/q13/q15/q16/q17/q20)
# ===========================================================================


def _dedup_final_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actionable output of near-dup dedup: corpus size after dropping
    every cluster member that is not its cluster representative."""
    corpus = _near_dup_corpus(spark, sf_dir).persist()
    pairs = QUERIES["neardup_ngram_jaccard"](spark, sf_dir).select("id_a", "id_b").persist()
    clusters = connected_components(pairs)
    pairs.unpersist()
    drop = clusters.filter(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias("doc_id")
    )
    kept = corpus.join(drop, "doc_id", "left_anti")
    # both counts run here, so every cache this builder took is released
    # before returning (the result is a literal two-count frame)
    out = local_frame(
        spark, [(corpus.count(), kept.count())], "n_before bigint, n_after bigint"
    )
    corpus.unpersist()
    return out


_register(
    "dedup_final_corpus_stats",
    _dedup_final_stats,
    f"""
WITH RECURSIVE pairs AS (
  {_NGRAM_JACCARD_ORACLE.format(corpus=_NEAR_DUP_CTE, nm1=2, threshold=0.6)}
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
),
reach(node, lbl) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, r.lbl FROM reach r JOIN edges e ON r.node = e.a
),
clusters AS (SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node),
corpus AS ({_NEAR_DUP_CTE})
SELECT (SELECT COUNT(*) FROM corpus) AS n_before,
       (SELECT COUNT(*) FROM corpus
        WHERE doc_id NOT IN (SELECT node FROM clusters WHERE node <> cluster_id))
         AS n_after
""",
)

_register(
    "q8_brand_share_by_year",
    _A.q8_brand_share_by_year,
    """
SELECT order_year,
       -- decimal sums (exact, order-independent) + ONE final double
       -- division; the VARCHAR hop forces DuckDB's correctly-rounded
       -- string->double path — its direct decimal->double double-rounds
       -- above 2^53 unscaled (round-10 sf1 sweep decomposition)
       CAST(CAST(SUM(CASE WHEN p_brand = 'Brand#12' THEN volume
                          ELSE CAST(0 AS DECIMAL(16,4)) END) AS VARCHAR) AS DOUBLE)
         / CAST(CAST(SUM(volume) AS VARCHAR) AS DOUBLE) AS brand12_share,
       COUNT(*) AS n_items
FROM (
  SELECT EXTRACT(YEAR FROM o.o_orderdate) AS order_year, p.p_brand,
         CAST(l.l_extendedprice AS DECIMAL(12,2)) *
         (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))
           AS volume
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN part p ON l.l_partkey = p.p_partkey
) t
GROUP BY order_year
""",
)

_register(
    "q13_order_count_distribution",
    _A.q13_order_count_distribution,
    """
SELECT c_count, COUNT(*) AS custdist FROM (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY c.c_custkey
) t
GROUP BY c_count
""",
)

_register(
    "q15_top_supplier_by_revenue",
    _A.q15_top_supplier_by_revenue,
    """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
                  (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE)
           AS total_revenue
  FROM lineitem GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
""",
)

_register(
    "q16_part_supplier_variety",
    _A.q16_part_supplier_variety,
    """
SELECT p.p_brand, p.p_size, COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#1' AND p.p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
GROUP BY p.p_brand, p.p_size
""",
)

_register(
    "q17_small_quantity_revenue",
    _A.q17_small_quantity_revenue,
    """
SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0
         AS avg_yearly,
       COUNT(*) AS n_items
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand = 'Brand#23'
  AND l.l_quantity < (
    SELECT 0.2 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*))
    FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey
  )
""",
)

_register(
    "q20_suppliers_of_heavy_parts",
    _A.q20_suppliers_of_heavy_parts,
    """
SELECT s.s_name, s.s_suppkey
FROM supplier s
WHERE s.s_suppkey IN (
  SELECT l.l_suppkey FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p.p_size > 25
  GROUP BY l.l_suppkey
  HAVING SUM(CAST(l.l_quantity AS DECIMAL(12,2))) > 100
)
""",
)


# ===========================================================================
# 14. Iterative k-means training — Lloyd's rounds verified by an unrolled
#     SQL oracle (exact integer distances, re-quantized mean centroids).
# ===========================================================================

from tidb_large_table_compare_spark.operators.kmeans import kmeans_assignments  # noqa: E402


def _kmeans_assign_sql(vec_src: str, cent_src: str) -> str:
    return f"""
  SELECT id, qv, cluster_id FROM (
    SELECT v.id, v.qv, c.cluster_id,
           ROW_NUMBER() OVER (
             PARTITION BY v.id
             ORDER BY list_sum(list_transform(list_zip(v.qv, c.cv),
                                              p -> (p[1] - p[2]) * (p[1] - p[2]))) ASC,
                      c.cluster_id ASC) AS rn
    FROM {vec_src} v, {cent_src} c
  ) t WHERE rn = 1
"""


_KMEANS_UPDATE_SQL = """
  SELECT cluster_id, list(m ORDER BY dim) AS cv FROM (
    SELECT cluster_id, dim,
           -- exact integer round-half-away-from-zero, mirroring
           -- kmeans._update: the double form loses exactness past 2^53
           CASE WHEN SUM(val) >= 0
                THEN (2*SUM(val) + COUNT(*)) // (2*COUNT(*))
                ELSE -((-2*SUM(val) + COUNT(*)) // (2*COUNT(*)))
           END AS m
    FROM (SELECT cluster_id, generate_subscripts(qv, 1) AS dim, unnest(qv) AS val
          FROM {src})
    GROUP BY cluster_id, dim
  ) GROUP BY cluster_id
"""

_register(
    "kmeans_cluster_assignments",
    lambda spark, sf: kmeans_assignments(load_table(spark, sf, "embeddings")),
    f"""
WITH vectors AS (SELECT vec_id AS id, {_QUANT} AS qv FROM embeddings),
c0 AS (SELECT id AS cluster_id, qv AS cv FROM vectors WHERE id % 25 = 0 ORDER BY id LIMIT 1024),
a1 AS ({_kmeans_assign_sql("vectors", "c0")}),
c1 AS ({_KMEANS_UPDATE_SQL.format(src="a1")}),
a2 AS ({_kmeans_assign_sql("vectors", "c1")})
SELECT id AS vec_id, cluster_id FROM a2
""",
)

_register(
    "kmeans_cluster_sizes",
    lambda spark, sf: kmeans_assignments(load_table(spark, sf, "embeddings"))
    .groupBy("cluster_id")
    .agg(F.count(F.lit(1)).alias("n_members")),
    f"""
WITH vectors AS (SELECT vec_id AS id, {_QUANT} AS qv FROM embeddings),
c0 AS (SELECT id AS cluster_id, qv AS cv FROM vectors WHERE id % 25 = 0 ORDER BY id LIMIT 1024),
a1 AS ({_kmeans_assign_sql("vectors", "c0")}),
c1 AS ({_KMEANS_UPDATE_SQL.format(src="a1")}),
a2 AS ({_kmeans_assign_sql("vectors", "c1")})
SELECT cluster_id, COUNT(*) AS n_members FROM a2 GROUP BY cluster_id
""",
)


# k-means → IVF composition: the trainer's final centroids become the IVF
# index's coarse quantizer (ivf_topk(centroids=trained_centroids(...))) —
# the end-to-end shape a real ANN user runs, replacing the `id % 25`
# sampling stand-in. The oracle unrolls the same two Lloyd's rounds (seed →
# assign → update) and feeds the updated centroids into the shared IVF
# ranking CTEs.
from tidb_large_table_compare_spark.operators.kmeans import trained_centroids  # noqa: E402


def _ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # 3 Lloyd's rounds: the measured point where the trained quantizer's
    # recall@5 reaches the modulo-sampled baseline (tests/test_extensions.py)
    return ivf_topk(emb, centroids=trained_centroids(emb, iterations=3))


_register(
    "ann_ivf_trained_topk",
    _ann_ivf_trained,
    f"""
{_ivf_ranked_ctes(f'''c0 AS (SELECT id AS cluster_id, qv AS cv FROM prepped WHERE id % 25 = 0 ORDER BY id LIMIT 1024),
a1 AS ({_kmeans_assign_sql("prepped", "c0")}),
c1 AS ({_KMEANS_UPDATE_SQL.format(src="a1")}),
a2 AS ({_kmeans_assign_sql("prepped", "c1")}),
c2 AS ({_KMEANS_UPDATE_SQL.format(src="a2")}),
cents AS (SELECT cluster_id AS cent_id, cv AS cent_v FROM c2)''')}
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM ranked
) t WHERE rank <= 5
""",
)


# ===========================================================================
# 15. Range (interval) join — bucketized equi-join composition vs a plain
#     BETWEEN theta-join oracle.
# ===========================================================================

from tidb_large_table_compare_spark.operators.rangejoin import interval_join  # noqa: E402


def _errors_in_busy_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each error event joined to the busy intervals (hours with 2+ events
    for that user, padded ±10 minutes) that contain it.

    The busy threshold is calibrated to the real time axis: the synthetic
    events run 2-4 per user-hour at every SF, so 2+ marks the denser hours
    while keeping the interval table non-empty (a 0-row range join checks
    nothing).
    """
    ev = load_table(spark, sf_dir, "events")
    busy = (
        ev.groupBy("user_id", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select(
            "user_id",
            (F.col("h") - F.expr("INTERVAL 10 MINUTES")).alias("start_ts"),
            (F.col("h") + F.expr("INTERVAL 70 MINUTES")).alias("end_ts"),
        )
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", "ts", F.col("event_id").alias("error_id")
    )
    joined = interval_join(
        errors, busy, "ts", "start_ts", "end_ts", by=["user_id"],
        bucket_seconds=1800,
    )
    return joined.select(
        "user_id",
        "error_id",
        F.unix_timestamp(F.col("start_ts").cast("timestamp")).alias("interval_start_epoch"),
    )


_register(
    "range_join_errors_busy_hours",
    _errors_in_busy_hours,
    f"""
WITH {_EVENTS_N},
busy AS (
  SELECT user_id,
         date_trunc('hour', ts) - INTERVAL 10 MINUTE AS start_ts,
         date_trunc('hour', ts) + INTERVAL 70 MINUTE AS end_ts
  FROM events_n
  GROUP BY user_id, date_trunc('hour', ts)
  HAVING COUNT(*) >= 2
),
errors AS (
  SELECT user_id, ts, event_id AS error_id FROM events_n
  WHERE event_type = 'error'
)
SELECT e.user_id, e.error_id,
       CAST(epoch(b.start_ts) AS BIGINT) AS interval_start_epoch
FROM errors e JOIN busy b
  ON e.user_id = b.user_id AND e.ts >= b.start_ts AND e.ts <= b.end_ts
""",
)


# BPE-ish pretokenization counts (the subword tokenizer's front half):
# letter runs / digit runs / punctuation clusters. Documents are plain words,
# so digits and punctuation are injected deterministically to exercise all
# three token classes.
_register(
    "bpe_ish_token_counts",
    lambda spark, sf: load_table(spark, sf, "documents")
    .select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" v"), F.col("doc_id").cast("string"), F.lit(".x!")
        ).alias("text"),
    )
    .select(
        "doc_id",
        F.size(textops.bpe_ish_tokens(F.col("text"))).cast("bigint").alias("n_bpe_tokens"),
        F.size(
            F.filter(
                textops.bpe_ish_tokens(F.col("text")),
                lambda t: t.rlike("^[0-9]+$"),
            )
        ).cast("bigint").alias("n_numeric_tokens"),
        F.size(
            F.filter(
                textops.bpe_ish_tokens(F.col("text")),
                lambda t: ~t.rlike("^[a-zA-Z0-9]"),
            )
        ).cast("bigint").alias("n_symbol_tokens"),
    ),
    f"""
WITH tagged AS (
  SELECT doc_id, text || ' v' || CAST(doc_id AS VARCHAR) || '.x!' AS text
  FROM documents
),
toks AS (
  SELECT doc_id,
         regexp_extract_all(text, '{textops.BPE_ISH_PATTERN}') AS t
  FROM tagged
)
SELECT doc_id,
       CAST(len(t) AS BIGINT) AS n_bpe_tokens,
       CAST(len(list_filter(t, x -> regexp_matches(x, '^[0-9]+$'))) AS BIGINT)
         AS n_numeric_tokens,
       CAST(len(list_filter(t, x -> NOT regexp_matches(x, '^[a-zA-Z0-9]')))
            AS BIGINT) AS n_symbol_tokens
FROM toks
""",
)


# Multimodal frame sampling: every 4th 16-byte frame of the payload, with
# byte metadata. The documents are verified pure-ASCII, so the DuckDB oracle
# can mirror byte offsets with VARCHAR slicing (no BLOB substring in this
# DuckDB build).
from tidb_large_table_compare_spark.operators.multimodal import sample_frames  # noqa: E402

_register(
    "multimodal_frame_samples",
    lambda spark, sf: sample_frames(
        attach_binary_payload(load_table(spark, sf, "documents"))
    ),
    """
WITH frames AS (
  SELECT doc_id,
         unnest(range(0, CAST(ceil(length(text) / 16.0) AS BIGINT), 4)) AS frame_idx,
         text
  FROM documents
)
SELECT doc_id, frame_idx,
       CAST(length(substring(text, CAST(frame_idx * 16 + 1 AS BIGINT), 16)) AS BIGINT)
         AS frame_bytes,
       CAST(ascii(substring(text, CAST(frame_idx * 16 + 1 AS BIGINT), 1)) AS BIGINT)
         AS head_byte
FROM frames
""",
)


# q11-shape: groups whose share of the global total clears a threshold
# (HAVING against a scalar subquery).
_register(
    "q11_important_part_stock",
    _A.q11_important_part_stock,
    """
SELECT l_partkey,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS part_qty
FROM lineitem
GROUP BY l_partkey
HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) >
       (SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) * 0.008
        FROM lineitem)
""",
)


# Correlated LATERAL subquery with per-row LIMIT (top-2 orders per sampled
# customer) — natively a ranked window over the join; the oracle keeps the
# LATERAL formulation.
_register(
    "lateral_top2_orders_per_customer",
    _A.lateral_top2_orders_per_customer,
    """
SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
FROM customer c, LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders
  WHERE o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
) t
WHERE c.c_custkey % 20 = 1
""",
)


# Stream-stream range join (purchases x signups within 30 days) checked
# against the equivalent batch theta join.
from tidb_large_table_compare_spark.streaming.events import (  # noqa: E402
    streaming_purchase_signup_join,
)

_register(
    "streaming_purchase_signup_join",
    streaming_purchase_signup_join,
    f"""
WITH {_EVENTS_N},
purchases AS (SELECT user_id, event_id, ts FROM events_n WHERE event_type = 'purchase'),
signups AS (SELECT user_id, event_id, ts FROM events_n WHERE event_type = 'signup')
SELECT p.user_id, p.event_id AS purchase_id, s.event_id AS signup_id
FROM purchases p JOIN signups s
  ON p.user_id = s.user_id
 AND s.ts <= p.ts AND s.ts >= p.ts - INTERVAL 30 DAY
""",
)


# Streaming dedup: two overlapping sources, watermark-bounded dedup state —
# output must equal the batch table exactly.
from tidb_large_table_compare_spark.streaming.events import (  # noqa: E402
    streaming_dedup_events,
)

_register(
    "streaming_dedup_events",
    streaming_dedup_events,
    """
SELECT event_id, event_type, CAST(round(value * 100) AS BIGINT) AS cents
FROM events
""",
)


# ===========================================================================
# 10. Training-data curation: TF-IDF terms, contamination check, hash split
# ===========================================================================


def _tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF-style terms per document.

    Cross-engine exactness: the score is tf/df in DOUBLE — IEEE division of
    small integers is correctly rounded in both engines, unlike ln(), whose
    last bit varies across libm implementations. For a fixed corpus the
    (tf/df, term) ordering equals the classic tf·idf ordering.
    """
    from pyspark.sql import window as W

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    # one tokenization pass and one lineage: df is the tf aggregate's row
    # count per term (distinct docs), taken as a window count so the tf
    # subtree isn't consumed twice — a tf/df self-join recomputes the whole
    # explode+aggregate for each consumer (observed: 4 scans, 0 reuse)
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    scored = tf.withColumn(
        "df", F.count(F.lit(1)).over(W.Window.partitionBy("term"))
    ).withColumn("score", F.col("tf").cast("double") / F.col("df"))
    w = W.Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", F.col("tf").cast("long").alias("tf"),
                F.col("df").cast("long").alias("df"), "score",
                F.col("rk").cast("long").alias("rk"))
    )


_register(
    "tfidf_top_terms",
    _tfidf_top_terms,
    """
WITH toks AS (
  SELECT doc_id, t.term FROM documents,
         LATERAL (SELECT unnest(string_split(text, ' ')) AS term) t
  WHERE t.term <> ''
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         CAST(tf.tf AS DOUBLE) / df.df AS score
  FROM tf JOIN df ON tf.term = df.term
)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       score, CAST(rk AS BIGINT) AS rk
FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, term) AS rk
  FROM scored
) WHERE rk <= 3
""",
)


def _contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: count 3-gram shingles each corpus doc
    shares with a held-out 'benchmark' slice (doc_id % 97 == 0) — the
    standard pre-training decontamination pass, as a bucketed equi-join on
    the shingle (never an all-pairs scan)."""
    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id", F.explode(word_ngrams(F.col("text"), 3)).alias("gram")
    )
    probe = (
        grams.filter(F.col("doc_id") % 97 == 0).select("gram").distinct()
    )
    hits = (
        grams.filter(F.col("doc_id") % 97 != 0)
        .join(probe, "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_grams"))
        .filter(F.col("shared_grams") >= 2)
        .orderBy("doc_id")
    )
    return hits


_register(
    "contamination_check",
    _contamination_check,
    """
WITH grams AS (
  SELECT doc_id, g.gram FROM documents,
         LATERAL (
           SELECT unnest(list_transform(
             range(1, len(string_split(text, ' ')) - 1),
             i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')
           )) AS gram
         ) g
  WHERE len(string_split(text, ' ')) >= 3
),
dgrams AS (SELECT DISTINCT doc_id, gram FROM grams),
probe AS (SELECT DISTINCT gram FROM dgrams WHERE doc_id % 97 = 0)
SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS shared_grams
FROM dgrams d JOIN probe p ON d.gram = p.gram
WHERE d.doc_id % 97 <> 0
GROUP BY d.doc_id
HAVING COUNT(*) >= 2
""",
)


def _train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/10 train/val split by a content-independent hash of
    the doc id — the md5-prefix trick (see simhash_docs) computed identically
    in both engines, so the assignment is reproducible anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = _md5_bucket(100)
    tokens = F.size(F.filter(F.split("text", " "), lambda t: t != ""))
    return (
        docs.select(
            F.when(bucket < 90, F.lit("train")).otherwise(F.lit("val")).alias("split"),
            tokens.alias("toks"),
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("toks").cast("long").alias("total_tokens"),
        )
    )


def _md5_bucket(mod: int):
    """The engine-side twin of ``(_MD5_60_DOCID_SQL) %% mod``: the
    deterministic md5-prefix bucket every sampling/split/mix/shard entry
    keys membership on. ONE definition — the expression was previously
    inlined at four sites, where a future prefix-width change could
    silently diverge them (the oracle side already shares
    _MD5_60_DOCID_SQL)."""
    return F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long"),
        F.lit(mod),
    )


_MD5_60_DOCID_SQL = " + ".join(
    f"(instr('0123456789abcdef',"
    f" substring(md5(CAST(doc_id AS VARCHAR)), {j + 1}, 1)) - 1)"
    f" * {16 ** (14 - j)}"
    for j in range(15)
)

_register(
    "train_val_split",
    _train_val_split,
    f"""
WITH b AS (
  SELECT CASE WHEN ({_MD5_60_DOCID_SQL}) % 100 < 90
              THEN 'train' ELSE 'val' END AS split,
         len(list_filter(string_split(text, ' '), t -> t <> '')) AS toks
  FROM documents
)
SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(toks) AS BIGINT) AS total_tokens
FROM b GROUP BY split
""",
)


def _weighted_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data mixing — the per-source sampling stage of a training-data
    pipeline (web-scale corpora are never used at their natural proportions;
    each source gets a target rate). Rates here derive deterministically
    from the source tag (src0 keeps 100.0%, each next source 4.5 points
    less, floored at 10%; a tag with no digits counts as source 0 — pinned
    identically in the oracle via TRY_CAST+COALESCE so the two engines can
    never diverge crash-vs-drop on an unexpected tag shape), and the
    keep/drop decision is the same
    content-independent md5-prefix hash both engines compute identically —
    so the sample is reproducible on any cluster, any partitioning, any day
    (no rand(): a reshuffled input must not change the corpus).

    Map-only: a filter + hash-aggregation; at 100 TB the scan dominates and
    the output is one row per source.
    """
    return _source_mix_agg(load_table(spark, sf_dir, "documents"))


def _source_mix_agg(docs: DataFrame) -> DataFrame:
    """The shared weighted-mix body: rate from the source tag, keep/drop
    from the content-independent md5 bucket, aggregate per source.
    Factored out so the hostile-tag canary feeds the IDENTICAL expression
    tree the production entry runs."""
    # bigint + clamp: an int32 src_num would overflow 45*src_num for tags
    # above ~47.7M (ANSI Spark throws, DuckDB errors), and even bigint
    # overflows for ~19-digit tags — but the rate floors at 10% from
    # source 20 on, so clamping there makes EVERY digit string (any
    # length) behave uniformly on both engines instead of crash-vs-drop
    src_num = F.least(
        F.coalesce(
            F.regexp_extract(F.col("source"), r"(\d+)", 1).try_cast("bigint"),
            F.lit(0).cast("bigint"),
        ),
        F.lit(20).cast("bigint"),
    )
    keep_permille = F.greatest(
        F.lit(100).cast("bigint"), F.lit(1000) - F.lit(45) * src_num
    )
    bucket = _md5_bucket(1000)
    tokens = F.size(F.filter(F.split("text", " "), lambda t: t != ""))
    return (
        docs.filter(bucket < keep_permille)
        .select("source", keep_permille.alias("keep_permille"), tokens.alias("toks"))
        .groupBy("source", "keep_permille")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("toks").cast("long").alias("total_tokens"),
        )
    )


_register(
    "weighted_source_mix",
    _weighted_source_mix,
    f"""
WITH rated AS (
  SELECT source,
         GREATEST(100, 1000 - 45 * LEAST(COALESCE(
             TRY_CAST(regexp_extract(source, '(\\d+)', 1) AS BIGINT), 0), 20))
           AS keep_permille,
         ({_MD5_60_DOCID_SQL}) % 1000 AS bucket,
         len(list_filter(string_split(text, ' '), t -> t <> '')) AS toks
  FROM documents
)
SELECT source, keep_permille,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(toks) AS BIGINT) AS total_tokens
FROM rated WHERE bucket < keep_permille
GROUP BY source, keep_permille
""",
)


def _weighted_source_mix_hostile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The digitless/overflow tag guard under FIRE: the driver's documents
    table only ever carries well-formed `srcN` tags, so the production
    entry never exercises the TRY_CAST+COALESCE+clamp pin. This canary
    rewrites tags to the hostile shapes the guard exists for — empty,
    digitless, a 19-digit overflow past bigint, leading zeros, multiple
    digit groups — and runs the IDENTICAL shared mix body
    (`_source_mix_agg`) against the same rewrite in the oracle, so a
    drift back to crash-vs-drop divergence on either engine goes red."""
    docs = load_table(spark, sf_dir, "documents")
    m = F.col("doc_id") % 6
    hostile = (
        F.when(m == 0, F.lit(""))                       # no match at all
        .when(m == 1, F.lit("no-digits-here"))          # digitless
        .when(m == 2, F.lit("src" + "9" * 19))          # > bigint max
        .when(m == 3, F.lit("src0042"))                 # leading zeros
        .when(m == 4, F.lit("batch-77-of-99"))          # first group wins
        .otherwise(F.col("source"))
    )
    return _source_mix_agg(docs.withColumn("source", hostile))


_register(
    "weighted_source_mix_hostile_tags",
    _weighted_source_mix_hostile,
    f"""
WITH hostile AS (
  SELECT doc_id, text,
         CASE CAST(doc_id % 6 AS INT)
           WHEN 0 THEN ''
           WHEN 1 THEN 'no-digits-here'
           WHEN 2 THEN 'src{"9" * 19}'
           WHEN 3 THEN 'src0042'
           WHEN 4 THEN 'batch-77-of-99'
           ELSE source END AS source
  FROM documents
),
rated AS (
  SELECT source,
         GREATEST(100, 1000 - 45 * LEAST(COALESCE(
             TRY_CAST(regexp_extract(source, '(\\d+)', 1) AS BIGINT), 0), 20))
           AS keep_permille,
         ({{md5}}) % 1000 AS bucket,
         len(list_filter(string_split(text, ' '), t -> t <> '')) AS toks
  FROM hostile
)
SELECT source, keep_permille,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(toks) AS BIGINT) AS total_tokens
FROM rated WHERE bucket < keep_permille
GROUP BY source, keep_permille
""".replace("{md5}", _MD5_60_DOCID_SQL),
)


def _seeded_shuffle_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible corpus shuffle — training pipelines need documents in a
    pseudorandom order that is IDENTICAL across re-runs and partitionings
    (shuffling with rand() changes every run; ordering by id isn't a
    shuffle). Order key = md5 of a seed concatenated with the doc id; the
    first 100 positions come back with their rank.

    Scale path: the global order is consumed through orderBy().limit(k) —
    Spark's TakeOrdered (per-partition top-k, then a k-sized driver merge),
    no single-task total sort; the rank window runs over the k survivors
    only. A full-corpus shuffled WRITE would instead repartitionByRange on
    the same key — same determinism, no bottleneck.
    """
    from pyspark.sql import window as W

    docs = load_table(spark, sf_dir, "documents")
    order_key = F.md5(F.concat(F.lit("epoch-0:"), F.col("doc_id").cast("string")))
    top = (
        docs.select("doc_id", order_key.alias("__k"))
        .orderBy("__k")
        .limit(100)
    )
    w = W.Window.orderBy("__k")
    return top.select(
        F.row_number().over(w).alias("position"), "doc_id"
    )


_register(
    "seeded_shuffle_sample",
    _seeded_shuffle_sample,
    """
SELECT CAST(ROW_NUMBER() OVER (ORDER BY md5('epoch-0:' || CAST(doc_id AS VARCHAR)))
         AS INTEGER) AS position,
       doc_id
FROM documents
ORDER BY 1 LIMIT 100
""",
)


def _unigram_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-LM quality signal: score each document by how
    familiar its vocabulary is under a unigram model trained on the corpus
    itself (the stage real pipelines run with a KenLM perplexity filter).
    The score is the per-doc mean of quantized token relative frequencies —
    division of exact integers then a fixed 1e9 scale + round, all
    IEEE-pinned, where ``ln`` would differ between libm builds in the last
    ulp and break cross-engine hashing; the induced ordering is the same
    monotone common-vocabulary axis.

    Plan shape: explode → token-count shuffle → token-keyed join back →
    doc-keyed aggregation — three shuffles, the canonical distributed
    scoring profile; the corpus total is a one-row driver scalar (a scalar
    subquery would constant-fold into the BNLJ shape the registry guardrail
    forbids), summed from the PERSISTED token-count table rather than a
    second full explode pass — at 100 TB ``toks.count()`` is a whole extra
    corpus scan for a number the much smaller ``freqs`` intermediate
    already holds, and the cache means the scalar job doubles as the
    materialization the join leg reuses."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.filter(F.split("text", " "), lambda t: t != "")).alias("token"),
    )
    freqs = _persist_tracked(
        "unigram_familiarity:freqs",
        toks.groupBy("token").agg(F.count(F.lit(1)).alias("n")),
    )
    # bounded: one scalar (None only when the corpus has no tokens at all,
    # in which case the join below is empty and the literal is never used)
    total = freqs.agg(F.sum("n")).collect()[0][0] or 0
    # floor, not round: the two engines disagree on half-rounding modes;
    # floor of the IEEE-exact division is unambiguous
    q = F.floor(F.col("n").cast("double") / F.lit(float(total)) * 1e9).cast("long")
    return (
        toks.join(freqs, "token")
        .select("doc_id", q.alias("q"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_toks"),
            (F.sum("q").cast("double") / F.count(F.lit(1)).cast("double")).alias(
                "familiarity"
            ),
        )
    )


_register(
    "unigram_familiarity_scores",
    _unigram_familiarity,
    """
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
  FROM documents
),
freqs AS (SELECT token, COUNT(*) AS n FROM toks GROUP BY token),
total AS (SELECT COUNT(*) AS t FROM toks)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_toks,
       CAST(SUM(CAST(FLOOR(CAST(n AS DOUBLE) / (SELECT t FROM total) * 1e9)
                     AS BIGINT)) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS familiarity
FROM toks JOIN freqs USING (token)
GROUP BY doc_id
""",
)


def _stable_sequential_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic contiguous 0..N-1 ids in a reproducible pseudorandom
    order — the enumeration step that shards a training corpus — WITHOUT a
    single-task global sort and without ``monotonically_increasing_id``
    (whose values depend on partition layout and are neither contiguous nor
    reproducible). Two-pass pattern: split the keyspace into ORDERED
    buckets, rank within each bucket, add driver-computed bucket offsets —
    one narrow count per bucket, so the global order materializes with no
    Exchange SinglePartition anywhere (plan-asserted).

    The bucket id is a PURE FUNCTION of the key — the md5 order key is
    uniform hex, so its first two hex chars (0..255, floor-divided into 32
    contiguous ranges) give balanced buckets where every key in bucket p
    sorts before every key in bucket p+1 BY CONSTRUCTION. The r9 version
    used ``repartitionByRange`` + ``spark_partition_id()`` instead, and
    the round-10 sf1 oracle sweep caught it assigning non-contiguous ids:
    the range sampler's seed incorporates the RDD id, so the offsets
    count-job and the final rank-job sampled DIFFERENT boundaries once
    partitions grew past full-partition sampling (2+ input splits at
    sf1; the single-split small SFs masked it). A value-deterministic
    bucket cannot disagree with itself across executions — and it drops
    the extra range exchange (the rank window's own hash exchange on
    ``__pid`` is the only shuffle)."""
    from pyspark.sql import window as W

    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.md5(F.concat(F.lit("seq:"), F.col("doc_id").cast("string"))).alias(
            "__k"
        ),
    ).withColumn(
        "__pid",
        F.floor(
            F.conv(F.substring("__k", 1, 2), 16, 10).cast("int") / F.lit(8)
        ).cast("int"),
    )
    # bounded driver state: one row per partition
    sizes = {
        r["__pid"]: r["n"]
        for r in keyed.groupBy("__pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    offset_map = F.create_map(
        *[F.lit(x) for pid in sorted(offsets) for x in (pid, offsets[pid])]
    )
    w = W.Window.partitionBy("__pid").orderBy("__k", "doc_id")
    return keyed.select(
        (
            F.element_at(offset_map, F.col("__pid"))  # map lookup by pid key
            + F.row_number().over(w)
            - 1
        )
        .cast("long")
        .alias("seq_id"),
        "doc_id",
    )


_register(
    "stable_sequential_ids",
    _stable_sequential_ids,
    """
SELECT CAST(ROW_NUMBER() OVER (ORDER BY md5('seq:' || CAST(doc_id AS VARCHAR)),
                               doc_id) - 1 AS BIGINT) AS seq_id,
       doc_id
FROM documents
""",
)


def _quality_filter_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite curation decision: keep/drop per document with the first
    failing rule as the reason — the filter stage of a training-data
    pipeline, composed from the map-only quality signals in
    operators/textops.py. Ratio comparisons are double divisions of
    identical integers, so the verdicts are engine-exact."""
    from tidb_large_table_compare_spark.operators.textops import quality_features

    docs = load_table(spark, sf_dir, "documents")
    f = quality_features(F.col("text"))
    reason = (
        F.when(f["n_tokens"] < 25, F.lit("too_short"))
        .when(f["n_tokens"] > 2000, F.lit("too_long"))
        .when(f["punct_ratio"] > 0.1, F.lit("high_punct"))
        .when(f["stopword_hits"] == 0, F.lit("no_stopwords"))
        .otherwise(F.lit("ok"))
    )
    return docs.select(
        "doc_id",
        reason.alias("reason"),
        (reason == "ok").alias("keep"),
    )


_register(
    "quality_filter_verdicts",
    _quality_filter_verdicts,
    """
WITH f AS (
  SELECT doc_id,
         len(regexp_split_to_array(trim(text), ' +')) AS n_tokens,
         CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
              AS DOUBLE) / length(text) AS punct_ratio,
         CAST((length(text) - length(replace(text, 'the', ''))) / 3 AS BIGINT)
           AS stopword_hits
  FROM documents
)
SELECT doc_id,
       CASE WHEN n_tokens < 25 THEN 'too_short'
            WHEN n_tokens > 2000 THEN 'too_long'
            WHEN punct_ratio > 0.1 THEN 'high_punct'
            WHEN stopword_hits = 0 THEN 'no_stopwords'
            ELSE 'ok' END AS reason,
       (CASE WHEN n_tokens < 25 THEN 'too_short'
             WHEN n_tokens > 2000 THEN 'too_long'
             WHEN punct_ratio > 0.1 THEN 'high_punct'
             WHEN stopword_hits = 0 THEN 'no_stopwords'
             ELSE 'ok' END) = 'ok' AS keep
FROM f
""",
)


def _pack_training_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (the standard LLM-pretraining
    layout): documents are concatenated in a deterministic order and the
    token stream is cut every ``cap`` tokens; each document maps to the
    chunk range its tokens land in. One running-sum window over the doc
    order — no shuffle beyond the sort. At 100 TB the same computation runs
    per shard (pack within date/source partitions so the window never spans
    the whole corpus), which only changes the partitionBy of the window."""
    cap = 2048
    docs = load_table(spark, sf_dir, "documents")
    toks = F.size(F.filter(F.split("text", " "), lambda t: t != ""))
    from pyspark.sql import Window

    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    sized = docs.select("doc_id", toks.alias("n_toks"))
    packed = sized.select(
        "doc_id",
        "n_toks",
        (F.sum("n_toks").over(w) - F.col("n_toks")).alias("start_tok"),
    )
    return packed.select(
        "doc_id",
        "n_toks",
        "start_tok",
        F.floor(F.col("start_tok") / cap).cast("long").alias("first_chunk"),
        F.floor((F.col("start_tok") + F.col("n_toks") - 1) / cap)
        .cast("long")
        .alias("last_chunk"),
    )


_register(
    "pack_training_chunks",
    _pack_training_chunks,
    """
WITH sized AS (
  SELECT doc_id,
         len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_toks
  FROM documents
),
packed AS (
  SELECT doc_id, n_toks,
         SUM(n_toks) OVER (ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_toks AS start_tok
  FROM sized
)
SELECT doc_id, CAST(n_toks AS BIGINT) AS n_toks,
       CAST(start_tok AS BIGINT) AS start_tok,
       CAST(FLOOR(start_tok / 2048) AS BIGINT) AS first_chunk,
       CAST(FLOOR((start_tok + n_toks - 1) / 2048) AS BIGINT) AS last_chunk
FROM packed
""",
)


def _pack_training_chunks_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The packing scale path made concrete: the running-sum window
    partitions by a deterministic content-independent shard key (md5-prefix
    of doc_id, the same trick as the train/val split), so no single window
    task ever spans the corpus — the unsharded twin above sorts globally,
    which a 100 TB corpus cannot. Chunk ids stay globally unique via
    ``shard * 2^32 + local_chunk``; within a shard the packing invariant is
    identical to the unsharded formulation."""
    cap = 2048
    n_shards = 8
    docs = load_table(spark, sf_dir, "documents")
    shard = _md5_bucket(n_shards)
    toks = F.size(F.filter(F.split("text", " "), lambda t: t != ""))
    from pyspark.sql import Window

    w = Window.partitionBy("shard").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sized = docs.select("doc_id", shard.alias("shard"), toks.alias("n_toks"))
    packed = sized.select(
        "doc_id",
        "shard",
        "n_toks",
        (F.sum("n_toks").over(w) - F.col("n_toks")).alias("start_tok"),
    )
    base = F.col("shard") * F.lit(1 << 32)
    return packed.select(
        "doc_id",
        "shard",
        "n_toks",
        "start_tok",
        (base + F.floor(F.col("start_tok") / cap)).cast("long").alias("first_chunk"),
        (base + F.floor((F.col("start_tok") + F.col("n_toks") - 1) / cap))
        .cast("long")
        .alias("last_chunk"),
    )


_register(
    "pack_training_chunks_sharded",
    _pack_training_chunks_sharded,
    f"""
WITH sized AS (
  SELECT doc_id,
         ({_MD5_60_DOCID_SQL}) % 8 AS shard,
         len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_toks
  FROM documents
),
packed AS (
  SELECT doc_id, shard, n_toks,
         SUM(n_toks) OVER (PARTITION BY shard ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_toks AS start_tok
  FROM sized
)
SELECT doc_id, CAST(shard AS BIGINT) AS shard,
       CAST(n_toks AS BIGINT) AS n_toks,
       CAST(start_tok AS BIGINT) AS start_tok,
       CAST(shard * 4294967296 + FLOOR(start_tok / 2048) AS BIGINT) AS first_chunk,
       CAST(shard * 4294967296 + FLOOR((start_tok + n_toks - 1) / 2048) AS BIGINT)
         AS last_chunk
FROM packed
""",
)


def _stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source stratified sampling with deterministic, content-independent
    assignment — the curation pass that rebalances a mixed corpus (upsample
    rare sources, downsample bulk crawl). Keep rate varies per source
    (100‰..1000‰ from the source's numeric suffix); membership is the
    md5-prefix hash of doc_id, identical in both engines, so the *exact same
    documents* are kept anywhere. Map-only + one narrow agg: scales linearly,
    no shuffle beyond the per-source rollup. The id-sum column pins exact
    membership, not just cardinality."""
    docs = load_table(spark, sf_dir, "documents")
    # try_cast + COALESCE, pinned identically in the oracle SQL: a
    # digitless tag makes a plain cast return NULL here but CRASH DuckDB
    # (the same crash-vs-drop divergence _source_mix_agg was hardened
    # against); defaulting the suffix to 0 gives rate 100‰ uniformly on
    # both engines
    rate = 100 * (
        1 + F.coalesce(
            F.substring("source", 4, 10).try_cast("int"), F.lit(0)
        ) % 10
    )
    bucket = _md5_bucket(1000)
    return (
        docs.select(
            "source",
            rate.alias("rate_permille"),
            (bucket < rate).alias("keep"),
            "doc_id",
        )
        .groupBy("source", "rate_permille")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_total"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias("n_sampled"),
            F.sum(F.when(F.col("keep"), F.col("doc_id")).otherwise(0))
            .cast("long")
            .alias("sampled_id_sum"),
        )
    )


_register(
    "stratified_sample_docs",
    _stratified_sample_docs,
    f"""
WITH b AS (
  SELECT source,
         100 * (1 + COALESCE(TRY_CAST(substring(source, 4, 10) AS INTEGER), 0) % 10)
           AS rate_permille,
         ({_MD5_60_DOCID_SQL}) % 1000 AS bucket,
         doc_id
  FROM documents
)
SELECT source, rate_permille,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(CASE WHEN bucket < rate_permille THEN 1 ELSE 0 END) AS BIGINT)
         AS n_sampled,
       CAST(SUM(CASE WHEN bucket < rate_permille THEN doc_id ELSE 0 END) AS BIGINT)
         AS sampled_id_sum
FROM b GROUP BY source, rate_permille
""",
)


def _repetition_filter_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition signal: the fraction of a
    document's tokens taken by its single most frequent token. Two narrow
    aggregations (doc×token counts, then per-doc max/sum) — shuffle bytes
    ∝ distinct (doc, token) pairs, never all-pairs; the ratio is one double
    division of identical integers, so verdicts are engine-exact."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.filter(F.split("text", " "), lambda t: t != "")).alias("tok"),
    )
    per_tok = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    per_doc = per_tok.groupBy("doc_id").agg(
        F.max("cnt").cast("long").alias("top_tok_cnt"),
        F.sum("cnt").cast("long").alias("n_tokens"),
    )
    ratio = F.col("top_tok_cnt").cast("double") / F.col("n_tokens").cast("double")
    return per_doc.select(
        "doc_id",
        "top_tok_cnt",
        "n_tokens",
        (ratio > 0.2).alias("repetitive"),
    )


_register(
    "repetition_filter_docs",
    _repetition_filter_docs,
    """
WITH toks AS (
  SELECT doc_id, t.tok
  FROM documents,
       LATERAL (SELECT unnest(list_filter(string_split(text, ' '),
                                          x -> x <> '')) AS tok) t
),
per_tok AS (
  SELECT doc_id, tok, COUNT(*) AS cnt FROM toks GROUP BY doc_id, tok
),
per_doc AS (
  SELECT doc_id, CAST(MAX(cnt) AS BIGINT) AS top_tok_cnt,
         CAST(SUM(cnt) AS BIGINT) AS n_tokens
  FROM per_tok GROUP BY doc_id
)
SELECT doc_id, top_tok_cnt, n_tokens,
       (CAST(top_tok_cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE)) > 0.2
         AS repetitive
FROM per_doc
""",
)


def _sketch_daily_users_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch architecture: one HLL sketch per day partition
    (``hll_sketch_agg``), unioned across days (``hll_union_agg``) into a
    global distinct-user estimate — the pattern that replaces a global
    COUNT(DISTINCT) shuffle at 100 TB (each partition emits a fixed-size
    sketch; the merge is a tree reduction over kilobytes, not rows). The
    estimate is engine-specific, so the oracle-checkable projection is the
    exact count plus a relative-error bound (cf. ``approx_distinct_parts``):
    the sketch estimate is deterministic for fixed data, making
    ``within_2pct`` a stable value DuckDB asserts TRUE."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id", 14).alias("sketch")
    )
    merged = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("approx_users")
    )
    exact = ev.agg(F.countDistinct("user_id").alias("exact_users"))
    # combine the two one-row branches via union + re-aggregate (a join of
    # two scalar subplans would constant-fold its key and degenerate to a
    # nested-loop shape the registry guardrail forbids)
    tagged = merged.select(
        F.lit("approx").alias("metric"), F.col("approx_users").cast("double").alias("v")
    ).unionByName(
        exact.select(F.lit("exact").alias("metric"), F.col("exact_users").cast("double").alias("v"))
    )
    both = tagged.agg(
        F.max(F.when(F.col("metric") == "exact", F.col("v"))).alias("exact_d"),
        F.max(F.when(F.col("metric") == "approx", F.col("v"))).alias("approx_d"),
    )
    rel_err = F.abs(F.col("approx_d") - F.col("exact_d")) / F.col("exact_d")
    return both.select(
        F.col("exact_d").cast("long").alias("exact_users"),
        (rel_err <= F.lit(0.02)).alias("within_2pct"),
    )


_register(
    "sketch_daily_users_merged",
    _sketch_daily_users_merged,
    """
SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS within_2pct
FROM events
""",
)


def _cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter token counts via a mergeable count-min sketch — the
    sketch twin of the exact ``top_tokens_documents`` groupBy, and the
    100 TB path for corpus token statistics: each partition folds tokens
    into a fixed-size sketch map-side, the aggregation tree merges
    kilobytes instead of shuffling one row per distinct token. The sketch
    (Spark's ``count_min_sketch``, fixed seed → deterministic) is read
    back driver-side (~112 KB for eps=1e-3) and its estimates for the
    exact top-20 tokens checked against the CMS guarantee: estimate ≥
    exact, and ≤ exact + eps·N. Both are stable TRUE for fixed data, so
    the oracle asserts them alongside the exact counts (pattern of
    ``sketch_daily_users_merged``/``approx_distinct_parts``)."""
    eps = 0.001
    docs = load_table(spark, sf_dir, "documents")
    tokens = docs.select(
        F.explode(F.filter(F.split("text", " "), lambda t: t != "")).alias("token")
    )
    raw = bytes(
        tokens.agg(
            F.expr(f"count_min_sketch(token, {eps}d, 0.99d, 42)").alias("s")
        ).collect()[0]["s"]
    )
    from tidb_large_table_compare_spark.functions.fsutil import (
        ClassicSessionRequired,
        classic_jvm,
    )

    jvm = classic_jvm(spark)
    if jvm is None:  # named seam: the sketch decode is a JVM class
        raise ClassicSessionRequired("count-min sketch decode (cms_heavy_hitters)")
    cms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        jvm.java.io.ByteArrayInputStream(raw)
    )
    total = cms.totalCount()
    top = (
        tokens.groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .orderBy(F.desc("exact_count"), "token")
        .limit(20)
        .collect()
    )
    rows = [
        (
            r["token"],
            int(r["exact_count"]),
            bool(
                r["exact_count"] <= (est := cms.estimateCount(r["token"]))
                <= r["exact_count"] + eps * total
            ),
        )
        for r in top
    ]
    return local_frame(
        spark, rows, "token string, exact_count bigint, within_eps boolean"
    )


_register(
    "cms_heavy_hitters",
    _cms_heavy_hitters,
    """
WITH toks AS (
  SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
  FROM documents
)
SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_count, TRUE AS within_eps
FROM toks GROUP BY token
ORDER BY exact_count DESC, token LIMIT 20
""",
)


# ===========================================================================
# Round-3 extensions: span-level dedup, RAG chunking, Z-order layout,
# bounded approximate quantiles, sliding windows
# ===========================================================================

# Substring-level dedup (LLM-pipeline ext): token 8-gram spans shared by 2+
# distinct documents — boilerplate/license/template detection below the
# whole-document granularity of `dedup_exact_docs`/`neardup_minhash_lsh`.
# Plan: map-side per-doc distinct n-grams → ONE shuffle keyed by span →
# hash-groupBy counts. At 100 TB flip `hashed=True` so the shuffle key is
# the 8-byte xxhash64 of the span (the registry keeps literal strings so
# DuckDB value-checks them).
_register(
    "dup_span_docs",
    lambda spark, sf: duplicated_spans(
        load_table(spark, sf, "documents"), "doc_id", "text", n=8, min_docs=2
    ).select(
        "span",
        F.col("n_docs").cast("long").alias("n_docs"),
        "first_doc",
    ),
    """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS t FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS span
  FROM toks,
       UNNEST(CASE WHEN len(t) >= 8 THEN range(1, len(t) - 8 + 2)
                   ELSE [] END) AS u(i)
)
SELECT span, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       MIN(doc_id) AS first_doc
FROM grams
GROUP BY span
HAVING COUNT(DISTINCT doc_id) >= 2
""",
)

# RAG chunking: 64-token windows, stride 48 (16-token overlap), tail always
# covered; md5 of the chunk text is the cross-engine content witness. Pure
# per-row array arithmetic — map-only at any scale.
_register(
    "rag_chunk_docs",
    lambda spark, sf: chunk_tokens(
        load_table(spark, sf, "documents"), "doc_id", "text", size=64, stride=48
    ),
    """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS t FROM documents
),
nc AS (
  SELECT doc_id, t,
         1 + CAST(floor((greatest(len(t) - 64, 0) + 47) / 48) AS INT)
           AS n_chunks
  FROM toks
)
SELECT doc_id,
       CAST(k AS BIGINT) AS chunk_idx,
       CAST(k * 48 + 1 AS BIGINT) AS start_tok,
       CAST(len(t[k*48+1 : k*48+64]) AS BIGINT) AS n_chunk_toks,
       md5(array_to_string(t[k*48+1 : k*48+64], ' ')) AS chunk_md5
FROM nc, UNNEST(range(0, n_chunks)) AS u(k)
""",
)


def _zorder_lineitem_extents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout witness: Morton-interleave (l_partkey, l_suppkey),
    bucket the curve into segments (z >> 14 ≈ one segment per would-be
    file), and report each segment's min/max extent on BOTH dimensions plus
    row count — the exact numbers parquet min/max stats would expose for
    pruning if the table were written sorted by the Morton key
    (`functions/layout.morton_key`). The bit math is identical
    SQL in both engines; the whole query is one scan + one hash aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    z = morton_key(F.col("l_partkey"), F.col("l_suppkey"), bits=16)
    return (
        li.withColumn("zseg", F.shiftright(z, 14))
        .groupBy("zseg")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_partkey").alias("min_part"),
            F.max("l_partkey").alias("max_part"),
            F.min("l_suppkey").alias("min_supp"),
            F.max("l_suppkey").alias("max_supp"),
        )
    )


_register(
    "zorder_lineitem_extents",
    _zorder_lineitem_extents,
    f"""
WITH z AS (
  SELECT {morton_key_sql('l_partkey', 'l_suppkey', 16)} >> 14 AS zseg,
         l_partkey, l_suppkey
  FROM lineitem
)
SELECT zseg, CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN(l_partkey) AS min_part, MAX(l_partkey) AS max_part,
       MIN(l_suppkey) AS min_supp, MAX(l_suppkey) AS max_supp
FROM z GROUP BY zseg
""",
)


def _approx_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded approximate quantiles (cf. ``approx_distinct_parts``):
    ``percentile_approx`` (Greenwald-Khanna, mergeable — the 100 TB path:
    fixed-size summaries per partition, no global sort) asserted within 1%
    of the exact interpolated percentile; the oracle-checkable projection is
    the exact values (bit-identical to DuckDB ``quantile_cont``, proven by
    ``price_quantiles_by_status``) plus the stable bound booleans."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.agg(
        F.percentile_approx("l_extendedprice", [0.5, 0.9], 10000).alias("ap"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("exact_p50"),
        F.expr("percentile(l_extendedprice, 0.9)").alias("exact_p90"),
    )
    return agg.select(
        F.col("exact_p50"),
        F.col("exact_p90"),
        (F.abs(F.col("ap")[0] - F.col("exact_p50")) / F.col("exact_p50")
         <= 0.01).alias("p50_within_1pct"),
        (F.abs(F.col("ap")[1] - F.col("exact_p90")) / F.col("exact_p90")
         <= 0.01).alias("p90_within_1pct"),
    )


_register(
    "approx_price_quantiles",
    _approx_price_quantiles,
    """
SELECT quantile_cont(l_extendedprice, 0.5) AS exact_p50,
       quantile_cont(l_extendedprice, 0.9) AS exact_p90,
       TRUE AS p50_within_1pct,
       TRUE AS p90_within_1pct
FROM lineitem
""",
)

# Sliding (hopping) windows — the overlap generalization of the tumbling
# `hourly_event_counts`: each event lands in width/slide = 2 windows; the
# groupBy key count doubles, nothing else changes at scale.
_register(
    "sliding_event_counts",
    lambda spark, sf: (
        load_table(spark, sf, "events")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
        )
    ),
    """
WITH w AS (
  SELECT date_trunc('hour', ts) - to_hours(k) AS window_start, event_id
  FROM events, UNNEST([0, 1]) AS t(k)
)
SELECT window_start,
       window_start + INTERVAL 2 HOUR AS window_end,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM w GROUP BY window_start
""",
)


# ===========================================================================
# Driver-priority ordering
# ===========================================================================
# The driver correctness-checks only the FIRST 50 registered queries (in
# insertion order), so registration order is a scarce verification resource.
# Definitions above stay grouped by subsystem; here the dicts are rebuilt per
# round from the ledger (`python -m tidb_large_table_compare_spark.ledger`):
# never-green entries first, then entries whose latest green signal is
# oldest, then regression canaries for code paths touched this round.

_DRIVER_PRIORITY: list[str] = [
    # (a) the full round-9 cohort (ledger-derived: 34 entries whose latest
    # green signal is r9, exactly `python -m ...ledger --suggest`'s
    # mandatory set after r11) — at 131 entries the cadence bound is
    # ⌈131/50⌉−1 = 2 rounds, so every one of these MUST re-verify this
    # round; the phase-aware test_registry_order.py rotation test
    # enforces the bound.
    "ann_cosine_topk",
    "approx_price_quantiles",
    "cmp_diff_rows_composite_pk",
    "cmp_float_tolerance",
    "cms_heavy_hitters",
    "compaction_plan_bins",
    "compaction_replan_converges",
    "dedup_final_corpus_stats",
    "dup_span_docs",
    "extract_table_from_sql",
    "json_props_by_type",
    "lateral_top2_orders_per_customer",
    "multimodal_binary_meta",
    "order_priority_counts",
    "price_quantiles_by_status",
    "q11_important_part_stock",
    "q12_priority_line_counts",
    "q15_top_supplier_by_revenue",
    "q16_part_supplier_variety",
    "q17_small_quantity_revenue",
    "q18_large_quantity_orders",
    "q19_disjunctive_revenue",
    "q20_suppliers_of_heavy_parts",
    "q21_suppliers_with_problem_orders",
    "q22_idle_rich_customers",
    "rag_chunk_docs",
    "redact_pii_documents",
    "repeat_purchase_custkeys",
    "seeded_shuffle_sample",
    "sketch_daily_users_merged",
    "streaming_hourly_counts",
    "string_ops_documents",
    "yearly_volume_by_nation",
    "zorder_lineitem_extents",
    # (b) round-12 change canaries — every code path this round touched
    # (VERDICT r11 #3/#4, ADVICE r11): the materialize() seam now governs
    # the previously hard-coded localCheckpoint sites in clustering.py
    # (both cluster entries), kmeans.py (both kmeans entries),
    # dedup_index.py (the index lifecycle), and streaming/events.py's
    # memory-sink drain (the three memory-sink streaming shapes);
    # streaming_purchase_signup_join additionally canaries the
    # session-scoped scratch-root sink + explicit-schema read-back that
    # replaced the leaking per-call mkdtemp.
    "dedup_cluster_assignments",
    "embedding_dedup_clusters",
    "kmeans_cluster_assignments",
    "kmeans_cluster_sizes",
    "neardup_index_lifecycle",
    "streaming_dedup_events",
    "streaming_session_counts",
    "streaming_user_totals_stateful",
    "streaming_purchase_signup_join",
    # (c) early r10-cohort rotation (these become mandatory in r13;
    # re-greening the most expensive / highest-value ones now smooths the
    # next window — same discipline as r11's early r9 rotation).
    "cmp_diff_rows_orders",
    "cmp_fix_sql_orders",
    "cmp_reconcile_orders",
    "dedup_exact_docs",
    "knn_label_classify_ivf",
    "multimodal_decode_stats",
    "q1_pricing_summary",
]


def _apply_driver_priority() -> None:
    missing = [n for n in _DRIVER_PRIORITY if n not in QUERIES]
    if missing:
        raise KeyError(f"_DRIVER_PRIORITY names not registered: {missing}")
    ordered = _DRIVER_PRIORITY + [n for n in QUERIES if n not in set(_DRIVER_PRIORITY)]
    for mapping in (QUERIES, ORACLES):
        snapshot = dict(mapping)
        mapping.clear()
        mapping.update(
            {n: snapshot[n] for n in ordered if n in snapshot}
        )


_apply_driver_priority()
