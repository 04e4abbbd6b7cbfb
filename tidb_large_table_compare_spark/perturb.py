"""Deterministic "slave-side" perturbations of the test tables.

The reference compares a master table against a drifted slave replica; our
test data has no replica, so compare queries construct the slave side inline
with a *deterministic, SQL-expressible* perturbation (FIXTURES.md §8). The
same definition exists twice — as a DataFrame transform (engine input) and as
a SQL CTE body (DuckDB oracle input) — and they must stay in lockstep.

Perturbation of ``orders`` (pk = o_orderkey):
- DELETE  rows with o_orderkey % 97  = 3   → missing on slave (UPCOUNT)
- MODIFY  o_totalprice + 1.0 where o_orderkey % 89 = 5 (surviving rows only)
  → modified (UPCOUNT and DOWNCOUNT, REPLACE semantics — B9)
- INSERT  copies with o_orderkey + 10000000 where o_orderkey % 400 = 7
  → extra on slave (DOWNCOUNT)
"""

from __future__ import annotations

import weakref
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Plan-handle memo per input frame: each builder chains 5-6 DataFrame ops
# and classic Datasets ANALYZE eagerly at creation, so one build costs
# ~0.2 s of driver time (round-12 micro-profile) — re-paid per compare
# entry per invocation although the input handle is now session-cached
# (sources/tables.py) and the derivation is pure. Metadata only (an
# immutable logical plan), same discipline as the load_table handle
# cache; entries die with their input frame (WeakKeyDictionary).
_MEMO: "weakref.WeakKeyDictionary[DataFrame, dict[str, DataFrame]]" = (
    weakref.WeakKeyDictionary()
)


def _memoized(df: DataFrame, key: str, build: Callable[[], DataFrame]) -> DataFrame:
    per_input = _MEMO.setdefault(df, {})
    out = per_input.get(key)
    if out is None:
        out = build()
        per_input[key] = out
    return out

DELETE_MOD, DELETE_REM = 97, 3
MODIFY_MOD, MODIFY_REM = 89, 5
INSERT_MOD, INSERT_REM = 400, 7
INSERT_SHIFT = 10_000_000
# extra drift classes for the multi-column variant (column_drift fixture)
STATUS_MOD, STATUS_REM = 211, 13
PRIO_NULL_MOD, PRIO_NULL_REM = 401, 17


def perturbed_orders(orders: DataFrame) -> DataFrame:
    """The drifted slave copy of ``orders`` (see module docstring)."""
    return _memoized(orders, "orders", lambda: _perturbed_orders(orders))


def _perturbed_orders(orders: DataFrame) -> DataFrame:
    kept = orders.filter(F.col("o_orderkey") % DELETE_MOD != DELETE_REM)
    modified = kept.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % MODIFY_MOD == MODIFY_REM,
            F.col("o_totalprice") + 1.0,
        ).otherwise(F.col("o_totalprice")),
    )
    extra = orders.filter(F.col("o_orderkey") % INSERT_MOD == INSERT_REM).withColumn(
        "o_orderkey", F.col("o_orderkey") + INSERT_SHIFT
    )
    return modified.unionByName(extra.select(modified.columns))


def perturbed_orders_multi(orders: DataFrame) -> DataFrame:
    """Drifted slave with drift spread across THREE columns — the fixture
    for the per-column drift drill-down (``TableCompare.column_drift``).

    Same delete/insert classes as ``perturbed_orders`` (so the drill-down's
    modified-rows-only restriction is actually exercised), plus:

    - o_totalprice + 1.0      where o_orderkey % 89  = 5
    - o_orderstatus → 'X'     where o_orderkey % 211 = 13
    - o_orderpriority → NULL  where o_orderkey % 401 = 17
      (NULL drift pins the null-safe per-column inequality)

    A row can fall in several classes at once — the per-column counts must
    then each count it, while the row-level 'modified' verdict counts it
    once.
    """
    return _memoized(orders, "orders_multi", lambda: _perturbed_orders_multi(orders))


def _perturbed_orders_multi(orders: DataFrame) -> DataFrame:
    kept = orders.filter(F.col("o_orderkey") % DELETE_MOD != DELETE_REM)
    modified = (
        kept.withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % MODIFY_MOD == MODIFY_REM,
                F.col("o_totalprice") + 1.0,
            ).otherwise(F.col("o_totalprice")),
        )
        .withColumn(
            "o_orderstatus",
            F.when(
                F.col("o_orderkey") % STATUS_MOD == STATUS_REM, F.lit("X")
            ).otherwise(F.col("o_orderstatus")),
        )
        .withColumn(
            "o_orderpriority",
            F.when(
                F.col("o_orderkey") % PRIO_NULL_MOD == PRIO_NULL_REM,
                F.lit(None).cast("string"),
            ).otherwise(F.col("o_orderpriority")),
        )
    )
    extra = orders.filter(F.col("o_orderkey") % INSERT_MOD == INSERT_REM).withColumn(
        "o_orderkey", F.col("o_orderkey") + INSERT_SHIFT
    )
    return modified.unionByName(extra.select(modified.columns))


# DuckDB/ANSI CTE body equivalent to perturbed_orders_multi() — keep in lockstep.
PERTURBED_ORDERS_MULTI_SQL = f"""
    SELECT o_orderkey, o_custkey,
           CASE WHEN o_orderkey % {STATUS_MOD} = {STATUS_REM}
                THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
           CASE WHEN o_orderkey % {MODIFY_MOD} = {MODIFY_REM}
                THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice,
           o_orderdate,
           CASE WHEN o_orderkey % {PRIO_NULL_MOD} = {PRIO_NULL_REM}
                THEN NULL ELSE o_orderpriority END AS o_orderpriority
    FROM orders
    WHERE o_orderkey % {DELETE_MOD} <> {DELETE_REM}
    UNION ALL
    SELECT o_orderkey + {INSERT_SHIFT}, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders
    WHERE o_orderkey % {INSERT_MOD} = {INSERT_REM}
"""


# DuckDB/ANSI CTE body equivalent to perturbed_orders() — keep in lockstep.
PERTURBED_ORDERS_SQL = f"""
    SELECT o_orderkey, o_custkey, o_orderstatus,
           CASE WHEN o_orderkey % {MODIFY_MOD} = {MODIFY_REM}
                THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders
    WHERE o_orderkey % {DELETE_MOD} <> {DELETE_REM}
    UNION ALL
    SELECT o_orderkey + {INSERT_SHIFT}, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders
    WHERE o_orderkey % {INSERT_MOD} = {INSERT_REM}
"""
