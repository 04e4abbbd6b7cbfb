"""Compare-engine edge cases: empty inputs, one-sided data, composite-key
fix SQL, common-column comparison under schema drift."""

from __future__ import annotations

from pyspark.sql import functions as F

from tidb_large_table_compare_spark.operators.compare import (
    CompareOptions,
    compare_tables,
)
from tidb_large_table_compare_spark.operators.fixsql import fix_sql
from tests.conftest import SF_SMALL


def test_empty_vs_empty_is_equivalent(spark):
    empty = spark.createDataFrame([], "pk bigint, v string")
    row = compare_tables(spark, empty, empty, ["pk"], table_name="e").summary().collect()[0]
    assert row.equivalent and row.upcount == 0 and row.downcount == 0


def test_empty_left_vs_full_right(spark):
    empty = spark.createDataFrame([], "pk bigint, v string")
    full = spark.createDataFrame([(1, "a"), (2, "b")], "pk bigint, v string")
    row = compare_tables(spark, empty, full, ["pk"], table_name="e").summary().collect()[0]
    assert row.upcount == 0 and row.downcount == 2 and not row.equivalent
    row2 = compare_tables(spark, full, empty, ["pk"], table_name="e").summary().collect()[0]
    assert row2.upcount == 2 and row2.downcount == 0


def test_single_row_modified(spark):
    a = spark.createDataFrame([(1, "a")], "pk bigint, v string")
    b = spark.createDataFrame([(1, "B")], "pk bigint, v string")
    row = compare_tables(spark, a, b, ["pk"], table_name="s").summary().collect()[0]
    assert (row.upcount, row.downcount) == (1, 1)


def test_common_column_compare_under_drift(spark):
    """Data diff runs over the shared columns; structure diff carries the
    rest — an extra slave column alone must not flag every row modified."""
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    widened = orders.withColumn("o_new", F.lit("x"))
    cmp = compare_tables(spark, orders, widened, ["o_orderkey"], table_name="w")
    row = cmp.summary().collect()[0]
    assert not row.structure_ok  # extra column reported by B1
    assert row.upcount == 0 and row.downcount == 0  # shared columns identical


def test_fix_sql_composite_key_delete(spark):
    a = spark.createDataFrame([(1, 1, "x")], "k1 bigint, k2 int, v string")
    b = spark.createDataFrame(
        [(1, 1, "x"), (2, 5, "extra")], "k1 bigint, k2 int, v string"
    )
    cmp = compare_tables(spark, a, b, ["k1", "k2"], table_name="db.t")
    stmts = [r.fix_sql for r in fix_sql(cmp).collect()]
    assert stmts == ["DELETE FROM db.t WHERE k1 = 2 AND k2 = 5;"]


def test_compare_string_binary_edge_values(spark):
    """Quote-bearing strings and binary payloads survive literal rendering."""
    a = spark.createDataFrame(
        [(1, "it's 'quoted'", bytearray(b"\x00\xff"))],
        "pk bigint, s string, b binary",
    )
    empty = a.filter(F.lit(False))
    cmp = compare_tables(spark, a, empty, ["pk"], table_name="q")
    stmt = fix_sql(cmp).collect()[0].fix_sql
    assert "it''s ''quoted''" in stmt and "X'00FF'" in stmt

def test_null_pk_rows_have_defined_semantics(spark):
    """TiDB PKs are NOT NULL, but the engine's behavior on null keys must be
    defined, not accidental. Identical null-key rows cancel in the algebraic
    digest (no join is involved, so SQL null-equality rules never apply) and
    the tables compare equivalent; a MODIFIED null-key row is paired by its
    row hash, not its key, in the drill-down, so it surfaces as
    missing_in_right + extra_in_right — upcount 1 / downcount 1, i.e. a
    delete+insert repair, which is exactly what an update means in the
    reference's UPCOUNT/DOWNCOUNT vocabulary."""
    from tidb_large_table_compare_spark.operators.compare import compare_tables

    left = spark.createDataFrame([(1, "a"), (None, "x")], "pk bigint, v string")
    same = spark.createDataFrame([(1, "a"), (None, "x")], "pk bigint, v string")
    cmp_same = compare_tables(spark, left, same, ["pk"])
    s = cmp_same.summary().collect()[0]
    assert (s.equivalent, s.upcount, s.downcount) == (True, 0, 0)
    assert cmp_same.diff_rows().isEmpty()

    changed = spark.createDataFrame([(1, "a"), (None, "y")], "pk bigint, v string")
    cmp_diff = compare_tables(spark, left, changed, ["pk"])
    s = cmp_diff.summary().collect()[0]
    assert (s.equivalent, s.upcount, s.downcount) == (False, 1, 1)
    assert sorted((str(r.pk), r.diff_type) for r in cmp_diff.diff_rows().collect()) == [
        ("None", "extra_in_right"),
        ("None", "missing_in_right"),
    ]


def test_package_renders_no_general_sql_id_literals():
    """The one id IN-list the package builds is the admission probe's,
    over ``long`` doc ids rendered inline: the general SQL-literal
    renderer is gone, and no module filters by ``Column.isin``, whose
    per-element py4j literal cost grows with the list."""
    from pathlib import Path

    import tidb_large_table_compare_spark as pkg

    root = Path(pkg.__file__).resolve().parent
    gone = ("in_list", "render_sql_id", "_ts_body", "_SAFE_", "isin(")
    hits = [
        f"{path.relative_to(root)}:{n}: {name}"
        for path in sorted(root.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        for name in gone
        if name in line
    ]
    assert not hits, hits


def test_fix_sql_timestamp_pk_and_values(spark):
    """REPLACE/DELETE export over a TIMESTAMP pk + timestamp value column:
    the master retrieval semi-joins the diff's timestamp keys, and
    sql_literal renders timestamp VALUES zone-less in the session tz with
    a 6-digit fraction — the conventional fix.sql contract (the target
    applies them under its own matching tz; this session pins UTC, so the
    strings equal the +00:00 instants)."""
    from pyspark.sql import functions as F

    from tidb_large_table_compare_spark.operators.compare import (
        CompareOptions,
        compare_tables,
    )

    base = spark.sql(
        "select timestampadd(SECOND, cast(id as int),"
        "       timestamp'2024-01-01 00:00:00.123456+00:00') as pk,"
        "       timestampadd(HOUR, cast(id as int),"
        "       timestamp'2024-06-01 00:00:00+00:00') as v,"
        "       id from range(100)"
    )
    left = base.drop("id")
    right = (
        base.withColumn(
            "v",
            F.when(
                F.col("id").isin(5, 7),
                F.expr("timestampadd(MINUTE, 1, v)"),
            ).otherwise(F.col("v")),
        )
        .filter("id <> 9")
        .drop("id")
    )
    cmp = compare_tables(
        spark, left, right, pk=["pk"],
        options=CompareOptions(n_buckets=64), table_name="t",
    )
    stmts = sorted(r["fix_sql"] for r in fix_sql(cmp).collect())
    assert len(stmts) == 3 and all(s.startswith("REPLACE INTO t") for s in stmts)
    # the k=5 row: pk instant 00:00:05.123456Z renders as the session-tz
    # (UTC) wall clock; the modified v renders with its 6-digit fraction
    k5 = [s for s in stmts if "2024-01-01 00:00:05.123456" in s]
    assert len(k5) == 1, stmts
    assert "'2024-06-01 05:00:00.000000'" in k5[0], k5[0]
    # the missing k=9 row re-inserts from the master
    assert any("2024-01-01 00:00:09.123456" in s for s in stmts)


def test_bucket_id_widens_all_integral_pk_widths(spark):
    """bucket_id must assign the same bucket for the same VALUE at every
    integral width (tinyint/smallint/int/bigint) — xxhash64 hashes the
    binary width, so unwidened buckets diverge across benign widenings."""
    from tidb_large_table_compare_spark.functions.hashing import bucket_id

    rows = [(i,) for i in range(-20, 108)]
    frames = {
        t: spark.createDataFrame(rows, f"pk {t}")
        for t in ("tinyint", "smallint", "int", "bigint")
    }
    buckets = {
        t: {r.pk: r.b for r in
            df.select("pk", bucket_id(["pk"], 64, df).alias("b")).collect()}
        for t, df in frames.items()
    }
    for t in ("tinyint", "smallint", "int"):
        assert buckets[t] == buckets["bigint"], t


def test_bucket_id_widens_decimal_pk_precisions(spark):
    """Decimal twin of the integral pin, plus the CROSS-FAMILY chain:
    xxhash64's physical form flips from unscaled-long to unscaled-bytes
    at precision 19, so an unwidened DECIMAL(18,0)/DECIMAL(20,0) pair
    (the TiDB unsigned-BIGINT mapping) bucketed equal values
    differently — and bigint vs DECIMAL(p,0) likewise. Every scale-0
    numeric must land in the same bucket for the same value."""
    from decimal import Decimal

    from tidb_large_table_compare_spark.functions.hashing import bucket_id

    dec_rows = [(Decimal(i),) for i in range(0, 128)]
    frames = {
        p: spark.createDataFrame(dec_rows, f"pk decimal({p},0)")
        for p in (10, 18, 20, 38)
    }
    frames["bigint"] = spark.createDataFrame(
        [(i,) for i in range(0, 128)], "pk bigint"
    )
    buckets = {
        p: {int(r.pk): r.b for r in
            df.select("pk", bucket_id(["pk"], 64, df).alias("b")).collect()}
        for p, df in frames.items()
    }
    for p in (10, 18, 20, "bigint"):
        assert buckets[p] == buckets[38], p
