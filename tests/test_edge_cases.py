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


def test_in_list_matches_isin_semantics(spark):
    """hashing.in_list must be result-identical to Column.isin for the
    integer fast path (one SQL string, no per-element py4j literals), for
    the non-integer fallback, and for the empty list (match-nothing)."""
    from tidb_large_table_compare_spark.functions.hashing import in_list

    df = spark.range(0, 100).withColumnRenamed("id", "k")
    ids = [3, 17, 99, 42]
    fast = sorted(r.k for r in df.filter(in_list("k", ids)).collect())
    slow = sorted(r.k for r in df.filter(F.col("k").isin(ids)).collect())
    assert fast == slow == [3, 17, 42, 99]
    assert df.filter(in_list("k", [])).count() == 0

    # numpy ints are NOT Python ints → the isin fallback, same result
    # (collect()ed bucket/doc ids are always Python ints, so the fast path
    # covers every engine call site)
    import numpy as np

    got = sorted(r.k for r in df.filter(in_list("k", [np.int64(5), 7])).collect())
    assert got == [5, 7]

    # identifier-charset strings (uuid-style keys) take the one-string
    # fast path; anything that could interact with quoting falls back
    sdf = df.select(F.concat(F.lit("v"), F.col("k")).alias("s"))
    got = sorted(r.s for r in sdf.filter(in_list("s", ["v1", "v2"])).collect())
    assert got == ["v1", "v2"]
    qdf = spark.createDataFrame(
        [("a'b",), ("plain-key",), ("x\\y",), ("",)], "s string"
    )
    got = sorted(
        r.s for r in qdf.filter(
            in_list("s", ["a'b", "plain-key", "x\\y", ""])
        ).collect()
    )
    assert got == ["", "a'b", "plain-key", "x\\y"]  # isin fallback, exact

    class EvilStr(str):
        def __str__(self):
            return "') OR ('1'='1"

        def __format__(self, spec):
            return "') OR ('1'='1"

    got = sorted(
        r.s for r in qdf.filter(in_list("s", [EvilStr("plain-key")])).collect()
    )
    assert got == ["plain-key"]  # str.__str__ pins the real data

    # an int SUBCLASS passes the isinstance gate but may override __str__
    # (IntEnum on old Pythons renders 'E.A'; a hostile one renders an
    # arbitrary predicate) — the fast path must render int(i), digits only
    class Evil(int):
        def __str__(self):
            return "1) OR (1=1"

    got = sorted(r.k for r in df.filter(in_list("k", [Evil(5), 7])).collect())
    assert got == [5, 7]

    # Decimal ids take the fast path too (decimal PKs are the TiDB
    # unsigned-BIGINT JDBC mapping): fixed-point rendering, charset-
    # checked; scaled values match; NaN/Inf (non-numeric rendering) and
    # hostile __format__ output fall back / fail loud, never inject
    from decimal import Decimal

    ddf = df.select(F.col("k").cast("decimal(20,0)").alias("k"))
    got = sorted(
        int(r.k) for r in ddf.filter(
            in_list("k", [Decimal(3), Decimal("17")])
        ).collect()
    )
    assert got == [3, 17]
    sdf2 = df.select((F.col("k").cast("decimal(10,2)") / 4).alias("k"))
    got = sorted(
        str(r.k) for r in sdf2.filter(
            in_list("k", [Decimal("0.75"), Decimal("2.50")])
        ).collect()
    )
    assert got == ["0.750000", "2.500000"] or got == ["0.75", "2.50"], got
    # huge exponent renders fixed-point (plain str gives 1E+21)
    big = Decimal("1E+21")
    assert ddf.filter(in_list("k", [big])).count() == 0  # no match, no error
    # a hostile Decimal subclass overriding __format__ cannot inject: the
    # charset gate rejects its rendering and the whole list falls back
    class EvilDec(Decimal):
        def __format__(self, spec):
            return "1) OR (1=1"

    got = sorted(
        int(r.k) for r in ddf.filter(
            in_list("k", [EvilDec(5), Decimal(7)])
        ).collect()
    )
    assert got == [5, 7]

    # DATE ids render as literals (tz-free on both sides). DATETIMES
    # render ONLY when the caller declares the column dtype — a zone-less
    # TIMESTAMP literal parses in the session tz while collect() converts
    # through the driver OS tz (round-9 review finding), so the dtype-less
    # call must keep refusing, and the dtype-declared rendering must be
    # tz-explicit: instants carry +00:00 (session-independent), NTZ wall
    # clocks render verbatim as TIMESTAMP_NTZ. End-to-end membership under
    # a non-UTC OS tz + non-UTC session tz is pinned by the subprocess
    # test test_timestamp_inlist_membership_under_non_utc_tz.
    import datetime

    from pyspark.sql import types as T

    from tidb_large_table_compare_spark.functions.hashing import render_sql_id

    naive = datetime.datetime(2024, 1, 2, 3, 4, 5)
    aware = datetime.datetime(2024, 1, 2, tzinfo=datetime.timezone.utc)
    assert render_sql_id(naive) is None  # dtype-less: refuse, isin fallback
    assert render_sql_id(aware) is None
    # aware instant vs a declared TimestampType column: render through UTC
    assert (
        render_sql_id(aware, T.TimestampType())
        == "TIMESTAMP '2024-01-02 00:00:00.000000+00:00'"
    )
    # NTZ wall clock renders verbatim; an aware value has no wall-clock
    # meaning against an NTZ column and must refuse
    assert (
        render_sql_id(naive, T.TimestampNTZType())
        == "TIMESTAMP_NTZ '2024-01-02 03:04:05.000000'"
    )
    assert render_sql_id(aware, T.TimestampNTZType()) is None
    # dtype is consulted only for datetimes: a declared dtype must not
    # accidentally open rendering for other fallback types
    assert render_sql_id(object(), T.TimestampType()) is None
    tdf = df.select(
        F.expr("timestamp'2024-01-02 03:04:05.123456' + make_interval(0,0,0,0,0,0,k)").alias("t"),
        F.col("k"),
    )
    want = [
        datetime.datetime(2024, 1, 2, 3, 4, 10, 123456),
        datetime.datetime(2024, 1, 2, 3, 4, 12, 123456),
    ]
    got = sorted(r.k for r in tdf.filter(in_list("t", want)).collect())
    assert got == [5, 7]  # dtype-less: via the isin fallback
    # dtype-declared: the rendered one-string fast path, same rows (the
    # test session's OS tz and session tz are both UTC; the non-UTC twin
    # is the subprocess test)
    got = sorted(
        r.k
        for r in tdf.filter(
            in_list("t", want, tdf.schema["t"].dataType)
        ).collect()
    )
    assert got == [5, 7]
    # hostile datetime subclass: rendering is pinned through a genuine
    # datetime copy, so overrides cannot shape the literal
    class EvilDt(datetime.datetime):
        def __format__(self, spec):
            return "1' OR '1'='1"

        def astimezone(self, tz=None):
            return self

    evil = EvilDt(2024, 1, 2, 3, 4, 10, 123456)
    r = render_sql_id(evil, T.TimestampType())
    assert r is not None and "OR" not in r
    got = sorted(
        r.k
        for r in tdf.filter(
            in_list("t", [evil, want[1]], tdf.schema["t"].dataType)
        ).collect()
    )
    assert got == [5, 7]
    dadf = df.select(F.expr("date_add(date'2024-01-01', cast(k as int))").alias("d"), F.col("k"))
    dwant = [datetime.date(2024, 1, 6), datetime.date(2024, 1, 8)]
    got = sorted(r.k for r in dadf.filter(in_list("d", dwant)).collect())
    assert got == [5, 7]

    # binary ids render as X'..' hex literals; collect() yields bytearray,
    # which must round-trip through the same path
    bdf = df.select(F.expr("cast(concat('k', k) as binary)").alias("b"), F.col("k"))
    bwant = [r.b for r in bdf.filter("k in (5, 7)").select("b").collect()]
    assert all(isinstance(b, (bytes, bytearray)) for b in bwant)
    got = sorted(r.k for r in bdf.filter(in_list("b", bwant)).collect())
    assert got == [5, 7]


def test_render_sql_id_edge_of_range_instants_refuse_not_crash():
    """astimezone raises OverflowError when a value's UTC image falls
    outside Python's datetime range (year 1/9999 at an offset pointing
    past the boundary) — the rendering must refuse to the isin fallback,
    never crash the predicate build (round-10 self-review)."""
    import datetime

    from pyspark.sql import types as T

    from tidb_large_table_compare_spark.functions.hashing import render_sql_id

    over = datetime.datetime(
        9999, 12, 31, 23, 59,
        tzinfo=datetime.timezone(datetime.timedelta(hours=-14)),
    )
    under = datetime.datetime(
        1, 1, 1, 0, 1,
        tzinfo=datetime.timezone(datetime.timedelta(hours=14)),
    )
    assert render_sql_id(over, T.TimestampType()) is None
    assert render_sql_id(under, T.TimestampType()) is None
    # an in-range extreme still renders
    ok = datetime.datetime(
        9999, 12, 31, 23, 59,
        tzinfo=datetime.timezone(datetime.timedelta(hours=2)),
    )
    assert render_sql_id(ok, T.TimestampType()) == (
        "TIMESTAMP '9999-12-31 21:59:00.000000+00:00'"
    )


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


_TZ_MEMBERSHIP_SCRIPT = r'''
import datetime
import time

# TZ=America/New_York must be in the environment BEFORE this process (and
# its JVM) start — both Python's localtime and the driver JVM read it once.
assert time.tzname[0] != "UTC", time.tzname

from pyspark.sql import types as T

from tidb_large_table_compare_spark.functions.hashing import in_list, render_sql_id
from tidb_large_table_compare_spark.session import get_spark

spark = get_spark("tz-membership", shuffle_partitions=4)
# a THIRD timezone for the session, so OS tz, session tz, and UTC all
# differ — the exact configuration where the round-9 zone-less rendering
# selected wrong rows
spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")

# 30-minute grid across the 2024-11-03 US fall-back: local wall clocks
# 00:00 EDT .. 03:30 EST; the 01:00-01:59 hour occurs TWICE (fold 0/1)
df = spark.sql(
    "select timestampadd(MINUTE, 30*id, timestamp'2024-11-03 04:00:00+00:00') as t,"
    "       cast(id as int) as k from range(12)"
)
rows = df.collect()
folds = {r.k: r.t.fold for r in rows}
# collect() is fold-aware: ks 4,5 are the second (EST) pass of the
# ambiguous hour — if this stops holding, the rendering contract changed
assert folds[2] == 0 and folds[3] == 0 and folds[4] == 1 and folds[5] == 1, folds
by_k = {r.k: r.t for r in rows}
dtype = df.schema["t"].dataType

# dtype-less rendering must still refuse every datetime (the r9 posture)
assert render_sql_id(by_k[2]) is None

# ids include the naive-identical ambiguous pair (k=2 is 01:00 fold 0,
# k=4 is 01:00 fold 1) plus an unambiguous one — exact membership is the
# ground truth; Column.isin cannot even express the pair (it drops fold)
ids = [by_k[2], by_k[4], by_k[7]]
assert all(render_sql_id(i, dtype) is not None for i in ids)
got = sorted(r.k for r in df.filter(in_list("t", ids, dtype)).collect())
assert got == [2, 4, 7], got

# unambiguous ids: the rendered fast path and the isin fallback agree
plain = [by_k[0], by_k[9]]
fast = sorted(r.k for r in df.filter(in_list("t", plain, dtype)).collect())
slow = sorted(r.k for r in df.filter(df.t.isin(plain)).collect())
assert fast == slow == [0, 9], (fast, slow)

# TIMESTAMP_NTZ: wall clocks, tz-free on both sides, render verbatim
ndf = spark.sql(
    "select timestampadd(MINUTE, 30*id, timestamp_ntz'2024-11-03 00:00:00') as n,"
    "       cast(id as int) as k from range(12)"
)
nrows = ndf.collect()
nids = [r.n for r in nrows if r.k in (1, 6)]
ndtype = ndf.schema["n"].dataType
assert all(
    render_sql_id(i, ndtype).startswith("TIMESTAMP_NTZ '") for i in nids
)
ngot = sorted(r.k for r in ndf.filter(in_list("n", nids, ndtype)).collect())
assert ngot == [1, 6], ngot

spark.stop()
print("TZ_MEMBERSHIP_OK")
'''


_TZ_GENERIC_SCRIPT = r'''
import datetime
import os
import time

assert time.tzname[0] != "UTC", time.tzname

from tidb_large_table_compare_spark.functions.hashing import in_list, render_sql_id
from tidb_large_table_compare_spark.session import get_spark

spark = get_spark("tz-generic", shuffle_partitions=4)
spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")

# a 15-minute grid across the zone's DST fall-back window (start passed
# in UTC via env, zone-agnostic): ambiguous-hour twins sit 2 grid steps
# apart, and the k % 3 == 0 selection never picks both twins — so a
# rendering that loses fold matches the TWIN's row instead and the key
# set comes back wrong
start = os.environ["TZ_GRID_START_UTC"]
df = spark.sql(
    f"select timestampadd(MINUTE, 15*id, timestamp'{start}+00:00') as t,"
    f"       cast(id as int) as k from range(16)"
)
rows = df.collect()
assert any(r.t.fold == 1 for r in rows), rows  # the window IS ambiguous
dtype = df.schema["t"].dataType
ids = [r.t for r in rows if r.k % 3 == 0]
assert all(render_sql_id(i, dtype) is not None for i in ids)
got = sorted(r.k for r in df.filter(in_list("t", ids, dtype)).collect())
assert got == [k for k in range(16) if k % 3 == 0], got
spark.stop()
print("TZ_GENERIC_OK")
'''


def test_timestamp_inlist_membership_under_half_hour_dst_zone():
    """Zone-generic twin of the NY reproduction under a HALF-HOUR DST
    zone (Australia/Lord_Howe shifts 30 minutes): the rendering's
    OS-local→UTC inversion must hold for non-whole-hour offsets and
    folds too. Grid start 2024-04-06 13:00Z spans Lord Howe's 2024
    fall-back (02:00 LHDT → 01:30 LHST at 15:00Z)."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    env = dict(
        os.environ,
        TZ="Australia/Lord_Howe",
        TZ_GRID_START_UTC="2024-04-06 13:00:00",
    )
    env.pop("SPARK_GRAFT_CPUS", None)
    proc = subprocess.run(
        [sys.executable, "-c", _TZ_GENERIC_SCRIPT],
        capture_output=True,
        text=True,
        env=env,
        timeout=420,
        cwd=str(repo),
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "TZ_GENERIC_OK" in proc.stdout


def test_timestamp_inlist_membership_under_non_utc_tz():
    """The round-9 reproduction, now as the regression gate for the sound
    rendering: OS tz America/New_York, session tz Asia/Tokyo, ids spanning
    the DST fall-back's ambiguous hour — the dtype-declared fast path must
    select exactly the collected instants (fold-aware), where a zone-less
    literal silently picked session-tz rows. Subprocess because both the
    Python localtime and the driver JVM bind TZ at process start."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    env = dict(os.environ, TZ="America/New_York")
    env.pop("SPARK_GRAFT_CPUS", None)
    proc = subprocess.run(
        [sys.executable, "-c", _TZ_MEMBERSHIP_SCRIPT],
        capture_output=True,
        text=True,
        env=env,
        timeout=420,
        cwd=str(repo),
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "TZ_MEMBERSHIP_OK" in proc.stdout


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
