"""Golden + property tests for the compare engine (SURVEY.md §5).

Mirrors the reference's observable semantics: diff counts as reported in
summary.txt (step3_run_syncdiff.sh:216-228), the equivalence marker
(step3:204), and the structure flag (step3:204-209).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tidb_large_table_compare_spark.operators.compare import (
    CompareOptions,
    TableCompare,
    compare_tables,
)
from tidb_large_table_compare_spark.operators.fixsql import fix_sql
from tests.conftest import SF_SMALL, jobs_in_group
from tests.fixtures import (
    K_EXTRA,
    K_MISSING,
    K_MODIFIED,
    cmp_dupkeys_pair,
    cmp_master,
    cmp_slave,
    cmp_slave_schema_drift,
)


@pytest.fixture(scope="module")
def master(spark):
    return cmp_master(spark).cache()


@pytest.fixture(scope="module")
def slave(spark):
    return cmp_slave(spark).cache()


def _summary(spark, left, right, **opts):
    cmp = compare_tables(
        spark, left, right, pk=["pk"], options=CompareOptions(**opts), table_name="t"
    )
    return cmp.summary().collect()[0]


def test_golden_diff_counts(spark, master, slave):
    row = _summary(spark, master, slave, chunk_size=500)
    assert row.upcount == K_MISSING + K_MODIFIED  # 70
    assert row.downcount == K_EXTRA + K_MODIFIED  # 50
    assert row.structure_ok and not row.equivalent


def test_self_compare_equivalent(spark, master):
    row = _summary(spark, master, master)
    assert row.upcount == 0 and row.downcount == 0 and row.equivalent


def test_bucket_count_invariance(spark, master, slave):
    """chunk-size is a physical knob; results must not depend on it (B5)."""
    for chunk in (50, 5000, 1_000_000):
        row = _summary(spark, master, slave, chunk_size=chunk)
        assert (row.upcount, row.downcount) == (70, 50), f"chunk={chunk}"


def test_row_count_hint_sizes_buckets_without_any_job(spark, master, slave, monkeypatch):
    """Catalog-supplied stats (the reference's TABLE_ROWS read,
    step1_query_tables.sh:115-117) must size buckets with zero Spark jobs —
    even when the py4j plan-stats probe is unavailable (Spark Connect)."""
    opts = CompareOptions(row_count_hint=1_000_000)
    cmp = TableCompare(spark, master, slave, pk=["pk"], options=opts)

    def _no_jdf(self):
        raise RuntimeError("py4j internals unavailable (Connect-style session)")

    # patch the concrete DataFrame class (pyspark.sql.DataFrame is abstract in
    # Spark 4); a property is a data descriptor, so it shadows the instance attr
    impl = type(cmp.left)
    monkeypatch.setattr(impl, "_jdf", property(_no_jdf), raising=False)
    monkeypatch.setattr(
        impl,
        "count",
        lambda self: pytest.fail("count() sizing job ran despite row_count_hint"),
    )
    # 1e6 rows / 5000-row chunks (+1) — derived purely from the hint
    assert cmp._n_buckets() == 201


def test_row_order_invariance(spark, master, slave):
    """bit_xor/sum digests are commutative — shuffled input changes nothing."""
    reshuffled = slave.orderBy(F.xxhash64("pk", F.lit(97)))
    row = _summary(spark, master, reshuffled)
    assert (row.upcount, row.downcount) == (70, 50)


def test_diff_row_classification(spark, master, slave):
    cmp = compare_tables(spark, master, slave, pk=["pk"])
    by_type = {
        r["diff_type"]: r["n"]
        for r in cmp.diff_rows().groupBy("diff_type").agg(F.count("*").alias("n")).collect()
    }
    assert by_type == {
        "missing_in_right": K_MISSING,
        "extra_in_right": K_EXTRA,
        "modified": K_MODIFIED,
    }


def test_schema_drift_detected(spark, master):
    drift = cmp_slave_schema_drift(spark)
    cmp = compare_tables(spark, master, drift, pk=["pk"], table_name="drift")
    statuses = {
        r["column_name"]: r["status"]
        for r in cmp.schema_diff().collect()
    }
    assert statuses["int_col"] == "type_mismatch"
    assert statuses["bool_col"] == "missing_in_right"
    assert statuses["new_col"] == "extra_in_right"
    assert statuses["str_col"] == "reordered"
    assert not cmp.structure_ok()


def test_check_struct_only_short_circuits(spark, master):
    drift = cmp_slave_schema_drift(spark)
    row = _summary(spark, master, drift, check_struct_only=True)
    assert not row.structure_ok and not row.equivalent
    assert row.upcount == 0 and row.downcount == 0


def test_range_predicate_scopes_compare(spark, master, slave):
    """B4: the range WHERE clause restricts both sides before hashing."""
    full = _summary(spark, master, slave)
    half = _summary(spark, master, slave, range_sql="pk % 2 = 1")
    # missing (pk ≡ 7 mod 200) and modified (pk ≡ 11 mod 500) pks are all odd,
    # so upcount survives the odd-only scope; extras (10001..10030) are half
    # even, so downcount shrinks to modified + odd extras.
    assert half.upcount == full.upcount == K_MISSING + K_MODIFIED
    assert half.downcount == K_MODIFIED + K_EXTRA // 2 < full.downcount


def test_multiset_fallback_dupkeys(spark):
    m, s, up, down = cmp_dupkeys_pair(spark)
    cmp = compare_tables(spark, m, s, pk=None, table_name="dup")
    row = cmp.summary().collect()[0]
    assert (row.upcount, row.downcount) == (up, down)


def test_null_vs_empty_string_distinguished(spark):
    a = spark.createDataFrame([(1, None), (2, "")], "pk bigint, s string")
    b = spark.createDataFrame([(1, ""), (2, None)], "pk bigint, s string")
    row = _summary(spark, a, b)
    assert row.upcount == 2 and row.downcount == 2  # both rows modified


def test_negative_zero_equals_positive_zero(spark):
    a = spark.createDataFrame([(1, -0.0)], "pk bigint, d double")
    b = spark.createDataFrame([(1, 0.0)], "pk bigint, d double")
    row = _summary(spark, a, b)
    assert row.equivalent


def test_float_round_tolerance(spark):
    a = spark.createDataFrame([(1, 1.0000001)], "pk bigint, d double")
    b = spark.createDataFrame([(1, 1.0000002)], "pk bigint, d double")
    assert not _summary(spark, a, b).equivalent
    assert _summary(spark, a, b, float_round=6).equivalent


def test_column_drift_golden(spark, master, slave):
    """Every modified row in the golden pair perturbs exactly one column,
    and (pk step 500 ≡ 0 mod 5) always the same one — dbl_col."""
    cmp = compare_tables(
        spark, master, slave, pk=["pk"],
        options=CompareOptions(chunk_size=500), table_name="t",
    )
    counts = {r.column_name: r.mismatch_rows for r in cmp.column_drift().collect()}
    assert set(counts) == set(master.columns) - {"pk"}
    assert counts["dbl_col"] == K_MODIFIED
    assert sum(counts.values()) == K_MODIFIED


def test_column_drift_multi_column_null_and_canonical(spark):
    schema = "pk bigint, s string, d double"
    left = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 0.0), (4, "d", 4.0)], schema
    )
    right = spark.createDataFrame(
        [(1, "a", 1.0), (2, None, 2.5), (3, "c", -0.0), (4, "d", 4.0)], schema
    )
    cmp = compare_tables(spark, left, right, pk=["pk"], table_name="t")
    counts = {r.column_name: r.mismatch_rows for r in cmp.column_drift().collect()}
    # row 2 drifts in BOTH columns (the NULL flip is counted null-safely);
    # row 3's -0.0 is canonically equal to 0.0 — no drift, same verdict the
    # row digests give
    assert counts == {"s": 1, "d": 1}


def test_column_drift_float_round_matches_digest_tolerance(spark):
    a = spark.createDataFrame([(1, 1.0000001)], "pk bigint, d double")
    b = spark.createDataFrame([(1, 1.0000002)], "pk bigint, d double")
    strict = compare_tables(spark, a, b, pk=["pk"], table_name="t")
    assert {r.column_name: r.mismatch_rows for r in strict.column_drift().collect()} == {"d": 1}
    tol = compare_tables(
        spark, a, b, pk=["pk"],
        options=CompareOptions(float_round=6), table_name="t",
    )
    assert {r.column_name: r.mismatch_rows for r in tol.column_drift().collect()} == {"d": 0}


def test_column_drift_equal_tables_all_zero(spark, master):
    cmp = compare_tables(spark, master, master, pk=["pk"], table_name="t")
    counts = {r.column_name: r.mismatch_rows for r in cmp.column_drift().collect()}
    assert set(counts.values()) == {0}


def test_column_drift_requires_pk(spark, master, slave):
    cmp = compare_tables(spark, master, slave, pk=None, table_name="t")
    with pytest.raises(ValueError, match="primary key"):
        cmp.column_drift()


@pytest.mark.parametrize(
    "kind, n_buckets, partitions, n_drift",
    [
        ("bitset", 4096, None, 6),
        ("bitset", 4096, 2, 6),
        ("skip", 8, None, 40),
        ("empty", 8, None, 0),
    ],
)
def test_column_drift_counts_match_construction_in_every_scope(
    spark, kind, n_buckets, partitions, n_drift
):
    """column_drift's per-column counts equal the counts known by
    construction in every scope kind, both standalone and after the
    summary filled the diff (the bucket restriction either way), and
    whether or not the inputs were first hash-repartitioned on the pk
    into ``partitions`` partitions. Every slave row rewrites 0.0 to -0.0
    (top level and inside a reordered map): no drift. Keys 1..n_drift
    drift s (pk % 3 == 0), d and m (pk % 3 == 1), or s and the dotted
    column x.y (pk % 3 == 2); k never drifts."""
    schema = (
        "pk bigint, s string, d double, m map<string, double>, `x.y` int, "
        "k string"
    )
    master_rows = [
        (pk, f"s{pk}", 0.0 if pk % 4 == 0 else pk * 0.25,
         {"a": float(pk), "z": 0.0}, pk, "same")
        for pk in range(1, 201)
    ]
    slave_rows = []
    for pk, s, d, m, xy, k in master_rows:
        d = -0.0 if d == 0.0 else d
        m = {"z": -0.0, "a": m["a"]}
        if pk <= n_drift:
            if pk % 3 == 1:
                d, m["a"] = d + 1.0, m["a"] + 0.5
            else:
                s = s + "_x"
            if pk % 3 == 2:
                xy += 1
        slave_rows.append((pk, s, d, m, xy, k))
    left = spark.createDataFrame(master_rows, schema)
    right = spark.createDataFrame(slave_rows, schema)
    if partitions is not None:
        left = left.repartition(partitions, "pk")
        right = right.repartition(partitions, "pk")
    drifted = range(1, n_drift + 1)
    by_rem = [sum(1 for pk in drifted if pk % 3 == r) for r in range(3)]
    want = {
        "s": by_rem[0] + by_rem[2],
        "d": by_rem[1],
        "m": by_rem[1],
        "x.y": by_rem[2],
        "k": 0,
    }

    def counts(cmp):
        return {r.column_name: r.mismatch_rows for r in cmp.column_drift().collect()}

    cmp = compare_tables(
        spark, left, right, pk=["pk"],
        options=CompareOptions(n_buckets=n_buckets), table_name="t",
    )
    try:
        assert cmp.scope().kind == kind
        assert counts(cmp) == want
        row = cmp.summary().collect()[0]
        assert (row.upcount, row.downcount) == (n_drift, n_drift)
        assert counts(cmp) == want
    finally:
        cmp.close()


def test_fix_sql_statements(spark, master, slave):
    cmp = compare_tables(spark, master, slave, pk=["pk"], table_name="db.t")
    stmts = [r["fix_sql"] for r in fix_sql(cmp).collect()]
    replaces = [s for s in stmts if s.startswith("REPLACE INTO db.t")]
    deletes = [s for s in stmts if s.startswith("DELETE FROM db.t")]
    assert len(replaces) == K_MISSING + K_MODIFIED
    assert len(deletes) == K_EXTRA
    assert all(s.endswith(";") for s in stmts)
    # NULL handling and quote escaping are literal-rendered, not "None"
    assert not any("None" in s for s in stmts)


def test_keyed_compare_with_pk_named_n(spark):
    """A PK column literally named 'n' must not be summed as multiset
    weights: keyed diffs count one per differing row."""
    a = spark.createDataFrame([(100, "x"), (200, "y")], "n bigint, s string")
    b = spark.createDataFrame([(100, "x"), (200, "CHANGED")], "n bigint, s string")
    row = compare_tables(spark, a, b, pk=["n"], table_name="t").summary().collect()[0]
    assert (row.upcount, row.downcount) == (1, 1)


def test_float_round_applies_inside_arrays(spark):
    a = spark.createDataFrame([(1, [1.0000001, -0.0])], "pk bigint, v array<double>")
    b = spark.createDataFrame([(1, [1.0000002, 0.0])], "pk bigint, v array<double>")
    assert not _summary(spark, a, b).equivalent
    assert _summary(spark, a, b, float_round=6).equivalent


def test_nested_struct_doubles_canonicalized(spark):
    a = spark.createDataFrame(
        [(1, (-0.0, 7))], "pk bigint, v struct<d: double, i: int>"
    )
    b = spark.createDataFrame(
        [(1, (0.0, 7))], "pk bigint, v struct<d: double, i: int>"
    )
    assert _summary(spark, a, b).equivalent
    c = spark.createDataFrame(
        [(1, (0.25, 7))], "pk bigint, v struct<d: double, i: int>"
    )
    assert not _summary(spark, a, c).equivalent


def test_nested_struct_null_field_patterns_distinguished(spark):
    a = spark.createDataFrame(
        [(1, (None, "a"))], "pk bigint, v struct<x: string, y: string>"
    )
    b = spark.createDataFrame(
        [(1, ("a", None))], "pk bigint, v struct<x: string, y: string>"
    )
    assert not _summary(spark, a, b).equivalent


def test_map_double_values_canonicalized(spark):
    a = spark.createDataFrame([(1, {"k": -0.0})], "pk bigint, m map<string, double>")
    b = spark.createDataFrame([(1, {"k": 0.0})], "pk bigint, m map<string, double>")
    assert _summary(spark, a, b).equivalent


def test_reconcile_repairs_drifted_side(spark):
    """compare → apply_fixes → re-compare must reach equivalence, and the
    repaired side must equal the master as an exact multiset."""
    from tidb_large_table_compare_spark.operators.compare import compare_tables
    from tidb_large_table_compare_spark.operators.reconcile import apply_fixes
    from tidb_large_table_compare_spark.perturb import perturbed_orders
    from tidb_large_table_compare_spark.sources.tables import load_table

    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    slave = perturbed_orders(orders)
    tc = compare_tables(spark, orders, slave, ["o_orderkey"], table_name="o")
    assert not tc.summary().collect()[0].equivalent  # drift present

    repaired = apply_fixes(orders, slave, ["o_orderkey"], tc.diff_rows())
    verdict = compare_tables(
        spark, orders, repaired, ["o_orderkey"], table_name="o"
    ).summary().collect()[0]
    assert verdict.equivalent and verdict.upcount == 0 and verdict.downcount == 0
    # exact multiset equality, independent of the compare operator
    assert repaired.exceptAll(orders).count() == 0
    assert orders.exceptAll(repaired).count() == 0


def test_repair_consumers_share_one_materialized_diff(spark, monkeypatch):
    """Every bucket drifted, so restriction is skipped: the summary,
    fix-SQL export and apply_fixes all read the one persisted keyed diff,
    so the drill-down runs once for the three of them. A probe counts the
    signed rows each drill-down execution emits. Outputs are what the diff
    defines: one REPLACE per missing/modified row, one DELETE per extra
    row, and a repaired side equal to the master."""
    import tidb_large_table_compare_spark.operators.compare as compare_mod
    from tidb_large_table_compare_spark.operators.reconcile import apply_fixes
    from tidb_large_table_compare_spark.perturb import perturbed_orders
    from tidb_large_table_compare_spark.sources.tables import load_table

    emitted = spark.sparkContext.accumulator(0)

    def count(_):
        emitted.add(1)
        return True

    probe = F.udf(count, "boolean")
    real = compare_mod.signed_rows

    def probed(left, right, keys):
        return real(left, right, keys).filter(probe(F.col("__d")))

    monkeypatch.setattr(compare_mod, "signed_rows", probed)
    orders = load_table(spark, SF_SMALL, "orders")
    slave = perturbed_orders(orders)
    tc = compare_tables(
        spark, orders, slave, ["o_orderkey"],
        options=CompareOptions(n_buckets=4), table_name="o",
    )
    scope = tc.scope()
    assert scope.kind == "skip"  # restriction skipped

    assert not tc.summary().collect()[0].equivalent
    once = emitted.value
    assert once > 0
    stmts = [r.fix_sql for r in fix_sql(tc).collect()]
    repaired = apply_fixes(orders, slave, ["o_orderkey"], tc.diff_rows())
    assert repaired.exceptAll(orders).count() == 0
    assert orders.exceptAll(repaired).count() == 0
    assert emitted.value == once

    kinds = {
        r.diff_type: r["count"]
        for r in tc.diff_rows().groupBy("diff_type").count().collect()
    }
    assert sum(s.startswith("REPLACE INTO o ") for s in stmts) == (
        kinds.get("missing_in_right", 0) + kinds.get("modified", 0)
    )
    assert sum(s.startswith("DELETE FROM o ") for s in stmts) == kinds.get(
        "extra_in_right", 0
    )
    assert len(stmts) == sum(kinds.values()) > 0
    tc.close()


def test_verify_repair_scoped_catches_broken_repair(spark):
    """verify_repair re-checks the ACTUAL repaired frame (not the patch
    algebra): a repair that silently skips part of the diff must come back
    non-equivalent, with the residual up/downcounts derived."""
    import pytest

    from tidb_large_table_compare_spark.operators.compare import (
        CompareOptions,
        compare_tables,
    )
    from tidb_large_table_compare_spark.operators.reconcile import (
        apply_fixes,
        verify_repair,
    )
    from tidb_large_table_compare_spark.perturb import perturbed_orders
    from tidb_large_table_compare_spark.sources.tables import load_table

    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    slave = perturbed_orders(orders)
    # pin a bucket count far above the drift so the scope is a bitset
    # (at the default 32 buckets this perturbation drifts most of them,
    # the scope is skip and verify_repair re-compares in full — also a
    # valid path, but not the one under test here)
    tc = compare_tables(
        spark, orders, slave, ["o_orderkey"],
        CompareOptions(n_buckets=4096), table_name="o",
    )
    scope = tc.scope()
    assert scope.kind == "bitset" and scope.n_bad <= 0.25 * scope.n_buckets

    # a "repair" built from only half the diff: modified rows never patched
    partial_diff = tc.diff_rows().filter("diff_type != 'modified'")
    broken = apply_fixes(orders, slave, ["o_orderkey"], partial_diff)
    bad = verify_repair(tc, broken).collect()[0]
    full = compare_tables(
        spark, orders, broken, ["o_orderkey"], table_name="o"
    ).summary().collect()[0]
    assert not bad.equivalent
    assert (bad.upcount, bad.downcount) == (full.upcount, full.downcount)
    assert bad.upcount > 0  # the skipped modifications are the residue

    # good repair: scoped verdict equivalent, matching the unscoped one
    repaired = apply_fixes(orders, slave, ["o_orderkey"], tc.diff_rows())
    assert verify_repair(tc, repaired).collect()[0].equivalent

    # bucket scoping is PK-determined, so multiset compares must refuse
    tc_ms = compare_tables(
        spark, orders, slave, ["o_orderkey"],
        CompareOptions(force_multiset=True), table_name="o",
    )
    with pytest.raises(ValueError, match="keyed"):
        verify_repair(tc_ms, repaired)


def test_verify_repair_releases_its_inner_compare(spark):
    """A non-equivalent repair leaves the scoped re-verify's bitset diff
    persisted; verify_repair must release it, since no caller can reach
    the compare it builds internally."""
    from tidb_large_table_compare_spark.operators.reconcile import (
        apply_fixes,
        verify_repair,
    )
    from tidb_large_table_compare_spark.perturb import perturbed_orders
    from tidb_large_table_compare_spark.sources.tables import load_table

    orders = load_table(spark, SF_SMALL, "orders")
    slave = perturbed_orders(orders)
    tc = compare_tables(
        spark, orders, slave, ["o_orderkey"],
        CompareOptions(n_buckets=4096), table_name="o",
    )
    tc.summary().collect()  # tc's own persisted diff exists before the count
    half = tc.diff_rows().filter("diff_type != 'modified'")
    broken = apply_fixes(orders, slave, ["o_orderkey"], half)
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = persisted().size()
    verdict = verify_repair(tc, broken).collect()[0]
    assert not verdict.equivalent and verdict.upcount > 0
    assert persisted().size() == before
    tc.close()


def test_bucket_scope_decision_lives_in_compare():
    """The restriction regime is chosen in one place: the skip fraction
    and BucketScope construction appear in no other package module, so no
    consumer re-derives the decision (verify_repair holds no fraction gate
    of its own). The drill-down reads rows through that scope alone: no
    package module holds a pk-IN pushdown."""
    from pathlib import Path

    import tidb_large_table_compare_spark as pkg

    root = Path(pkg.__file__).resolve().parent
    names = (
        "_RESTRICT_SKIP_FRACTION",
        "BucketScope(",
        "_bad_bucket_state",
        "_restrict_to_bad_buckets",
    )
    hits = [
        f"{path.relative_to(root)}:{n}: {name}"
        for path in sorted(root.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        for name in names
        if name in line
    ]
    assert hits and all(h.startswith("operators/compare.py:") for h in hits), hits
    gone = ("pk_pushdown", "_bounded_pushdown_keys", "_MAX_INLIST", "_SCOPE_FRACTION")
    stale = [
        f"{path.relative_to(root)}:{n}: {name}"
        for path in sorted(root.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        for name in gone
        if name in line
    ]
    assert not stale, stale


def test_digest_aggregation_lives_in_compare():
    """The (cnt, xor, sum) digest triple is aggregated in one place: the
    bit_xor aggregate and the decimal(38,0) digest sum appear in no other
    package module, and incremental.py neither joins against a stored
    artifact nor self-compares a frame to reach its digest."""
    from pathlib import Path

    import tidb_large_table_compare_spark as pkg

    root = Path(pkg.__file__).resolve().parent
    names = ("bit_xor(", 'cast("decimal(38,0)")')
    hits = [
        f"{path.relative_to(root)}:{n}: {name}"
        for path in sorted(root.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        for name in names
        if name in line
    ]
    assert hits and all(h.startswith("operators/compare.py:") for h in hits), hits
    incremental = (root / "operators" / "incremental.py").read_text()
    assert ".join(" not in incremental and "TableCompare(" not in incremental


def test_canonical_form_has_one_definition():
    """The hash-stable canonical form is written once: every string
    literal in the package that renders ``DECIMAL(38`` or ``0.0D`` sits
    inside ``hashing._canonical_sql`` (comments and docstrings aside), and
    neither hashing.py nor compare.py hashes through ``F.xxhash64``."""
    import ast
    import inspect
    from pathlib import Path

    import tidb_large_table_compare_spark as pkg
    from tidb_large_table_compare_spark.functions import hashing

    root = Path(pkg.__file__).resolve().parent
    lines, start = inspect.getsourcelines(hashing._canonical_sql)
    inside = range(start, start + len(lines))
    hits = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text())
        docstrings = {
            id(n.value) for n in ast.walk(tree)
            if isinstance(n, ast.Expr) and isinstance(n.value, ast.Constant)
        }
        hits += [
            (path.relative_to(root).as_posix(), node.lineno)
            for node in ast.walk(tree)
            if isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and id(node) not in docstrings
            and ("DECIMAL(38" in node.value or "0.0D" in node.value)
        ]
    assert hits and all(
        p == "functions/hashing.py" and n in inside for p, n in hits
    ), hits
    for mod in ("functions/hashing.py", "operators/compare.py"):
        assert "F.xxhash64(" not in (root / mod).read_text(), mod


def test_row_pairing_is_one_signed_aggregation():
    """The keyed and multiset drill-downs pair rows through the one
    ``signed_rows`` aggregation: compare.py holds no full-outer join, and
    neither diff path joins at all."""
    import inspect
    from pathlib import Path

    from tidb_large_table_compare_spark.operators import compare as compare_mod

    assert '"full_outer"' not in Path(compare_mod.__file__).read_text()
    for path in (TableCompare.diff_rows, TableCompare._diff_rows_multiset):
        src = inspect.getsource(path)
        assert "signed_rows(" in src and ".join(" not in src, path.__name__


# a unique-key pair plus one unchanged NULL-key row and one duplicate key
# whose two rows are identical on both sides: no scope may report either
_REGIME_SCHEMA = "pk bigint, v bigint"
_REGIME_BASE = [(k, k * 10) for k in range(200)] + [
    (None, 42),
    (500, 1),
    (500, 2),
]
_REGIME_MISSING = [3, 17, 45, 88, 120, 151]
_REGIME_MODIFIED = [9, 33, 64, 101, 140, 199]
_REGIME_EXTRA = [1000, 1001, 1002, 1003]


def _regime_right(base):
    return [
        (k, v + 1 if k in _REGIME_MODIFIED else v)
        for k, v in base
        if k not in _REGIME_MISSING
    ] + [(k, 7) for k in _REGIME_EXTRA]


def _regime_verdict(spark, left_rows, right_rows, nb, table="t"):
    cmp = compare_tables(
        spark,
        spark.createDataFrame(left_rows, _REGIME_SCHEMA),
        spark.createDataFrame(right_rows, _REGIME_SCHEMA),
        ["pk"],
        CompareOptions(n_buckets=nb),
        table,
    )
    try:
        kind = cmp.scope().kind
        s = cmp.summary().collect()[0]
        rows = sorted(
            (str(r.pk), r.diff_type) for r in cmp.diff_rows().collect()
        )
        return kind, (s.upcount, s.downcount, s.equivalent), rows
    finally:
        cmp.close()


def test_null_and_duplicate_key_verdict_is_scope_independent(spark):
    """Identical NULL-key and duplicate-key rows cancel before any pairing,
    so whether their bucket is drilled (skip scope) or not (bitset) cannot
    change the verdict: every scope kind reports exactly the seeded
    drift."""
    truth_rows = sorted(
        [(str(k), "missing_in_right") for k in _REGIME_MISSING]
        + [(str(k), "modified") for k in _REGIME_MODIFIED]
        + [(str(k), "extra_in_right") for k in _REGIME_EXTRA]
    )
    truth = (
        (len(_REGIME_MISSING) + len(_REGIME_MODIFIED),
         len(_REGIME_EXTRA) + len(_REGIME_MODIFIED), False),
        truth_rows,
    )
    right = _regime_right(_REGIME_BASE)
    for nb, kind in ((4096, "bitset"), (8, "skip")):
        got = _regime_verdict(spark, _REGIME_BASE, right, nb)
        assert got == (kind, *truth), (nb, got)
    got = _regime_verdict(spark, _REGIME_BASE, list(_REGIME_BASE), 8)
    assert got == ("empty", (0, 0, True), [])


def test_keyed_diff_is_persisted_once_per_drilled_scope(spark):
    """In the bitset and skip scopes the keyed
    diff is one persisted frame that every consumer shares; an empty
    scope's diff stays lazy.
    All derived state lives in the compare's one memo, and close() leaves
    no persistent RDD behind."""
    from pyspark import StorageLevel

    from tidb_large_table_compare_spark.operators.reconcile import apply_fixes

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    right = _regime_right(_REGIME_BASE)
    cases = ((4096, right, "bitset"), (8, right, "skip"),
             (8, list(_REGIME_BASE), "empty"))
    for nb, right_rows, kind in cases:
        before = persisted()
        ldf = spark.createDataFrame(_REGIME_BASE, _REGIME_SCHEMA)
        rdf = spark.createDataFrame(right_rows, _REGIME_SCHEMA)
        cmp = compare_tables(
            spark, ldf, rdf, ["pk"], CompareOptions(n_buckets=nb), "t"
        )
        fields = set(vars(cmp))
        cmp.summary().collect()
        fix_sql(cmp).collect()
        cmp.column_drift().collect()
        apply_fixes(ldf, rdf, ["pk"], cmp.diff_rows()).collect()
        diff = cmp.diff_rows()
        assert cmp.scope().kind == kind
        assert (diff.storageLevel != StorageLevel.NONE) == (kind != "empty"), kind
        assert set(vars(cmp)) == fields
        cmp.close()
        assert persisted() - before == set(), kind


def test_bucket_scope_is_one_action_in_every_kind(spark):
    """bucket_scope collects the mismatched-bucket set once and picks the
    kind from it: in the empty, bitset and skip kinds the scope runs the
    jobs of one action over the digest, with no second pass to count or
    persist the set. A bitset restriction is one Filter, with no join."""
    right = _regime_right(_REGIME_BASE)
    cases = ((4096, right, "bitset"), (8, right, "skip"),
             (8, list(_REGIME_BASE), "empty"))
    for nb, right_rows, kind in cases:

        def build():
            return compare_tables(
                spark,
                spark.createDataFrame(_REGIME_BASE, _REGIME_SCHEMA),
                spark.createDataFrame(right_rows, _REGIME_SCHEMA),
                ["pk"],
                CompareOptions(n_buckets=nb),
                "t",
            )

        one_action = jobs_in_group(spark, build().mismatched_buckets().toArrow)
        cmp = build()
        assert jobs_in_group(spark, cmp.scope) == one_action, kind
        scope = cmp.scope()
        assert scope.kind == kind
        if kind == "bitset":
            plan = scope.restrict(cmp.left, cmp.pk)._jdf
            plan = plan.queryExecution().optimizedPlan().toString()
            assert plan.count("Filter ") == 1 and "LeftSemi" not in plan, plan


@pytest.mark.parametrize("n_buckets", [32, 100, 4096, 1 << 20])
def test_bitset_restrict_is_set_membership(spark, n_buckets):
    """restrict keeps exactly the bad buckets: the word edges (0, 63, 64,
    the last bucket, a last word cut short when 64 does not divide
    ``n_buckets``), a lone bit 63 (its word is Long.MIN_VALUE) and a
    random spread."""
    import random

    from tidb_large_table_compare_spark.functions.localframe import local_frame
    from tidb_large_table_compare_spark.operators.compare import bucket_scope

    edges = {b for b in (0, 63, 64, n_buckets - 1) if b < n_buckets}
    spread = set(random.Random(n_buckets).sample(range(n_buckets), n_buckets // 8))
    buckets = spark.range(n_buckets).withColumnRenamed("id", "__bucket")
    for bad in (edges, {min(63, n_buckets - 1)}, spread | edges):
        scope = bucket_scope(
            local_frame(spark, [(b,) for b in bad], "__bucket bigint"), n_buckets
        )
        assert (scope.kind, scope.n_bad) == ("bitset", len(bad))
        got = {r["__bucket"] for r in scope.restrict(buckets).collect()}
        assert got == bad, sorted(got ^ bad)[:10]


def test_bitset_literal_is_folded_in_the_plan(spark):
    """The bitset reaches the optimized plan as one folded array literal:
    no per-row JSON parse and no join, over a parquet scan that computes
    the bucket from the key."""
    from tidb_large_table_compare_spark.functions.localframe import local_frame
    from tidb_large_table_compare_spark.operators.compare import bucket_scope

    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    bad = local_frame(spark, [(63,), (70,), (4000,)], "__bucket bigint")
    restricted = bucket_scope(bad, 4096).restrict(orders, ["o_orderkey"])
    plan = restricted._jdf.queryExecution().optimizedPlan().toString()
    assert "getbit(element_at([" in plan, plan
    assert "-9223372036854775808" in plan  # bucket 63: the lone high bit
    for token in ("from_json", "JsonToStructs", "LeftSemi", "Join"):
        assert token.lower() not in plan.lower(), token


def test_bucket_scope_is_one_literal_filter():
    """The scope restricts through its bitset alone: compare.py holds no
    semi-join and no bucket IN-list, and the scope builds no local frame."""
    import inspect
    from pathlib import Path

    from tidb_large_table_compare_spark.operators import compare as compare_mod

    text = Path(compare_mod.__file__).read_text()
    assert "left_semi" not in text and 'in_list("__bucket"' not in text
    for part in (compare_mod.BucketScope, compare_mod.bucket_scope):
        assert "local_frame" not in inspect.getsource(part), part.__name__


def test_fix_sql_repair_round_trip_in_every_kind(spark):
    """In every scope kind (empty, bitset, skip) fix-SQL names every
    differing key once, and the right side
    repaired with the compare's diff compares equivalent to the left on a
    full, unscoped compare."""
    from tidb_large_table_compare_spark.operators.reconcile import apply_fixes

    base = _REGIME_BASE[:200]
    right = _regime_right(base)
    cases = ((8, list(base), "empty"), (4096, right, "bitset"), (8, right, "skip"))
    for nb, right_rows, kind in cases:
        ldf = spark.createDataFrame(base, _REGIME_SCHEMA)
        rdf = spark.createDataFrame(right_rows, _REGIME_SCHEMA)
        cmp = compare_tables(spark, ldf, rdf, ["pk"], CompareOptions(n_buckets=nb), "t")
        assert cmp.scope().kind == kind
        stmts = [r.fix_sql for r in fix_sql(cmp).collect()]
        n_replace = sum(s.startswith("REPLACE INTO t ") for s in stmts)
        n_delete = sum(s.startswith("DELETE FROM t ") for s in stmts)
        drifted = bool(right_rows != base)
        assert n_replace == drifted * (len(_REGIME_MISSING) + len(_REGIME_MODIFIED))
        assert n_delete == drifted * len(_REGIME_EXTRA)
        repaired = apply_fixes(ldf, rdf, ["pk"], cmp.diff_rows())
        full = compare_tables(spark, ldf, repaired, ["pk"], CompareOptions(), "t")
        row = full.summary().collect()[0]
        assert (row.upcount, row.downcount, row.equivalent) == (0, 0, True), kind
        full.close()
        cmp.close()


def test_compare_persists_only_the_keyed_diff():
    """The keyed diff is the one frame compare.py persists: no scope kind
    holds executor state, so TableCompare has no builder-held frames."""
    import inspect
    from pathlib import Path

    from tidb_large_table_compare_spark.operators import compare as compare_mod

    text = Path(compare_mod.__file__).read_text()
    assert text.count(".persist(") == 1
    assert ".persist(" in inspect.getsource(TableCompare.diff_rows)
    assert ".held" not in text


def test_drifted_duplicate_key_raises_naming_the_table(spark):
    """A duplicate key whose rows drifted cannot be paired by key: in every
    drilled scope the keyed compare raises an error that names the table
    and points to multiset mode, and run_jobs records it as that table's
    cause. Multiset mode compares the same pair."""
    from tidb_large_table_compare_spark.plans.pipeline import CompareJob, run_jobs

    left = _REGIME_BASE + [(600, 1), (600, 2)]
    right = _regime_right(_REGIME_BASE) + [(600, 3), (600, 4)]
    refusal = r"db\.dupkeys: duplicate primary key \(600\)"
    for nb in (4096, 8):
        with pytest.raises(Exception, match=refusal):
            _regime_verdict(spark, left, right, nb, "db.dupkeys")

    ldf = spark.createDataFrame(left, _REGIME_SCHEMA)
    rdf = spark.createDataFrame(right, _REGIME_SCHEMA)
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = persisted().size()
    run = run_jobs(spark, [CompareJob("db.dupkeys", ldf, rdf, ["pk"])], parallelism=1)
    assert run.exit_code == 1 and not run.compares
    assert persisted().size() == before  # the failed compare was closed
    cause = run.failures["db.dupkeys"]
    assert "db.dupkeys: duplicate primary key (600)" in cause, cause
    assert "multiset" in cause, cause

    s = compare_tables(spark, ldf, rdf, None, table_name="db.dupkeys").summary()
    row = s.collect()[0]
    n_up = len(_REGIME_MISSING) + len(_REGIME_MODIFIED) + 2
    n_down = len(_REGIME_EXTRA) + len(_REGIME_MODIFIED) + 2
    assert (row.upcount, row.downcount) == (n_up, n_down)


def test_fk_orphans_null_and_composite_semantics(spark):
    from tidb_large_table_compare_spark.operators.integrity import (
        fk_orphans,
        integrity_audit,
    )

    child = spark.createDataFrame(
        [
            (1, 10, "a"),   # matched
            (2, 20, "b"),   # orphan (no parent 2/20)
            (3, None, "c"),  # partial-NULL FK: not a violation (MATCH SIMPLE)
            (None, None, "d"),  # all-NULL FK: not a violation
            (1, 10, "e"),   # matched duplicate — counted per child row
        ],
        "k1 bigint, k2 bigint, payload string",
    )
    parent = spark.createDataFrame(
        [(1, 10), (1, 10), (9, 90)], "p1 bigint, p2 bigint"  # dup parent keys OK
    )
    row = fk_orphans(child, ["k1", "k2"], parent, ["p1", "p2"], "c->p").collect()[0]
    assert (row.relationship, row.child_rows, row.null_fk_rows, row.orphan_rows) == (
        "c->p", 5, 2, 1
    )

    audit = integrity_audit(
        [
            (child, ["k1", "k2"], parent, ["p1", "p2"], "c->p"),
            (parent, ["p1"], child, ["k1"], "p.p1->c.k1"),  # 9 has no child k1
        ]
    )
    rows = {r.relationship: r for r in audit.collect()}
    assert rows["p.p1->c.k1"].orphan_rows == 1
    assert rows["p.p1->c.k1"].child_rows == 3

    with pytest.raises(ValueError, match="arity"):
        fk_orphans(child, ["k1"], parent, ["p1", "p2"], "bad")


def test_column_drift_wide_drift_bitset_scope(spark, master, slave):
    """When many buckets drift, column_drift and diff_rows share one
    bitset scope (collected once via TableCompare.scope) and the counts
    match an unrestricted (skip-scope) run."""

    def drift(n_buckets):
        cmp = compare_tables(
            spark, master, slave, pk=["pk"],
            options=CompareOptions(n_buckets=n_buckets), table_name="t",
        )
        return cmp, {r.column_name: r.mismatch_rows for r in cmp.column_drift().collect()}

    skip_cmp, unrestricted = drift(8)
    assert skip_cmp.scope().kind == "skip"
    # n_buckets pinned well above the ~100 drifted keys: the bad set is
    # wide yet stays under the restriction-skip fraction
    cmp, wide = drift(512)
    assert wide == unrestricted
    # both consumers reuse the same materialized state object
    state = cmp.scope()
    assert state.kind == "bitset" and state.n_bad > 2
    assert cmp.diff_rows().count() == K_MISSING + K_EXTRA + K_MODIFIED
    assert cmp.scope() is state


def test_verify_repair_scoped_via_bitset(spark):
    """A bad-bucket set of many buckets restricts through its bitset; a
    small FRACTION must still take the scoped path and produce the
    full-table verdict (lake-scale bucket counts can be large while drift
    stays in-regime)."""
    from tidb_large_table_compare_spark.operators.reconcile import (
        apply_fixes,
        verify_repair,
    )
    from tidb_large_table_compare_spark.perturb import perturbed_orders
    from tidb_large_table_compare_spark.sources.tables import load_table

    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    slave = perturbed_orders(orders)
    tc = compare_tables(
        spark, orders, slave, ["o_orderkey"],
        CompareOptions(n_buckets=4096), table_name="o",
    )
    scope = tc.scope()
    assert scope.kind == "bitset" and scope.n_bad > 2
    assert scope.n_bad <= 0.25 * scope.n_buckets  # but in-regime

    repaired = apply_fixes(orders, slave, ["o_orderkey"], tc.diff_rows())
    verdict = verify_repair(tc, repaired).collect()[0]
    assert verdict.equivalent and (verdict.upcount, verdict.downcount) == (0, 0)


def test_heavy_drift_skips_bucket_restriction(spark, master, slave):
    """When drift marks more than half the buckets, restriction is dropped
    outright — no bitset filter — and the diff is still exact (clean rows
    hash-equal and cancel in the row pairing)."""
    cmp = compare_tables(
        spark, master, slave, pk=["pk"],
        options=CompareOptions(chunk_size=500), table_name="t",
    )
    assert cmp.scope().kind == "skip"  # the deliberate no-op form
    counts = dict(
        (r.diff_type, r["count"])
        for r in cmp.diff_rows().groupBy("diff_type").count().collect()
    )
    assert counts == {
        "missing_in_right": K_MISSING,
        "extra_in_right": K_EXTRA,
        "modified": K_MODIFIED,
    }


def test_column_drift_refuses_multiset_mode(spark, master, slave):
    cmp = compare_tables(
        spark, master, slave, pk=["pk"],
        options=CompareOptions(force_multiset=True), table_name="t",
    )
    with pytest.raises(ValueError, match="unique primary key"):
        cmp.column_drift()


def test_compare_tolerates_int_vs_bigint_pk(spark):
    """The benign integral widening row_hash canonicalizes must hold for
    BUCKETING too: an INT pk on one side and BIGINT on the other hashed
    raw put identical rows in different buckets (xxhash64 hashes the
    binary width), flagging every bucket bad and degenerating the
    drill-down to a full scan."""
    rows = [(i, f"v{i}") for i in range(200)]
    left = spark.createDataFrame(rows, "pk int, s string")
    right = spark.createDataFrame(rows, "pk bigint, s string")
    cmp = compare_tables(
        spark, left, right, pk=["pk"],
        options=CompareOptions(n_buckets=64), table_name="t",
    )
    assert cmp.mismatched_buckets().count() == 0
    assert cmp.diff_rows().count() == 0
    row = cmp.summary().collect()[0]
    # structure diff still REPORTS the type change (B1) — only the data
    # verdict tolerates the widening
    assert row.upcount == 0 and row.downcount == 0
    assert not row.structure_ok


def test_compare_tolerates_decimal_precision_widening(spark):
    """Decimal twin of the int/bigint tolerance: equal values must digest
    (and bucket) equally across benign PRECISION widening — including
    across the long/bytes physical boundary at precision 19, which is
    exactly how TiDB's unsigned BIGINT arrives over JDBC
    (DECIMAL(20,0)). A SCALE mismatch stays a reported type change."""
    from decimal import Decimal

    rows = [(Decimal(i), Decimal(i) / 4) for i in range(200)]
    left = spark.createDataFrame(rows, "pk decimal(18,0), v decimal(10,2)")
    right = spark.createDataFrame(rows, "pk decimal(20,0), v decimal(24,2)")
    cmp = compare_tables(
        spark, left, right, pk=["pk"],
        options=CompareOptions(n_buckets=64), table_name="t",
    )
    assert cmp.mismatched_buckets().count() == 0
    assert cmp.diff_rows().count() == 0
    row = cmp.summary().collect()[0]
    assert row.upcount == 0 and row.downcount == 0
    assert not row.structure_ok  # the widening is still reported (B1)


def test_row_hash_widens_nested_numerics(spark):
    """The widening chain must hold INSIDE containers too: array/map/
    struct elements canonicalize recursively, so int vs bigint vs
    DECIMAL(20,0) element types digest equal values equally — without
    the recursion, a nested-typed column pair would false-drift every
    row while the top-level pins stayed green."""
    from decimal import Decimal

    from tidb_large_table_compare_spark.functions.hashing import row_hash

    def h(df):
        return df.select(row_hash(df)).collect()[0][0]

    a_int = spark.createDataFrame([([1, 2, None],)], "a array<int>")
    a_big = spark.createDataFrame([([1, 2, None],)], "a array<bigint>")
    a_dec = spark.createDataFrame(
        [([Decimal(1), Decimal(2), None],)], "a array<decimal(20,0)>"
    )
    assert h(a_int) == h(a_big) == h(a_dec)

    m_int = spark.createDataFrame([({"x": 5},)], "m map<string,int>")
    m_dec = spark.createDataFrame(
        [({"x": Decimal(5)},)], "m map<string,decimal(20,0)>"
    )
    assert h(m_int) == h(m_dec)

    s_int = spark.createDataFrame([((7, "z"),)], "s struct<n:int,t:string>")
    s_dec = spark.createDataFrame(
        [((Decimal(7), "z"),)], "s struct<n:decimal(20,0),t:string>"
    )
    assert h(s_int) == h(s_dec)


def test_compare_tolerates_bigint_vs_decimal20_pk(spark):
    """The cross-FAMILY end of the widening chain: TiDB's unsigned
    BIGINT arrives over JDBC as DECIMAL(20,0) while the native side
    stores bigint — equal values must digest and bucket equally, or the
    reference's primary comparison scenario reports 100% false drift."""
    rows = [(i, f"v{i}") for i in range(200)]
    left = spark.createDataFrame(rows, "pk bigint, s string")
    right = spark.createDataFrame(
        [(__import__("decimal").Decimal(i), s) for i, s in rows],
        "pk decimal(20,0), s string",
    )
    cmp = compare_tables(
        spark, left, right, pk=["pk"],
        options=CompareOptions(n_buckets=64), table_name="t",
    )
    assert cmp.mismatched_buckets().count() == 0
    assert cmp.diff_rows().count() == 0
    row = cmp.summary().collect()[0]
    assert row.upcount == 0 and row.downcount == 0
    assert not row.structure_ok


def test_sql_fragment_hash_identity(spark):
    """row_hash, bucket_id and canonical_value reproduce golden values
    produced by the Column-built canonicalizer the one SQL-text definition
    replaced (tests/canonical_golden.py): every scalar branch, maps,
    arrays and structs nested in each other, field and column names
    holding a dot and a backtick, at float_round None and 3. Bucket ids
    feed persisted digest artifacts, so a moved value needs a
    BUCKETING_VERSION bump."""
    from tests import canonical_golden as G
    from tidb_large_table_compare_spark.functions import hashing as H

    assert H.BUCKETING_VERSION == 3

    def by_id(frame, cols):
        rows = frame.select("id", *cols).orderBy("id").collect()
        return [[r[i + 1] for r in rows] for i in range(len(cols))]

    df = spark.createDataFrame(G.ROWS, G.SCHEMA)
    sdf = spark.createDataFrame(G.SCALAR_ROWS, G.SCALAR_DDL)
    fields = {f.name: f.dataType for f in df.schema.fields}
    sfields = {f.name: f.dataType for f in sdf.schema.fields}
    sub = [c for c in df.columns if c != "id"]
    for fr in (None, 3):
        got = by_id(df, [H.row_hash(df, None, fr), H.row_hash(df, sub, fr)])
        assert got == [G.ROW_HASH[f"{fr}"], G.ROW_HASH[f"{fr}_sub"]]
        # aliased like the struct column sm: sm's fields m and a must not
        # resolve to the top-level columns m and as
        aliased = df.alias("sm")
        assert by_id(aliased, [H.row_hash(aliased, None, fr)]) == [
            G.ROW_HASH[f"{fr}"]
        ]
        scalar = [H.row_hash(sdf, None, fr)] + [
            F.xxhash64(H.canonical_value(n, sfields[n], fr)) for n in sdf.columns
        ]
        assert by_id(sdf, scalar) == [G.ROW_HASH[f"scalar_{fr}"]] + [
            G.CANONICAL[f"scalar:{n}|{fr}"] for n in sdf.columns
        ]
        values = [H.canonical_value(n, fields[n], fr) for n in df.columns]
        sums = df.agg(
            *[
                F.sum(
                    F.xxhash64("id", F.xxhash64(v), F.to_json(F.struct(v.alias("v"))))
                    .cast("decimal(38,0)")
                )
                for v in values
            ]
        ).collect()[0]
        assert dict(zip(df.columns, sums)) == {
            n: G.CANONICAL[f"{n}|{fr}"] for n in df.columns
        }
    keys = [k for k in G.BUCKET if k != "scalar"]
    got = by_id(df, [H.bucket_id(k.split("+"), 4096, df) for k in keys])
    assert dict(zip(keys, got)) == {k: G.BUCKET[k] for k in keys}
    assert by_id(sdf, [H.bucket_id(G.SCALAR_PK, 4096, sdf)]) == [G.BUCKET["scalar"]]


@pytest.mark.parametrize("n_buckets", [4096, 4], ids=["bitset", "skip"])
def test_concurrent_consumers_share_one_compare(spark, tmp_path, monkeypatch, n_buckets):
    """After ``summary()``, column drift, fix-SQL and repair + verify run on
    three threads over one TableCompare, as a table's consumers do on the
    CLI's run pool. They get the serial run's outputs, read the summary's
    scope and persisted diff (one digest pass, the memo unchanged), and
    the compare holds exactly one persisted RDD until ``close()``."""
    from concurrent.futures import ThreadPoolExecutor

    from tidb_large_table_compare_spark.operators.reconcile import (
        apply_fixes,
        verify_repair,
    )
    from tidb_large_table_compare_spark.perturb import perturbed_orders

    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    slave = perturbed_orders(orders)
    pk = ["o_orderkey"]
    opts = CompareOptions(n_buckets=n_buckets)

    def consumers(cmp, out):
        def repair():
            apply_fixes(orders, slave, pk, cmp.diff_rows()).write.parquet(out)
            v = verify_repair(cmp, spark.read.parquet(out)).collect()[0]
            rows = spark.read.parquet(out).orderBy(*pk).collect()
            return (v.equivalent, v.upcount, v.downcount), rows

        return {
            "drift": lambda: sorted(cmp.column_drift().collect()),
            "fix": lambda: sorted(fix_sql(cmp).collect()),
            "repair": repair,
        }

    serial = compare_tables(spark, orders, slave, pk, opts, "db.orders")
    want_summary = serial.summary().collect()
    want = {k: fn() for k, fn in consumers(serial, str(tmp_path / "s")).items()}
    serial.close()

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    digests: list[TableCompare] = []
    mismatched_buckets = TableCompare.mismatched_buckets

    def counting(self):
        digests.append(self)
        return mismatched_buckets(self)

    monkeypatch.setattr(TableCompare, "mismatched_buckets", counting)
    before = persisted()
    cmp = compare_tables(spark, orders, slave, pk, opts, "db.orders")
    assert cmp.summary().collect() == want_summary
    memo = dict(cmp._memo)
    assert cmp.scope().kind == ("bitset" if n_buckets > 4 else "skip")
    with ThreadPoolExecutor(3) as pool:
        futs = {
            k: pool.submit(fn)
            for k, fn in consumers(cmp, str(tmp_path / "c")).items()
        }
        got = {k: f.result() for k, f in futs.items()}
    assert got == want
    assert want["repair"][0] == (True, 0, 0)
    assert sum(d is cmp for d in digests) == 1
    assert cmp._memo.keys() == memo.keys()
    assert all(cmp._memo[k] is v for k, v in memo.items())
    assert len(persisted() - before) == 1
    cmp.close()
    assert persisted() - before == set()


def test_concurrent_first_consumers_compute_the_scope_once(spark, monkeypatch):
    """Consumers that reach a compare before any summary (the CLI's
    drill-down flags under --check-struct-only, whose summary builds no
    diff) race for the same memo entries: the scope action runs once and
    every thread gets the one persisted diff."""
    from concurrent.futures import ThreadPoolExecutor

    from tidb_large_table_compare_spark.perturb import perturbed_orders

    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    digests: list[TableCompare] = []
    mismatched_buckets = TableCompare.mismatched_buckets

    def counting(self):
        digests.append(self)
        return mismatched_buckets(self)

    monkeypatch.setattr(TableCompare, "mismatched_buckets", counting)
    cmp = compare_tables(
        spark, orders, perturbed_orders(orders), ["o_orderkey"],
        CompareOptions(n_buckets=4096, check_struct_only=True), "db.orders",
    )
    assert cmp.summary().collect()[0].upcount == 0  # struct-only: no diff
    with ThreadPoolExecutor(4) as pool:
        diffs = list(pool.map(lambda _: cmp.diff_rows(), range(4)))
    try:
        assert len(digests) == 1
        assert all(d is diffs[0] for d in diffs)
    finally:
        cmp.close()
