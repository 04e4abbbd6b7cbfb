"""Incremental compare via persisted bucket digests (operators/incremental).

The scale claim under test: after snapshotting a verified state, change
detection is ONE linear scan of the current table (no cross-side work), and
the row-level re-compare touches only drifted buckets while producing the
exact same diff a full compare would.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tidb_large_table_compare_spark.operators.compare import (
    CompareOptions,
    compare_tables,
)
from tidb_large_table_compare_spark.operators.incremental import (
    changed_buckets,
    incremental_compare,
    read_digests,
    write_digests,
)
from tidb_large_table_compare_spark.perturb import perturbed_orders
from tidb_large_table_compare_spark.sources.tables import load_table
from tests.conftest import SF_SMALL

OPTS = CompareOptions(n_buckets=64)


def _orders(spark):
    return spark.read.parquet(f"{SF_SMALL}/orders.parquet")


def test_unchanged_table_has_no_drifted_buckets(spark, tmp_path):
    orders = _orders(spark)
    path = str(tmp_path / "digests")
    n = write_digests(spark, orders, ["o_orderkey"], path, OPTS)
    assert n == 64
    stored, pinned = read_digests(spark, path)
    assert pinned == 64 and stored.count() <= 64
    assert changed_buckets(spark, path, orders, ["o_orderkey"], OPTS).count() == 0


def test_changed_buckets_detects_all_perturbation_classes(spark, tmp_path):
    orders = _orders(spark)
    path = str(tmp_path / "digests")
    write_digests(spark, orders, ["o_orderkey"], path, OPTS)
    drifted = changed_buckets(
        spark, path, perturbed_orders(orders), ["o_orderkey"], OPTS
    )
    ids = {r["__bucket"] for r in drifted.collect()}
    assert ids, "perturbation must drift at least one bucket"
    # every perturbed row's bucket is flagged (deletes, modifies, inserts)
    from tidb_large_table_compare_spark.functions.hashing import bucket_id

    full_diff = compare_tables(
        spark, orders, perturbed_orders(orders), ["o_orderkey"], OPTS, "t"
    ).diff_rows()
    diff_buckets = {
        r["__b"]
        for r in full_diff.select(
            bucket_id(["o_orderkey"], 64, full_diff).alias("__b")
        ).collect()
    }
    assert diff_buckets <= ids


def test_incremental_compare_equals_full_compare(spark, tmp_path):
    orders = _orders(spark)
    path = str(tmp_path / "digests")
    write_digests(spark, orders, ["o_orderkey"], path, OPTS)
    inc = incremental_compare(
        spark, orders, perturbed_orders(orders), ["o_orderkey"], path, OPTS, "t"
    )
    full = compare_tables(
        spark, orders, perturbed_orders(orders), ["o_orderkey"], OPTS, "t"
    )
    inc_rows = {
        (r["o_orderkey"], r["diff_type"]) for r in inc.diff_rows().collect()
    }
    full_rows = {
        (r["o_orderkey"], r["diff_type"]) for r in full.diff_rows().collect()
    }
    assert inc_rows == full_rows and inc_rows


def test_incremental_compare_no_drift_short_circuits(spark, tmp_path):
    orders = _orders(spark)
    path = str(tmp_path / "digests")
    write_digests(spark, orders, ["o_orderkey"], path, OPTS)
    inc = incremental_compare(
        spark, orders, orders, ["o_orderkey"], path, OPTS, "t"
    )
    row = inc.summary().collect()[0]
    assert row.equivalent and row.upcount == 0 and row.downcount == 0


def test_incremental_respects_range_predicate(spark, tmp_path):
    orders = _orders(spark)
    opts = CompareOptions(n_buckets=64, range_sql="o_orderkey % 2 = 0")
    path = str(tmp_path / "digests")
    write_digests(spark, orders.filter("o_orderkey % 2 = 0"),
                  ["o_orderkey"], path, opts)
    inc = incremental_compare(
        spark, orders, perturbed_orders(orders), ["o_orderkey"], path, opts, "t"
    )
    odd = inc.diff_rows().filter(F.col("o_orderkey") % 2 == 1).count()
    assert odd == 0  # scoped rows stay within the configured range


def test_incremental_wide_drift_takes_bitset_path(spark, tmp_path):
    """When many buckets drift, the scoped sides still filter on the one
    bitset literal: no join and no ``__bucket`` IN-list — the wide-drift
    analog of ``test_compare_drilldown_scans_bounded``. Results must equal
    the full compare."""
    orders = _orders(spark)
    path = str(tmp_path / "digests")
    # enough buckets that the drift stays clearly under the restriction-skip
    # fraction (at OPTS's 64 the perturbation lands near the 50% boundary,
    # where the scope is deliberately dropped)
    opts = CompareOptions(n_buckets=256)
    write_digests(spark, orders, ["o_orderkey"], path, opts)
    inc = incremental_compare(
        spark, orders, perturbed_orders(orders), ["o_orderkey"], path, opts, "t"
    )
    # the scoped side is one bitset filter over the scan, with no join
    plan = inc.left._jdf.queryExecution().executedPlan().toString()
    assert "getbit(" in plan and "Join" not in plan
    assert "__bucket IN (" not in plan

    full = compare_tables(
        spark, orders, perturbed_orders(orders), ["o_orderkey"], OPTS, "t"
    )
    inc_rows = {
        (r["o_orderkey"], r["diff_type"]) for r in inc.diff_rows().collect()
    }
    full_rows = {
        (r["o_orderkey"], r["diff_type"]) for r in full.diff_rows().collect()
    }
    assert inc_rows == full_rows and inc_rows
    # release the keyed diffs: the next test builds the same plans and
    # checks that its own compare persists, then releases, its diff
    inc.close()
    full.close()


def test_incremental_close_releases_changed_bucket_frame(spark, tmp_path):
    """A changed-bucket set is a bitset literal the scoped sides filter
    on; nothing of the scope is persisted. The returned compare's close()
    releases its own persisted keyed diff, leaving no RDD behind for the
    rest of the session."""
    orders = _orders(spark)
    path = str(tmp_path / "digests")
    opts = CompareOptions(n_buckets=256)
    write_digests(spark, orders, ["o_orderkey"], path, opts)
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = persisted().size()
    inc = incremental_compare(
        spark, orders, perturbed_orders(orders), ["o_orderkey"], path, opts, "t"
    )
    assert inc.diff_rows().count() > 0
    assert persisted().size() > before
    inc.close()
    assert persisted().size() == before


def test_incremental_heavy_drift_skips_scope(spark, tmp_path):
    """When most buckets changed since the snapshot, scoping would keep most
    rows while every job re-pays the predicate — the compare must fall back
    to the plain full form (no bucket filter) with identical results."""
    orders = _orders(spark)
    path = str(tmp_path / "digests")
    # few buckets → the perturbation drifts well over half of them
    opts = CompareOptions(n_buckets=8)
    write_digests(spark, orders, ["o_orderkey"], path, opts)
    inc = incremental_compare(
        spark, orders, perturbed_orders(orders), ["o_orderkey"], path, opts, "t"
    )
    plan = inc.left._jdf.queryExecution().executedPlan().toString()
    assert "__bucket" not in plan and "getbit(" not in plan  # no bitset scope
    full = compare_tables(
        spark, orders, perturbed_orders(orders), ["o_orderkey"], opts, "t"
    )
    inc_rows = {
        (r["o_orderkey"], r["diff_type"]) for r in inc.diff_rows().collect()
    }
    full_rows = {
        (r["o_orderkey"], r["diff_type"]) for r in full.diff_rows().collect()
    }
    assert inc_rows == full_rows and inc_rows


def test_digest_maintenance_from_change_feed(spark, tmp_path):
    """Folding a CDC batch (deletes + updates + inserts) into a stored digest
    snapshot must yield bit-for-bit the digests a full rescan of the changed
    table would produce — the abelian-group property of (cnt, xor, sum)."""
    from tidb_large_table_compare_spark.operators.incremental import (
        apply_changes_to_digests,
        write_digests,
    )
    from tidb_large_table_compare_spark.perturb import perturbed_orders
    from tidb_large_table_compare_spark.sources.tables import load_table

    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    changed = perturbed_orders(orders)
    opts = CompareOptions(n_buckets=64)
    base_path = str(tmp_path / "base")
    write_digests(spark, orders, ["o_orderkey"], base_path, opts)

    # express the perturbation as a change feed: an update is delete+insert
    deletes = orders.exceptAll(changed)   # old versions + removed rows
    inserts = changed.exceptAll(orders)   # new versions + added rows
    maint_path = str(tmp_path / "maintained")
    apply_changes_to_digests(
        spark, base_path, maint_path, ["o_orderkey"],
        inserts=inserts, deletes=deletes, options=opts,
    )

    fresh_path = str(tmp_path / "fresh")
    write_digests(spark, changed, ["o_orderkey"], fresh_path, opts)

    maintained = {
        tuple(r) for r in spark.read.parquet(maint_path).collect()
    }
    fresh = {tuple(r) for r in spark.read.parquet(fresh_path).collect()}
    assert maintained == fresh

    # the maintained snapshot drives the scoped compare exactly like a
    # freshly-written one: against the changed table itself, zero drift
    from tidb_large_table_compare_spark.operators.incremental import changed_buckets

    assert changed_buckets(spark, maint_path, changed, ["o_orderkey"], opts).count() == 0


def test_digest_maintenance_respects_range_predicate(spark, tmp_path):
    """A digest artifact written under a range-scoped CompareOptions holds
    digests of the IN-RANGE rows only (TableCompare applies range_sql before
    digesting). The fold must scope each change batch the same way —
    otherwise out-of-range insert/delete rows get folded into in-scope
    buckets, silently and permanently corrupting the artifact (the hazard
    the function's docstring names). Folded result must equal a fresh
    write_digests of the range-scoped changed table."""
    from tidb_large_table_compare_spark.operators.incremental import (
        apply_changes_to_digests,
        write_digests,
    )
    from tidb_large_table_compare_spark.perturb import perturbed_orders
    from tidb_large_table_compare_spark.sources.tables import load_table

    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    changed = perturbed_orders(orders)
    opts = CompareOptions(n_buckets=64, range_sql="o_orderkey % 2 = 0")
    base_path = str(tmp_path / "base")
    write_digests(spark, orders, ["o_orderkey"], base_path, opts)

    # the raw feed spans BOTH ranges; only the even-key rows may fold
    deletes = orders.exceptAll(changed)
    inserts = changed.exceptAll(orders)
    maint_path = str(tmp_path / "maintained")
    apply_changes_to_digests(
        spark, base_path, maint_path, ["o_orderkey"],
        inserts=inserts, deletes=deletes, options=opts,
    )

    fresh_path = str(tmp_path / "fresh")
    write_digests(spark, changed, ["o_orderkey"], fresh_path, opts)

    maintained = {tuple(r) for r in spark.read.parquet(maint_path).collect()}
    fresh = {tuple(r) for r in spark.read.parquet(fresh_path).collect()}
    assert maintained == fresh and maintained


def test_digest_maintenance_noop_batch(spark, tmp_path):
    from tidb_large_table_compare_spark.operators.incremental import (
        apply_changes_to_digests,
        write_digests,
    )
    from tidb_large_table_compare_spark.sources.tables import load_table

    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    opts = CompareOptions(n_buckets=16)
    base = str(tmp_path / "base")
    write_digests(spark, orders, ["o_orderkey"], base, opts)
    out = str(tmp_path / "out")
    n = apply_changes_to_digests(spark, base, out, ["o_orderkey"], options=opts)
    assert n == 16
    a = {tuple(r) for r in spark.read.parquet(base).collect()}
    b = {tuple(r) for r in spark.read.parquet(out).collect()}
    assert a == b


def test_digest_artifact_stamps_bucketing_version(spark, tmp_path):
    """Every artifact write pins the bucket-ASSIGNMENT version alongside
    n_buckets (ADVICE r8: the integral-widening change re-assigned buckets
    for int/short/byte PKs, and unstamped artifacts silently degrade or
    corrupt)."""
    from tidb_large_table_compare_spark.functions.hashing import BUCKETING_VERSION
    from tidb_large_table_compare_spark.operators.incremental import _read_pin

    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    path = str(tmp_path / "digests")
    write_digests(spark, orders, ["o_orderkey"], path, OPTS)
    assert _read_pin(spark, path) == (64, BUCKETING_VERSION)


def test_read_pin_propagates_a_failed_read(spark, tmp_path, monkeypatch):
    """A sidecar read that fails partway raises: the rest of a
    half-consumed stream is never parsed as a pin (here it would read as
    n_buckets 4)."""
    from types import SimpleNamespace

    import pytest

    from tidb_large_table_compare_spark.functions import fsutil
    from tidb_large_table_compare_spark.operators.incremental import _read_pin

    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    path = str(tmp_path / "digests")
    write_digests(spark, orders, ["o_orderkey"], path, OPTS)

    def to_byte_array(stream):
        stream.read()  # one byte in, the read fails
        raise RuntimeError("sidecar read failed partway")

    real = spark._jvm
    commons_io = SimpleNamespace(
        IOUtils=SimpleNamespace(toByteArray=to_byte_array)
    )
    fake = SimpleNamespace(org=SimpleNamespace(apache=SimpleNamespace(
        hadoop=real.org.apache.hadoop, commons=SimpleNamespace(io=commons_io)
    )))
    monkeypatch.setattr(fsutil, "classic_jvm", lambda _spark: fake)
    with pytest.raises(RuntimeError, match="partway"):
        _read_pin(spark, path)


def test_read_digests_refuses_mismatched_bucketing_version(spark, tmp_path):
    """An artifact stamped with a DIFFERENT bucketing version must refuse
    loudly — its bucket ids were assigned by an incompatible hash."""
    import pytest

    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    path = str(tmp_path / "digests")
    write_digests(spark, orders, ["o_orderkey"], path, OPTS)
    (tmp_path / "digests" / "_n_buckets").write_text("64\n1\n")  # v1 stamp
    # Hadoop's LocalFileSystem checksums reads: drop the stale CRC the
    # out-of-band rewrite invalidated
    (tmp_path / "digests" / "._n_buckets.crc").unlink(missing_ok=True)
    with pytest.raises(ValueError, match="bucketing"):
        read_digests(spark, path)


def test_fold_refuses_version_unknown_artifact(spark, tmp_path):
    """A legacy one-line sidecar (no version stamp) stays READABLE —
    a mismatch there only degrades to a fuller compare, which is sound —
    but the CDC fold refuses it: folding deltas bucketed under the current
    assignment into unknown-provenance buckets corrupts the artifact
    permanently while every verdict stays plausible."""
    import pytest

    from tidb_large_table_compare_spark.operators.incremental import (
        apply_changes_to_digests,
    )

    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    path = str(tmp_path / "digests")
    write_digests(spark, orders, ["o_orderkey"], path, OPTS)
    (tmp_path / "digests" / "_n_buckets").write_text("64")  # legacy sidecar
    (tmp_path / "digests" / "._n_buckets.crc").unlink(missing_ok=True)

    stored, pinned = read_digests(spark, path)  # read path tolerates
    assert pinned == 64
    assert changed_buckets(spark, path, orders, ["o_orderkey"], OPTS).count() == 0

    ins = orders.limit(1)
    with pytest.raises(ValueError, match="bucketing-version"):
        apply_changes_to_digests(
            spark, path, str(tmp_path / "out"), ["o_orderkey"],
            inserts=ins, options=OPTS,
        )


def test_read_digests_survives_empty_sidecar(spark, tmp_path):
    """Crash window: fs.create succeeded, payload write didn't — the
    sidecar exists but is EMPTY. The unconditional pin read must not
    break a healthy artifact (in-data pin covers it); the fold refuses
    (version unknown)."""
    import pytest

    from tidb_large_table_compare_spark.operators.incremental import (
        apply_changes_to_digests,
    )

    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    path = str(tmp_path / "digests")
    write_digests(spark, orders, ["o_orderkey"], path, OPTS)
    (tmp_path / "digests" / "_n_buckets").write_text("")
    (tmp_path / "digests" / "._n_buckets.crc").unlink(missing_ok=True)

    _, pinned = read_digests(spark, path)
    assert pinned == 64
    with pytest.raises(ValueError, match="bucketing-version"):
        apply_changes_to_digests(
            spark, path, str(tmp_path / "out"), ["o_orderkey"],
            inserts=orders.limit(1), options=OPTS,
        )


def test_streaming_digest_maintenance_tracks_change_feed(spark, tmp_path):
    """Two streamed CDC batches folded via foreachBatch: the LATEST artifact
    must equal a fresh rescan of the final table state, and the per-epoch
    layout must leave the lineage on disk."""
    from tidb_large_table_compare_spark.operators.incremental import write_digests
    from tidb_large_table_compare_spark.sources.tables import load_table
    from tidb_large_table_compare_spark.streaming.digest_maintenance import (
        OP_COL,
        latest_digest_path,
        start_digest_maintenance,
    )

    orders = load_table(spark, "/root/testdata/sf0.001", "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    opts = CompareOptions(n_buckets=32)
    root = tmp_path / "digests"
    root.mkdir()
    init = str(root / "epoch_init")
    write_digests(spark, orders, ["o_orderkey"], init, opts)
    (root / "LATEST").write_text(init)

    # change feed: batch 1 deletes %97==3; batch 2 re-prices %89==5
    feed_dir = tmp_path / "feed"
    feed_dir.mkdir()
    schema_cols = ["o_orderkey", "o_custkey", "o_totalprice"]
    b1 = orders.filter(F.col("o_orderkey") % 97 == 3).withColumn(OP_COL, F.lit("D"))
    b1.select(OP_COL, *schema_cols).coalesce(1).write.mode("append").parquet(
        str(feed_dir)
    )
    kept = orders.filter(F.col("o_orderkey") % 97 != 3)
    mod_old = kept.filter(F.col("o_orderkey") % 89 == 5)
    mod_new = mod_old.withColumn("o_totalprice", F.col("o_totalprice") + 1.0)
    b2 = mod_old.withColumn(OP_COL, F.lit("D")).unionByName(
        mod_new.withColumn(OP_COL, F.lit("I"))
    )

    feed_schema = f"{OP_COL} string, o_orderkey bigint, o_custkey bigint, o_totalprice double"
    stream = spark.readStream.schema(feed_schema).parquet(str(feed_dir))
    q = start_digest_maintenance(
        spark, stream, str(root), ["o_orderkey"],
        checkpoint=str(tmp_path / "ckpt"), options=opts,
    )
    q.awaitTermination(120)

    # second batch arrives; restart from checkpoint processes only it
    b2.select(OP_COL, *schema_cols).coalesce(1).write.mode("append").parquet(
        str(feed_dir)
    )
    stream2 = spark.readStream.schema(feed_schema).parquet(str(feed_dir))
    q2 = start_digest_maintenance(
        spark, stream2, str(root), ["o_orderkey"],
        checkpoint=str(tmp_path / "ckpt"), options=opts,
    )
    q2.awaitTermination(120)

    final_state = kept.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 89 == 5, F.col("o_totalprice") + 1.0)
        .otherwise(F.col("o_totalprice")),
    )
    fresh = str(tmp_path / "fresh")
    write_digests(spark, final_state, ["o_orderkey"], fresh, opts)

    maintained = {
        tuple(r) for r in spark.read.parquet(latest_digest_path(str(root))).collect()
    }
    expect = {tuple(r) for r in spark.read.parquet(fresh).collect()}
    assert maintained == expect


def test_digest_artifact_survives_emptying_feed(spark, tmp_path):
    """A truncate-and-reload feed (every remaining row deleted) drives all
    bucket counts to 0 — the artifact must keep its n_buckets pin (the
    sentinel row) so the next fold / changed_buckets still works instead
    of dying on an empty parquet."""
    from tidb_large_table_compare_spark.operators.incremental import (
        apply_changes_to_digests,
        changed_buckets,
        read_digests,
        write_digests,
    )

    rows = spark.createDataFrame([(i, f"v{i}") for i in range(50)], "pk bigint, s string")
    opts = CompareOptions(n_buckets=8)
    base = str(tmp_path / "base")
    write_digests(spark, rows, ["pk"], base, opts)

    emptied = str(tmp_path / "emptied")
    apply_changes_to_digests(spark, base, emptied, ["pk"], deletes=rows, options=opts)
    digests, n_buckets = read_digests(spark, emptied)
    assert n_buckets == 8 and digests.count() == 0

    # the emptied artifact is still a working snapshot: re-inserting rows
    # folds cleanly, and changed_buckets flags their buckets vs empty
    refilled = str(tmp_path / "refilled")
    apply_changes_to_digests(spark, emptied, refilled, ["pk"], inserts=rows, options=opts)
    fresh = str(tmp_path / "fresh")
    write_digests(spark, rows, ["pk"], fresh, opts)
    a = {tuple(r) for r in spark.read.parquet(refilled).collect()}
    b = {tuple(r) for r in spark.read.parquet(fresh).collect()}
    assert a == b
    assert changed_buckets(spark, emptied, rows, ["pk"], opts).count() > 0


def test_digest_maintenance_skips_already_committed_epoch(spark, tmp_path):
    """A foreachBatch retry AFTER the LATEST pointer was updated (crash
    between the pointer rename and the checkpoint commit) must skip the
    fold: re-folding would double-apply the batch and read epoch_N while
    overwriting epoch_N. Simulated by replaying epoch 0 with a fresh
    checkpoint against a root whose LATEST already names epoch_0."""
    import pyspark.sql.functions as F  # noqa: F811

    from tidb_large_table_compare_spark.operators.incremental import write_digests
    from tidb_large_table_compare_spark.streaming.digest_maintenance import (
        OP_COL,
        latest_digest_path,
        start_digest_maintenance,
    )

    rows = spark.createDataFrame([(i, i * 10) for i in range(40)], "pk bigint, v bigint")
    opts = CompareOptions(n_buckets=8)
    root = tmp_path / "digests"
    root.mkdir()
    feed_dir = tmp_path / "feed"
    feed_dir.mkdir()
    batch = rows.filter(F.col("pk") % 5 == 0).withColumn(OP_COL, F.lit("D"))
    batch.select(OP_COL, "pk", "v").coalesce(1).write.mode("append").parquet(
        str(feed_dir)
    )
    feed_schema = f"{OP_COL} string, pk bigint, v bigint"

    init = str(root / "epoch_init")
    write_digests(spark, rows, ["pk"], init, opts)
    (root / "LATEST").write_text(init)
    q = start_digest_maintenance(
        spark, spark.readStream.schema(feed_schema).parquet(str(feed_dir)),
        str(root), ["pk"], checkpoint=str(tmp_path / "ckpt1"), options=opts,
    )
    q.awaitTermination(120)
    once = {
        tuple(r)
        for r in spark.read.parquet(latest_digest_path(str(root))).collect()
    }
    assert latest_digest_path(str(root)).endswith("epoch_0")

    # fresh checkpoint replays epoch 0; LATEST already names epoch_0, so
    # the fold must be skipped — folding again would subtract the deletes
    # a second time
    q2 = start_digest_maintenance(
        spark, spark.readStream.schema(feed_schema).parquet(str(feed_dir)),
        str(root), ["pk"], checkpoint=str(tmp_path / "ckpt2"), options=opts,
    )
    q2.awaitTermination(120)
    twice = {
        tuple(r)
        for r in spark.read.parquet(latest_digest_path(str(root))).collect()
    }
    assert twice == once


def test_digest_maintenance_refuses_remote_root(spark, tmp_path):
    """URI-schemed roots are refused up front: the LATEST pointer uses
    driver-local filesystem primitives, and pathlib would silently mangle
    hdfs:///s3a:// paths."""
    import pytest

    from tidb_large_table_compare_spark.streaming.digest_maintenance import (
        start_digest_maintenance,
    )

    with pytest.raises(NotImplementedError, match="driver-local"):
        start_digest_maintenance(
            spark, None, "s3a://bucket/digests", ["pk"],
            checkpoint=str(tmp_path / "ckpt"),
        )
