"""CSV/JSON flat-file sources: schema-first reads, round-trips, quarantine."""

import pytest
from pyspark.sql import functions as F

from tidb_large_table_compare_spark.sources.files import (
    CORRUPT_COL,
    quarantine,
    read_csv,
    read_json,
)
from tidb_large_table_compare_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"
CUSTOMER_SCHEMA = (
    "c_custkey bigint, c_name string, c_nationkey int, "
    "c_acctbal double, c_mktsegment string"
)


def _customer(spark):
    return load_table(spark, SF, "customer").select(
        *[c.strip().split(" ")[0] for c in CUSTOMER_SCHEMA.split(",")]
    )


def test_csv_roundtrip_matches_parquet(spark, tmp_path):
    src = _customer(spark)
    path = str(tmp_path / "customer_csv")
    src.write.option("header", True).csv(path)
    back = read_csv(spark, path, CUSTOMER_SCHEMA)
    clean, corrupt = quarantine(back)
    assert corrupt.collect() == []
    assert sorted(map(tuple, clean.collect())) == sorted(map(tuple, src.collect()))


def test_json_roundtrip_matches_parquet(spark, tmp_path):
    src = _customer(spark)
    path = str(tmp_path / "customer_json")
    src.write.json(path)
    back = read_json(spark, path, CUSTOMER_SCHEMA)
    clean, corrupt = quarantine(back)
    assert corrupt.collect() == []
    assert sorted(map(tuple, clean.collect())) == sorted(map(tuple, src.collect()))


def test_csv_quarantine_captures_malformed_rows(spark, tmp_path):
    p = tmp_path / "drop"
    p.mkdir()
    (p / "part-0.csv").write_text(
        "id,name,score\n"
        "1,alice,2.5\n"
        'not,a,"valid,row",with,extra\n'
        "2,bob,3.5\n"
    )
    df = read_csv(spark, str(p), "id bigint, name string, score double")
    clean, corrupt = quarantine(df)
    assert {tuple(r) for r in clean.collect()} == {(1, "alice", 2.5), (2, "bob", 3.5)}
    bad = [r[CORRUPT_COL] for r in corrupt.collect()]
    assert len(bad) == 1 and bad[0].startswith("not,a,")


def test_json_quarantine_captures_malformed_rows(spark, tmp_path):
    p = tmp_path / "drop"
    p.mkdir()
    (p / "part-0.json").write_text(
        '{"id": 1, "name": "alice"}\n'
        "this is not json\n"
        '{"id": 2, "name": "bob"}\n'
    )
    df = read_json(spark, str(p), "id bigint, name string")
    clean, corrupt = quarantine(df)
    assert {tuple(r) for r in clean.collect()} == {(1, "alice"), (2, "bob")}
    bad = [r[CORRUPT_COL] for r in corrupt.collect()]
    assert bad == ["this is not json"]


def test_type_mismatch_rows_are_quarantined_not_nulled_silently(spark, tmp_path):
    p = tmp_path / "drop"
    p.mkdir()
    (p / "part-0.csv").write_text("id,score\n1,2.5\nforty-two,oops\n")
    df = read_csv(spark, str(p), "id bigint, score double")
    clean, corrupt = quarantine(df)
    assert [tuple(r) for r in clean.collect()] == [(1, 2.5)]
    assert len(corrupt.collect()) == 1


def test_quarantine_is_single_scan_with_pruned_columns(spark, tmp_path):
    """Both split halves stay plain filters over one scan — the corrupt-row
    path must not trigger a second pass shape (no join/aggregate)."""
    src = _customer(spark)
    path = str(tmp_path / "customer_csv")
    src.write.option("header", True).csv(path)
    clean, corrupt = quarantine(read_csv(spark, path, CUSTOMER_SCHEMA))
    for df in (clean, corrupt):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Scan csv" in plan
        assert "Join" not in plan and "Exchange" not in plan


def test_compare_engine_across_heterogeneous_sources(spark, tmp_path):
    """Parquet master vs a drifted CSV drop: the digest compare is
    source-agnostic — each side is just a DataFrame scan, so a flat-file
    replica can be verified against the warehouse table directly."""
    from tidb_large_table_compare_spark.operators.compare import compare_tables

    master = _customer(spark)
    drifted = (
        master.filter(F.col("c_custkey") % 97 != 3)  # deletions
        .withColumn(
            "c_acctbal",
            F.when(F.col("c_custkey") % 50 == 7, F.col("c_acctbal") + 1.0)
            .otherwise(F.col("c_acctbal")),
        )
    )
    path = str(tmp_path / "replica_csv")
    drifted.write.option("header", True).csv(path)

    replica, corrupt = quarantine(read_csv(spark, path, CUSTOMER_SCHEMA))
    assert corrupt.collect() == []

    n_deleted = master.filter(F.col("c_custkey") % 97 == 3).count()
    n_modified = drifted.filter(
        (F.col("c_custkey") % 50 == 7)
    ).count() - drifted.filter(
        (F.col("c_custkey") % 50 == 7) & (F.col("c_acctbal").isNull())
    ).count()

    row = (
        compare_tables(spark, master, replica, ["c_custkey"], table_name="c")
        .summary()
        .collect()[0]
    )
    assert row.upcount == n_deleted + n_modified
    assert row.downcount == n_modified
    assert not row.equivalent


def test_events_loader_adapts_to_both_ts_generations(spark, tmp_path):
    """The testdata has shipped events.ts as both TIMESTAMP(NANOS) (read as
    raw BIGINT via nanosAsLong) and timestamp[us]; round 2 died on a loader
    hardcoded to one generation. normalize_event_ts must branch on the
    observed dtype, so both physical encodings of the same instants load to
    identical TIMESTAMP_NTZ values — batch and streaming alike."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    micros = [1704067200_000_000 + i * 37_000_001 for i in range(64)]
    base = {
        "event_id": list(range(64)),
        "user_id": [i % 5 for i in range(64)],
        "event_type": ["view"] * 64,
        "value": [float(i) for i in range(64)],
        "props": ["{}"] * 64,
    }

    us_dir = tmp_path / "gen_us"
    us_dir.mkdir()
    pq.write_table(
        pa.table({**base, "ts": pa.array(micros, pa.timestamp("us"))}),
        str(us_dir / "events.parquet"),
    )
    ns_dir = tmp_path / "gen_ns"
    ns_dir.mkdir()
    pq.write_table(
        pa.table({**base, "ts": pa.array([m * 1000 for m in micros], pa.timestamp("ns"))}),
        str(ns_dir / "events.parquet"),
    )

    loaded = {}
    for name, d in (("us", us_dir), ("ns", ns_dir)):
        df = load_table(spark, str(d), "events")
        assert dict(df.dtypes)["ts"] == "timestamp_ntz"
        # collect() runs AFTER load_table restored nanosAsLong — regression
        # for the scoped-conf read (the relation captures the conf eagerly)
        loaded[name] = sorted((r.event_id, r.ts) for r in df.collect())
    assert loaded["us"] == loaded["ns"]

    from tidb_large_table_compare_spark.streaming.events import _event_stream

    streamed = {}
    for name, d in (("us", us_dir), ("ns", ns_dir)):
        stream = _event_stream(spark, str(d))
        q = (
            stream.writeStream.outputMode("append")
            .format("memory")
            .queryName(f"gen_{name}")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        streamed[name] = sorted(
            (r.event_id, r.ts) for r in spark.table(f"gen_{name}").collect()
        )
    assert streamed["us"] == streamed["ns"]
    # the streaming axis (LTZ pinned UTC) matches the batch axis wall-clock
    assert [t for _, t in streamed["us"]] == [t for _, t in loaded["us"]]


def test_load_table_leaves_session_conf_unchanged(spark):
    """On an engine session (UTC already pinned by session.get_spark),
    load_table must be side-effect free on the session conf: nanosAsLong is
    scoped to the read and restored, the timezone is already UTC."""
    keys = ["spark.sql.session.timeZone", "spark.sql.legacy.parquet.nanosAsLong"]

    def snapshot():
        out = {}
        for k in keys:
            try:
                out[k] = spark.conf.get(k)
            except Exception:
                out[k] = None
        return out

    before = snapshot()
    assert before["spark.sql.session.timeZone"] == "UTC"
    df = load_table(spark, "/root/testdata/sf0.001", "events")
    assert snapshot() == before
    assert df.count() > 0  # still executable after the conf restore
    assert snapshot() == before


def test_unfingerprintable_paths_do_not_share_a_cached_schema(
    spark, tmp_path, monkeypatch
):
    """A path _path_key cannot fingerprint (key None) bypasses the schema
    cache: a schema cached under None would be served to the next such
    path, and the by-name read would return that table's columns as
    NULL."""
    from tidb_large_table_compare_spark.sources import tables

    monkeypatch.setattr(tables, "_path_key", lambda path: None)
    monkeypatch.setattr(tables, "_SCHEMA_CACHE", {})
    spark.createDataFrame([(1, "a")], "x long, y string").write.parquet(
        str(tmp_path / "a" / "t.parquet")
    )
    spark.createDataFrame([(2, 3.5)], "p long, q double").write.parquet(
        str(tmp_path / "b" / "t.parquet")
    )
    first = load_table(spark, str(tmp_path / "a"), "t")
    second = load_table(spark, str(tmp_path / "b"), "t")
    assert [tuple(r) for r in first.collect()] == [(1, "a")]
    assert second.columns == ["p", "q"]
    assert [tuple(r) for r in second.collect()] == [(2, 3.5)]


def test_orc_compare_end_to_end(spark, tmp_path):
    """The compare engine is source-agnostic: two ORC-backed tables produce
    the identical digest summary the parquet layout produces."""
    from tidb_large_table_compare_spark.operators.compare import compare_tables
    from tidb_large_table_compare_spark.perturb import perturbed_orders
    from tidb_large_table_compare_spark.sources.files import read_orc

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    left_p, right_p = str(tmp_path / "l_orc"), str(tmp_path / "r_orc")
    orders.write.orc(left_p)
    perturbed_orders(orders).write.orc(right_p)

    via_orc = compare_tables(
        spark, read_orc(spark, left_p), read_orc(spark, right_p), ["o_orderkey"]
    ).summary().collect()[0]
    via_parquet = compare_tables(
        spark, orders, perturbed_orders(orders), ["o_orderkey"]
    ).summary().collect()[0]
    assert (via_orc.upcount, via_orc.downcount, via_orc.equivalent) == (
        via_parquet.upcount, via_parquet.downcount, via_parquet.equivalent,
    )
    assert via_orc.upcount > 0  # the perturbation actually produced a diff


def test_orc_scan_pushes_down_filters(spark, tmp_path):
    """Filters and projections must reach the ORC reader like they do the
    parquet one — a scan that reads everything defeats the format."""
    from pyspark.sql import functions as F

    from tidb_large_table_compare_spark.sources.files import read_orc

    out = str(tmp_path / "orc_push")
    spark.read.parquet("/root/testdata/sf0.001/orders.parquet").write.orc(out)
    df = read_orc(spark, out).filter(F.col("o_orderkey") == 7).select("o_orderkey", "o_custkey")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "o_orderkey" in plan.split("PushedFilters")[1][:120]
    assert "ReadSchema" in plan


def test_avro_errors_clearly_or_roundtrips(spark, tmp_path):
    """Where spark-avro is on the classpath the source works unchanged; in
    this sandbox it is absent and the error must name the missing module,
    not Spark's generic data-source lookup failure."""
    import pytest

    from tidb_large_table_compare_spark.sources.files import read_avro

    df = spark.range(5).selectExpr("id", "id * 2 AS v")
    out = str(tmp_path / "avro_t")
    try:
        df.write.format("avro").save(out)
        avro_available = True
    except Exception:
        avro_available = False

    if avro_available:  # pragma: no cover - environment-dependent branch
        back = read_avro(spark, out)
        assert back.count() == 5
    else:
        with pytest.raises(RuntimeError, match="spark-avro"):
            read_avro(spark, out)


def test_compaction_plan_first_fit_algebra(spark):
    from tidb_large_table_compare_spark.operators.compaction import compaction_plan

    inv = spark.createDataFrame(
        [
            ("t1/a.parquet", 40), ("t1/b.parquet", 40), ("t1/c.parquet", 40),
            ("t1/d.parquet", 200),   # >= target: keep, excluded from sums
            ("t2/a.parquet", 10),    # other dir: bins restart
        ],
        "path string, bytes bigint",
    )
    plan = {r.path: r for r in compaction_plan(inv, target_bytes=100).collect()}
    assert plan["t1/d.parquet"].action == "keep"
    assert plan["t1/d.parquet"].bin is None
    # first-fit in path order: a(start 0)→bin0, b(start 40)→bin0,
    # c(start 80)→bin0 (overshoot < one file), and t2 restarts at bin 0
    assert [plan[f"t1/{n}.parquet"].bin for n in "abc"] == [0, 0, 0]
    assert plan["t2/a.parquet"].bin == 0
    assert plan["t2/a.parquet"].dir == "t2"

    bigger = spark.createDataFrame(
        [("t/{:02d}.parquet".format(i), 60) for i in range(4)],
        "path string, bytes bigint",
    )
    bins = [r.bin for r in compaction_plan(bigger, target_bytes=100)
            .orderBy("path").collect()]
    # starts 0,60,120,180 → bins 0,0,1,1
    assert bins == [0, 0, 1, 1]

    with pytest.raises(ValueError):
        compaction_plan(inv, target_bytes=0)


def test_file_inventory_lists_real_parts(spark, tmp_path):
    from tidb_large_table_compare_spark.operators.compaction import (
        compaction_plan,
        file_inventory,
    )

    out = str(tmp_path / "ds")
    df = spark.range(0, 1000).withColumn("v", F.col("id") * 2)
    df.repartition(4).write.parquet(f"{out}/t1.parquet")
    df.limit(10).write.parquet(f"{out}/t2.parquet")

    inv = file_inventory(spark, out)
    rows = inv.collect()
    t1 = [r for r in rows if "/t1.parquet/" in r.path]
    t2 = [r for r in rows if "/t2.parquet/" in r.path]
    assert len(t1) == 4 and len(t2) >= 1
    assert all(r.bytes > 0 for r in rows)
    assert not any("_SUCCESS" in r.path for r in rows)

    # the two dataset dirs plan independently
    plan = compaction_plan(inv, target_bytes=1 << 30)
    dirs = {r.dir for r in plan.collect()}
    assert any(d.endswith("t1.parquet") for d in dirs)
    assert any(d.endswith("t2.parquet") for d in dirs)
    assert all(r.action == "compact" for r in plan.collect())  # all tiny


def test_compaction_plan_null_bytes_surface_as_unknown(spark):
    from tidb_large_table_compare_spark.operators.compaction import compaction_plan

    inv = spark.createDataFrame(
        [("t/a.parquet", 10), ("t/b.parquet", None), ("t/c.parquet", 10)],
        "path string, bytes bigint",
    )
    rows = {r.path: r for r in compaction_plan(inv, target_bytes=100).collect()}
    assert len(rows) == 3  # nothing silently dropped
    assert rows["t/b.parquet"].action == "unknown"
    assert rows["t/b.parquet"].bin is None
    # NULL-size file is excluded from the running sum: a and c pack normally
    assert rows["t/a.parquet"].bin == 0 and rows["t/c.parquet"].bin == 0


def test_execute_compaction_merges_bins_losslessly(spark, tmp_path):
    """plan → execute roundtrip: merged bins hold exactly the planned
    files' rows (one output file per bin), sources untouched."""
    from tidb_large_table_compare_spark.operators.compaction import (
        compaction_plan,
        execute_compaction,
        file_inventory,
    )

    src = str(tmp_path / "lake" / "t1.parquet")
    df = spark.range(0, 400).withColumn("v", F.col("id") * 3)
    df.repartition(8).write.parquet(src)

    inv = file_inventory(spark, str(tmp_path / "lake"))
    target = int(inv.agg(F.sum("bytes")).collect()[0][0] // 3)  # ~3 bins
    plan = compaction_plan(inv, target)
    out = str(tmp_path / "compacted")
    manifest = execute_compaction(spark, plan, out)

    assert manifest["files_merged"] == 8 and manifest["kept"] == 0
    assert 2 <= manifest["bins"] <= 4
    merged = spark.read.parquet(*manifest["outputs"])
    assert merged.exceptAll(df).count() == 0
    assert df.exceptAll(merged).count() == 0
    # one data file per bin; sources untouched
    for dest in manifest["outputs"]:
        parts = [p for p in __import__("os").listdir(dest)
                 if p.endswith(".parquet")]
        assert len(parts) == 1
    assert file_inventory(spark, str(tmp_path / "lake")).count() == 8


def test_execute_compaction_same_basename_dirs_stay_distinct(spark, tmp_path):
    """Two tables each holding a partition dir with the SAME basename
    (date=2020-01-01) must compact into distinct dest subtrees — keying by
    basename alone would silently overwrite one table's output."""
    from tidb_large_table_compare_spark.operators.compaction import (
        compaction_plan,
        execute_compaction,
        file_inventory,
    )

    for table, lo, hi in (("orders", 0, 100), ("lineitem", 1000, 1100)):
        src = str(tmp_path / "lake" / table / "date=2020-01-01")
        spark.range(lo, hi).repartition(4).write.parquet(src)

    inv = file_inventory(spark, str(tmp_path / "lake"))
    plan = compaction_plan(inv, target_bytes=1 << 30)  # everything compacts
    out = str(tmp_path / "compacted")
    manifest = execute_compaction(spark, plan, out)

    assert manifest["files_merged"] == 8
    assert len(manifest["outputs"]) == 2
    # both tables' rows survive — nothing overwritten
    merged = spark.read.parquet(*manifest["outputs"])
    assert merged.count() == 200
    assert {r.id for r in merged.collect()} == set(range(0, 100)) | set(
        range(1000, 1100)
    )
    # dest subtrees carry the table component, not just the shared basename
    assert any("/orders/" in d for d in manifest["outputs"])
    assert any("/lineitem/" in d for d in manifest["outputs"])


def test_dest_suffixes_no_common_root_and_single_dir():
    from tidb_large_table_compare_spark.operators.compaction import (
        _dest_suffixes,
    )

    # single dir keeps its basename
    assert _dest_suffixes(["/a/b/t1.parquet"]) == {
        "/a/b/t1.parquet": "t1.parquet"
    }
    # disjoint roots: full (sanitized) paths, still distinct
    m = _dest_suffixes(["file:/x/date=1", "hdfs://h/y/date=1"])
    assert len(set(m.values())) == 2
    # identical-basename dirs under one root stay distinct via parent
    m = _dest_suffixes(["/lake/orders/d=1", "/lake/lineitem/d=1"])
    assert m["/lake/orders/d=1"] == "orders/d=1"
    assert m["/lake/lineitem/d=1"] == "lineitem/d=1"


def test_maintenance_cli_plan_and_execute(spark, tmp_path, capsys):
    """The maintenance CLI inventories a tree, prints the per-directory
    plan summary, writes the plan parquet, and executes bins losslessly."""
    from tidb_large_table_compare_spark.maintenance_cli import main

    for table, lo, hi in (("orders", 0, 100), ("lineitem", 1000, 1100)):
        spark.range(lo, hi).repartition(4).write.parquet(
            str(tmp_path / "lake" / table)
        )
    code = main(
        [
            "--dir", str(tmp_path / "lake"),
            "--target-bytes", str(1 << 30),
            "--plan-out", str(tmp_path / "plan"),
            "--execute-out", str(tmp_path / "compacted"),
        ]
    )
    assert code == 0
    out = capsys.readouterr().out
    plan_lines = [l for l in out.splitlines() if l.startswith("plan ")]
    assert sum("compact" in l for l in plan_lines) == 2  # one per table dir
    exec_line = next(l for l in out.splitlines() if l.startswith("execute "))
    import json as _json

    manifest = _json.loads(exec_line[len("execute "):])
    assert manifest["files_merged"] == 8 and manifest["bins"] == 2
    merged = spark.read.parquet(*manifest["outputs"])
    assert merged.count() == 200
    # the written plan is re-readable and complete
    assert spark.read.parquet(str(tmp_path / "plan")).count() == 8


def test_maintenance_cli_rejects_bad_target(capsys):
    from tidb_large_table_compare_spark.maintenance_cli import main

    assert main(["--dir", "/nonexistent", "--target-bytes", "0"]) == 2
    assert "--target-bytes" in capsys.readouterr().err


def test_maintenance_cli_rejects_out_inside_dir(tmp_path, capsys):
    """--plan-out/--execute-out under --dir must refuse: mirror files
    written into the maintained tree would be inventoried as independent
    source data on the next run and re-binned."""
    from tidb_large_table_compare_spark.maintenance_cli import main

    lake = tmp_path / "lake"
    lake.mkdir()
    for flag in ("--plan-out", "--execute-out"):
        assert main(
            ["--dir", str(lake), flag, str(lake / "compacted")]
        ) == 2
        assert "must not be inside --dir" in capsys.readouterr().err
    # sibling output is fine to validate (the run itself proceeds past
    # the guard; empty tree exits 0)
    assert main(
        ["--dir", str(lake), "--plan-out", str(tmp_path / "plan")]
    ) == 0


def test_maintenance_cli_empty_inventory_still_writes_plan(spark, tmp_path, capsys):
    """A requested --plan-out must exist (zero rows) even when the tree
    holds no parquet — a scheduler reading it back should see an empty
    dataset, not a missing path after exit code 0."""
    from tidb_large_table_compare_spark.maintenance_cli import main

    (tmp_path / "empty_lake").mkdir()
    code = main(
        [
            "--dir", str(tmp_path / "empty_lake"),
            "--plan-out", str(tmp_path / "plan"),
        ]
    )
    assert code == 0
    assert "no parquet files" in capsys.readouterr().out
    assert spark.read.parquet(str(tmp_path / "plan")).count() == 0


def test_swap_compacted_replaces_small_files_losslessly(spark, tmp_path):
    """plan → execute → swap: the merged files replace the small originals
    in place, keep-sized files and unplanned entries are carried across
    untouched, and no protocol debris (.old / .compacting) survives."""
    import os

    from tidb_large_table_compare_spark.operators.compaction import (
        compaction_plan,
        execute_compaction,
        file_inventory,
        swap_compacted,
    )

    src = str(tmp_path / "lake" / "t1.parquet")
    df = spark.range(0, 400).withColumn("v", F.col("id") * 3)
    df.repartition(8).write.parquet(src)
    # an unplanned non-parquet entry the swap must carry across
    # (underscore-prefixed so Spark's own scans ignore it, like _SUCCESS)
    with open(f"{src}/_notes.txt", "w") as fh:
        fh.write("sidecar")

    inv = file_inventory(spark, str(tmp_path / "lake"))
    target = int(inv.agg(F.sum("bytes")).collect()[0][0] // 3)  # ~3 bins
    plan = compaction_plan(inv, target).localCheckpoint()
    out = str(tmp_path / "compacted")
    execute_compaction(spark, plan, out)

    manifest = swap_compacted(spark, plan, out)
    assert manifest["dirs_swapped"] == 1
    assert manifest["files_retired"] == 8
    assert manifest["healed"] == []
    assert manifest["files_swapped_in"] >= 2  # one merged file per bin
    # carried: the sidecar plus Spark's _SUCCESS marker (the swap carries
    # EVERY non-planned entry so directory contents are preserved exactly)
    assert manifest["carried"] >= 2

    # lossless: the swapped-in directory reads back to the original rows
    back = spark.read.parquet(src)
    assert back.exceptAll(df).count() == 0 and df.exceptAll(back).count() == 0
    names = os.listdir(src)
    assert "_notes.txt" in names and "_SUCCESS" in names
    merged = [n for n in names if n.startswith("compacted-")]
    small = [n for n in names if n.startswith("part-")]
    assert len(merged) == manifest["files_swapped_in"] and not small
    assert not os.path.exists(src + ".old")
    assert not os.path.exists(src + ".compacting")
    # a re-inventory now sees only the merged (healthy-sized) files
    assert file_inventory(spark, str(tmp_path / "lake")).count() == len(merged)


def test_swap_refuses_cross_filesystem_plan_before_any_mutation(
    spark, tmp_path, monkeypatch
):
    """swap_compacted is rename-based; renames cannot cross filesystems.
    A plan whose tree lives on a different FS than out_dir must refuse
    with a named error BEFORE any mutation (previously Hadoop's bare
    rename-false fired mid-protocol, after the side dir existed)."""
    from tidb_large_table_compare_spark.operators import compaction as C

    src = str(tmp_path / "lake" / "t1.parquet")
    spark.range(0, 400).repartition(4).write.parquet(src)
    inv = C.file_inventory(spark, str(tmp_path / "lake"))
    plan = C.compaction_plan(inv, 1 << 30).localCheckpoint()
    out = str(tmp_path / "compacted")
    C.execute_compaction(spark, plan, out)

    real_jpath = C._jpath

    class _RemoteUri:
        def toString(self):
            return "s3a://bucket"

    class _RemoteFS:
        def getUri(self):
            return _RemoteUri()

    class _RemotePath:
        def getFileSystem(self, conf):
            return _RemoteFS()

    def fake_jpath(spark_, path):
        # the plan's dir column carries the FS-qualified (file:/...) form
        if path.rstrip("/").endswith("/t1.parquet"):  # tree "lives on s3a"
            return _RemotePath()
        return real_jpath(spark_, path)

    monkeypatch.setattr(C, "_jpath", fake_jpath)
    with pytest.raises(ValueError, match="cannot cross filesystems"):
        C.swap_compacted(spark, plan, out)
    monkeypatch.undo()
    # nothing was mutated: no protocol debris anywhere, originals intact
    names = {p.name for p in (tmp_path / "lake").iterdir()}
    assert names == {"t1.parquet"}
    assert not list((tmp_path / "lake").glob("**/*.compacting"))
    assert spark.read.parquet(src).count() == 400


def test_swap_compacted_skips_keep_only_dirs_and_verifies_mirror(spark, tmp_path):
    """A directory whose files all planned 'keep' is untouched by the swap,
    and a missing merged output fails BEFORE any source mutation."""
    from tidb_large_table_compare_spark.operators.compaction import (
        CompactionError,
        compaction_plan,
        execute_compaction,
        file_inventory,
        swap_compacted,
    )

    big = str(tmp_path / "lake" / "big.parquet")
    small = str(tmp_path / "lake" / "small.parquet")
    spark.range(0, 100).coalesce(1).write.parquet(big)
    spark.range(100, 200).repartition(4).write.parquet(small)

    inv = file_inventory(spark, str(tmp_path / "lake"))
    big_bytes = int(
        inv.filter(F.col("path").contains("big")).agg(F.sum("bytes")).collect()[0][0]
    )
    plan = compaction_plan(inv, big_bytes).localCheckpoint()  # big keeps
    acts = {r.path: r.action for r in plan.collect()}
    assert set(a for p, a in acts.items() if "/big.parquet/" in p) == {"keep"}

    out = str(tmp_path / "compacted")
    # swap before execute: the mirror is missing — refuse, sources intact
    with pytest.raises(CompactionError, match="re-run execute_compaction"):
        swap_compacted(spark, plan, out)
    assert file_inventory(spark, str(tmp_path / "lake")).count() == 5

    execute_compaction(spark, plan, out)
    manifest = swap_compacted(spark, plan, out)
    assert manifest["dirs_swapped"] == 1  # only small.parquet
    import os
    assert not any(
        n.startswith("compacted-") for n in os.listdir(big)
    )  # keep-only dir untouched
    assert spark.read.parquet(str(tmp_path / "lake" / "*.parquet")).count() == 200


def test_swap_compacted_heals_interrupted_swap(spark, tmp_path):
    """Kill-between-renames recovery: a canonical dir left only under .old
    (the two-rename window) and a half-staged .compacting side dir are both
    healed on the next run, which then completes the swap."""
    import os

    from tidb_large_table_compare_spark.operators.compaction import (
        compaction_plan,
        execute_compaction,
        file_inventory,
        swap_compacted,
    )

    src = str(tmp_path / "lake" / "t1.parquet")
    df = spark.range(0, 400).withColumn("v", F.col("id") * 3)
    df.repartition(8).write.parquet(src)
    inv = file_inventory(spark, str(tmp_path / "lake"))
    target = int(inv.agg(F.sum("bytes")).collect()[0][0] // 3)
    plan = compaction_plan(inv, target).localCheckpoint()
    out = str(tmp_path / "compacted")
    execute_compaction(spark, plan, out)

    # crash window: src moved aside (between the two renames), plus a
    # stale side dir in the state staging leaves it — carried (non-planned)
    # entries moved out of src under their own names, merged files under
    # the compacted- prefix. The heal must move the carried entry back and
    # discard the stale merged one (execute's outputs are still in `out`,
    # so the retried swap re-stages from there).
    os.rename(src, src + ".old")
    os.makedirs(src + ".compacting")
    with open(f"{src}.compacting/compacted-junk.parquet", "w") as fh:
        fh.write("stale merged debris")
    with open(f"{src}.compacting/_notes.txt", "w") as fh:
        fh.write("carried sidecar")

    manifest = swap_compacted(spark, plan, out)
    assert manifest["healed"] == [f"file:{src}"] or manifest["healed"] == [src]
    assert manifest["dirs_swapped"] == 1
    back = spark.read.parquet(src)
    assert back.exceptAll(df).count() == 0 and df.exceptAll(back).count() == 0
    assert not os.path.exists(src + ".old")
    assert not os.path.exists(src + ".compacting")
    names = os.listdir(src)
    assert not any(n == "compacted-junk.parquet" for n in names)
    assert "_notes.txt" in names  # the carried entry survived the crash


def test_maintenance_cli_swap_flag(spark, tmp_path, capsys):
    """--swap completes the maintenance loop in one run: plan → execute →
    in-place swap, with the swap manifest on stdout; --swap without
    --execute-out is an argument error."""
    import json as _json

    from tidb_large_table_compare_spark.maintenance_cli import main

    assert main(["--dir", str(tmp_path), "--swap"]) == 2
    assert "--execute-out" in capsys.readouterr().err

    src = str(tmp_path / "lake" / "t1")
    spark.range(0, 200).repartition(4).write.parquet(src)
    code = main(
        [
            "--dir", str(tmp_path / "lake"),
            "--target-bytes", str(1 << 30),
            "--execute-out", str(tmp_path / "compacted"),
            "--swap",
        ]
    )
    assert code == 0
    out = capsys.readouterr().out
    swap_line = next(l for l in out.splitlines() if l.startswith("swap "))
    swapped = _json.loads(swap_line[len("swap "):])
    assert swapped["dirs_swapped"] == 1 and swapped["files_retired"] == 4
    assert spark.read.parquet(src).count() == 200
    import os
    assert sum(n.startswith("compacted-") for n in os.listdir(src)) == 1


def test_maintenance_cli_partial_failure_prints_manifest(
    spark, tmp_path, capsys, monkeypatch
):
    """A partial execute failure must follow the documented contract: the
    partial manifest (succeeded bins) still prints for a scheduler to
    resume from, the FULL failure list goes to stderr, exit code 3 — and
    a requested --swap never runs over a half-built mirror."""
    from tidb_large_table_compare_spark.maintenance_cli import main
    from tidb_large_table_compare_spark.operators import compaction

    src = str(tmp_path / "lake" / "t1")
    spark.range(0, 200).repartition(4).write.parquet(src)

    partial = {"bins": 1, "files_merged": 2, "kept": 0, "unknown": 0,
               "outputs": ["x/bin=00000"]}
    def _boom(spark_, plan, out_dir, parallelism=8):
        raise compaction.CompactionError(
            "1/2 compaction bins failed", manifest=partial,
            failures=["t1 bin=1: boom", "t1 bin=2: also boom"],
        )
    monkeypatch.setattr(compaction, "execute_compaction", _boom)
    swap_called = []
    monkeypatch.setattr(
        compaction, "swap_compacted",
        lambda *a, **k: swap_called.append(1),
    )

    code = main(
        [
            "--dir", str(tmp_path / "lake"),
            "--target-bytes", str(1 << 30),
            "--execute-out", str(tmp_path / "compacted"),
            "--swap",
        ]
    )
    assert code == 3
    captured = capsys.readouterr()
    import json as _json
    exec_line = next(
        l for l in captured.out.splitlines() if l.startswith("execute ")
    )
    assert _json.loads(exec_line[len("execute "):]) == partial
    assert "failed: t1 bin=1: boom" in captured.err
    assert "failed: t1 bin=2: also boom" in captured.err
    assert not swap_called  # never swap a half-built mirror


def test_maintenance_cli_swap_failure_prints_full_failure_list(
    spark, tmp_path, capsys, monkeypatch
):
    """A partial SWAP failure follows the same contract as execute: partial
    swap manifest on stdout, the FULL failure list on stderr (the exception
    message previews only the first 5), exit code 3."""
    from tidb_large_table_compare_spark.maintenance_cli import main
    from tidb_large_table_compare_spark.operators import compaction

    src = str(tmp_path / "lake" / "t1")
    spark.range(0, 200).repartition(4).write.parquet(src)

    partial = {"dirs_swapped": 1, "files_swapped_in": 1, "files_retired": 4,
               "carried": 1, "healed": []}
    fail_list = [f"t{i}: rename boom" for i in range(1, 8)]  # > 5-preview
    def _boom(spark_, plan, out_dir, parallelism=8):
        raise compaction.CompactionError(
            "7/8 directory swaps failed", manifest=partial,
            failures=fail_list,
        )
    monkeypatch.setattr(compaction, "swap_compacted", _boom)

    code = main(
        [
            "--dir", str(tmp_path / "lake"),
            "--target-bytes", str(1 << 30),
            "--execute-out", str(tmp_path / "compacted"),
            "--swap",
        ]
    )
    assert code == 3
    captured = capsys.readouterr()
    import json as _json
    swap_line = next(
        l for l in captured.out.splitlines() if l.startswith("swap ")
    )
    assert _json.loads(swap_line[len("swap "):]) == partial
    for f in fail_list:  # every failure, not just the 5-preview
        assert f"failed: {f}" in captured.err


def test_maintenance_cli_distributed_inventory_flag(spark, tmp_path, capsys):
    """--distributed-inventory plans from the Spark-index listing and must
    produce the same plan as the driver walk; combining it with
    --no-recursive is an argument error (the binaryFile index always
    recurses)."""
    from tidb_large_table_compare_spark.maintenance_cli import main

    assert main(
        ["--dir", str(tmp_path), "--distributed-inventory", "--no-recursive"]
    ) == 2
    assert "recursive" in capsys.readouterr().err

    src = str(tmp_path / "lake" / "t1")
    spark.range(0, 200).repartition(4).write.parquet(src)
    for flag in ([], ["--distributed-inventory"]):
        code = main(
            ["--dir", str(tmp_path / "lake"),
             "--target-bytes", str(1 << 30)] + flag
        )
        assert code == 0
    out = capsys.readouterr().out
    plans = [l for l in out.splitlines() if l.startswith("plan ")]
    assert len(plans) == 2 and plans[0] == plans[1]


def test_file_inventory_distributed_matches_driver_walk(spark, tmp_path):
    """The distributed (binaryFile-index) listing and the driver walk must
    produce the SAME inventory — paths, bytes, hidden-entry semantics —
    and the auto path must fall back to it above the driver-row bound."""
    from tidb_large_table_compare_spark.operators.compaction import (
        file_inventory,
    )

    lake = str(tmp_path / "lake")
    spark.range(0, 100).repartition(3).write.parquet(f"{lake}/a/date=1")
    spark.range(0, 50).repartition(2).write.parquet(f"{lake}/b")
    (tmp_path / "lake" / "a" / "_hidden.parquet").write_text("x")
    # the hard case: Spark's own index KEEPS _name=value dirs (the
    # partition-dir exception) while the driver walk hides them — the
    # explicit relative-path filter must make the listings agree
    spark.range(0, 10).write.parquet(f"{lake}/_staging=1")

    driver = sorted(
        map(tuple, file_inventory(spark, lake, distributed=False).collect())
    )
    dist_df = file_inventory(spark, lake, distributed=True)
    # the binaryFile scan must stay metadata-only: path+length requested,
    # content never in the ReadSchema (selecting it would OPEN every file)
    plan = dist_df._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<path:string,length:bigint>" in plan, plan
    dist = sorted(map(tuple, dist_df.collect()))
    assert driver == dist and len(driver) == 5
    assert not any("_hidden" in p for p, _ in driver)

    # auto fallback: a tiny driver bound forces the distributed redo
    auto = sorted(
        map(tuple, file_inventory(spark, lake, max_driver_files=2).collect())
    )
    assert auto == driver

    with pytest.raises(ValueError, match="recursive"):
        file_inventory(spark, lake, recursive=False, distributed=True)


def test_distributed_inventory_fails_loudly_on_prefix_mismatch(
    spark, tmp_path, monkeypatch
):
    """The relative-path slice that hides protocol/_-dirs assumes the
    binaryFile `path` column shares the FS-qualified root's rendering
    (ADVICE r8): a divergence (URL-encoding, scheme normalization drift)
    must raise per-row instead of silently mis-slicing — the filter feeds
    the DESTRUCTIVE swap step."""
    from tidb_large_table_compare_spark.operators import compaction as C

    real = C.hadoop_fs

    class _Diverged:
        """FS whose makeQualified renders a prefix binaryFile won't use."""

        def __init__(self, fs):
            self._fs = fs

        def makeQualified(self, p):
            class _Q:
                def toString(self):
                    return "file:/definitely/elsewhere"

            return _Q()

        def __getattr__(self, name):
            return getattr(self._fs, name)

    def diverged(spark_, path, op):
        fs, jp = real(spark_, path, op)
        return _Diverged(fs), jp

    monkeypatch.setattr(C, "hadoop_fs", diverged)
    spark.range(3).coalesce(1).write.parquet(str(tmp_path / "t"))
    with pytest.raises(Exception, match="prefix mismatch"):
        C._file_inventory_distributed(spark, str(tmp_path)).collect()


def test_distributed_inventory_hostile_path_chars(spark, tmp_path):
    """Spaces and literal percent signs — the URL-encoding shapes the
    prefix validation exists for — must list identically through the
    driver walk and the binaryFile index (on Spark 4 both render
    unencoded; if a future version starts URL-encoding the path column,
    the per-row prefix check fails loudly instead of mis-slicing)."""
    from tidb_large_table_compare_spark.operators.compaction import (
        file_inventory,
    )

    lake = str(tmp_path / "la ke")  # space in the ROOT itself
    spark.range(3).coalesce(1).write.parquet(f"{lake}/a b")
    spark.range(3).coalesce(1).write.parquet(f"{lake}/p%20q")
    driver = sorted(
        map(tuple, file_inventory(spark, lake, distributed=False).collect())
    )
    dist = sorted(
        map(tuple, file_inventory(spark, lake, distributed=True).collect())
    )
    assert driver == dist and len(driver) == 2
    assert any("a b" in p for p, _ in dist)
    assert any("p%20q" in p for p, _ in dist)  # literal %, never decoded


def test_file_inventory_deep_narrow_chain_no_level_barrier(spark, tmp_path):
    """A y=/m=/d= chain (one subdir per level) lists correctly through the
    shared work queue — the shape that degraded to a serial walk under the
    old per-level barrier."""
    from tidb_large_table_compare_spark.operators.compaction import (
        file_inventory,
    )

    deep = tmp_path / "lake"
    for y in (2023, 2024):
        for m in (1, 2):
            spark.range(0, 10).coalesce(1).write.parquet(
                str(deep / f"y={y}" / f"m={m}" / "d=01")
            )
    inv = file_inventory(spark, str(deep))
    rows = inv.collect()
    assert len(rows) == 4
    assert all("/d=01/" in r.path and r.bytes > 0 for r in rows)


def test_swap_compacted_nested_planned_dirs_wave_order(spark, tmp_path):
    """A planned dir nested inside another planned dir: the descendant must
    swap before the ancestor (the ancestor briefly renames its whole
    subtree aside), and both end lossless."""
    from tidb_large_table_compare_spark.operators.compaction import (
        compaction_plan,
        execute_compaction,
        file_inventory,
        swap_compacted,
    )

    parent = str(tmp_path / "lake" / "t")
    child = str(tmp_path / "lake" / "t" / "date=1")
    spark.range(0, 100).repartition(3).write.parquet(parent)
    spark.range(1000, 1100).repartition(3).write.parquet(child)

    inv = file_inventory(spark, str(tmp_path / "lake"))
    plan = compaction_plan(inv, 1 << 30).localCheckpoint()  # all compact
    out = str(tmp_path / "compacted")
    execute_compaction(spark, plan, out)
    manifest = swap_compacted(spark, plan, out)
    assert manifest["dirs_swapped"] == 2 and manifest["files_retired"] == 6

    import os
    assert spark.read.parquet(child).count() == 100
    # the parent's own rows: read only its top-level merged file
    top = [n for n in os.listdir(parent) if n.startswith("compacted-")]
    assert len(top) == 1
    assert spark.read.parquet(f"{parent}/{top[0]}").count() == 100
    assert {r.id for r in spark.read.parquet(f"{parent}/{top[0]}").collect()} == set(
        range(0, 100)
    )


def test_swap_compacted_sibling_failure_isolation(spark, tmp_path):
    """One directory's missing mirror fails its swap only: siblings still
    swap, and the CompactionError carries the partial manifest plus the
    full failure list (same contract as execute_compaction)."""
    import os
    import shutil

    from tidb_large_table_compare_spark.operators.compaction import (
        CompactionError,
        compaction_plan,
        execute_compaction,
        file_inventory,
        swap_compacted,
    )

    a = str(tmp_path / "lake" / "a")
    b = str(tmp_path / "lake" / "b")
    spark.range(0, 100).repartition(3).write.parquet(a)
    spark.range(1000, 1100).repartition(3).write.parquet(b)
    inv = file_inventory(spark, str(tmp_path / "lake"))
    plan = compaction_plan(inv, 1 << 30).localCheckpoint()
    out = str(tmp_path / "compacted")
    execute_compaction(spark, plan, out)
    shutil.rmtree(f"{out}/b")  # sabotage one mirror

    with pytest.raises(CompactionError) as exc_info:
        swap_compacted(spark, plan, out)
    exc = exc_info.value
    assert exc.manifest["dirs_swapped"] == 1
    assert len(exc.failures) == 1 and "b bin=0" in exc.failures[0]
    # the healthy sibling really swapped; the failed one is untouched
    assert any(n.startswith("compacted-") for n in os.listdir(a))
    assert sum(n.startswith("part-") for n in os.listdir(b)) == 3
    assert spark.read.parquet(b).count() == 100


def test_swap_crash_at_every_protocol_step_heals(spark, tmp_path):
    """Kill the swap at EVERY mutating FS operation in turn (the
    _before_op crash-injection seam) and run the operational recovery
    flow a scheduler would (heal_tree → re-inventory → re-plan →
    re-execute → re-swap): every crash point must end fully healed,
    lossless, and debris-free."""
    import os

    from tidb_large_table_compare_spark.operators.compaction import (
        CompactionError,
        compaction_plan,
        execute_compaction,
        file_inventory,
        heal_tree,
        swap_compacted,
    )

    labels = ["stage-merged", "carry", "rename-aside", "rename-in",
              "delete-old"]
    df = spark.range(0, 300).withColumn("v", F.col("id") * 7)
    expected = sorted(map(tuple, df.collect()))

    for i, label in enumerate(labels):
        lake = str(tmp_path / f"lake_{label}")
        src = f"{lake}/t1"
        df.repartition(6).write.parquet(src)
        with open(f"{src}/_sidecar.txt", "w") as fh:
            fh.write("carried")  # ensures the 'carry' label fires
        out = str(tmp_path / f"out_{label}")
        inv = file_inventory(spark, lake)
        plan = compaction_plan(inv, 1 << 30).localCheckpoint()
        execute_compaction(spark, plan, out)

        def crash(op, _label=label):
            if op == _label:
                raise OSError(f"injected crash at {op}")

        with pytest.raises(CompactionError, match="injected crash"):
            swap_compacted(spark, plan, out, _before_op=crash)

        # operational recovery: heal, then re-run the whole loop
        heal_tree(spark, lake)
        assert not os.path.exists(src + ".old")
        assert not os.path.exists(src + ".compacting")
        inv2 = file_inventory(spark, lake)
        plan2 = compaction_plan(inv2, 1 << 30).localCheckpoint()
        todo = plan2.filter(F.col("action") == "compact")
        if todo.count() > 0:  # crash before completion: finish the swap
            out2 = str(tmp_path / f"out2_{label}")
            execute_compaction(spark, plan2, out2)
            swap_compacted(spark, plan2, out2)
        back = sorted(map(tuple, spark.read.parquet(src).collect()))
        assert back == expected, f"data loss after crash at {label}"
        names = os.listdir(src)
        assert "_sidecar.txt" in names, f"carried entry lost at {label}"
        assert not os.path.exists(src + ".old")
        assert not os.path.exists(src + ".compacting")
        # post-swap crashes must need NO further compaction (idempotent
        # fixed point), pre-swap crashes must have re-compacted
        merged = [n for n in names if n.startswith("compacted-")]
        assert len(merged) == 1, f"{label}: {names}"


def test_file_inventory_and_heal_tree_skip_reclaim_protocol_dirs(spark, tmp_path):
    """An unhealed X.old must never be inventoried (it holds retired
    duplicates of X), and heal_tree must reclaim it tree-wide — including
    the post-swap crash shape no later plan would ever revisit."""
    from tidb_large_table_compare_spark.operators.compaction import (
        file_inventory,
        heal_tree,
    )

    import os
    import shutil

    lake = str(tmp_path / "lake")
    src = f"{lake}/t1"
    spark.range(0, 50).coalesce(1).write.parquet(src)
    # simulate the post-swap crash: canonical healthy, .old still present
    shutil.copytree(src, src + ".old")
    os.makedirs(f"{lake}/t2.compacting")

    inv = file_inventory(spark, lake).collect()
    assert all(".old" not in r.path and ".compacting" not in r.path for r in inv)
    dist = file_inventory(spark, lake, distributed=True).collect()
    assert sorted(r.path for r in inv) == sorted(r.path for r in dist)

    healed = heal_tree(spark, lake)
    assert [h.rsplit("/", 1)[-1] for h in healed] == ["t1", "t2"]
    assert not os.path.exists(src + ".old")
    assert not os.path.exists(f"{lake}/t2.compacting")
    assert spark.read.parquet(src).count() == 50


def test_heal_refuses_orphan_side_dir_with_carried_entries(spark, tmp_path):
    """An orphan .compacting dir (no canonical sibling, no .old) is
    unreachable under the protocol — manual deletion made it. If it holds
    carried entries, they may be their only copy, so heal_tree must raise
    rather than discard them; merged-prefixed entries alone (re-creatable
    by execute_compaction) are still reclaimed."""
    import os

    from tidb_large_table_compare_spark.operators.compaction import (
        CompactionError,
        heal_tree,
    )

    lake = str(tmp_path / "lake")
    side = f"{lake}/gone.compacting"
    os.makedirs(side)
    with open(f"{side}/keep-0001.parquet", "w") as f:
        f.write("x")  # a carried (non-merged) entry
    # a HEALABLE swap alongside the orphan: its repair must complete and
    # be reported even though the orphan raises — one failing heal must
    # not discard the others' outcomes (CompactionError carries both)
    os.makedirs(f"{lake}/fine")
    with open(f"{lake}/fine/compacted-00000-part.parquet", "w") as f:
        f.write("x")
    os.makedirs(f"{lake}/fine.old")
    with pytest.raises(CompactionError, match="refusing to discard") as ei:
        heal_tree(spark, lake)
    assert os.path.exists(f"{side}/keep-0001.parquet")  # nothing lost
    assert [h.rsplit("/", 1)[-1] for h in ei.value.manifest["healed"]] == [
        "fine"
    ]
    assert not os.path.exists(f"{lake}/fine.old")  # the good heal ran
    assert len(ei.value.failures) == 1

    os.remove(f"{side}/keep-0001.parquet")
    with open(f"{side}/compacted-00001-part.parquet", "w") as f:
        f.write("x")  # merged-only: safe to reclaim
    assert [h.rsplit("/", 1)[-1] for h in heal_tree(spark, lake)] == ["gone"]
    assert not os.path.exists(side)


def test_maintenance_cli_heal_only_mode(spark, tmp_path, capsys):
    """--heal-only reclaims interrupted swaps and exits without planning;
    it refuses to combine with plan/execute/swap flags."""
    import os
    import shutil

    from tidb_large_table_compare_spark.maintenance_cli import main

    assert main(
        ["--dir", str(tmp_path), "--heal-only", "--plan-out", str(tmp_path / "p")]
    ) == 2
    assert "heal-only" in capsys.readouterr().err

    lake = str(tmp_path / "lake")
    src = f"{lake}/t1"
    spark.range(0, 50).coalesce(1).write.parquet(src)
    shutil.copytree(src, src + ".old")  # post-swap crash shape

    assert main(["--dir", lake, "--heal-only"]) == 0
    out = capsys.readouterr().out
    assert "healed interrupted swap" in out and "1 interrupted swap" in out
    assert not os.path.exists(src + ".old")
    assert spark.read.parquet(src).count() == 50
    # nothing planned or executed
    assert "plan " not in out and "execute " not in out


def test_maintenance_cli_heal_failure_exit_contract(spark, tmp_path, capsys):
    """A failing heal (the orphan .compacting refusal) follows the same
    contract as execute/swap failures: the heals that DID complete print
    to stdout, the full failure list goes to stderr, exit code 3 (never
    1, which means 'run lock held')."""
    import os
    import shutil

    from tidb_large_table_compare_spark.maintenance_cli import main

    lake = str(tmp_path / "lake")
    src = f"{lake}/t1"
    spark.range(0, 50).coalesce(1).write.parquet(src)
    shutil.copytree(src, src + ".old")  # healable: post-swap crash shape
    orphan = f"{lake}/gone.compacting"
    os.makedirs(orphan)
    with open(f"{orphan}/keep-0001.parquet", "w") as f:
        f.write("x")  # carried entry with no canonical: heal must refuse

    assert main(["--dir", lake, "--heal-only"]) == 3
    cap = capsys.readouterr()
    assert "healed interrupted swap" in cap.out and "/t1" in cap.out
    assert "refusing to discard" in cap.err
    assert not os.path.exists(src + ".old")  # the good heal still ran
    assert os.path.exists(f"{orphan}/keep-0001.parquet")  # nothing lost


def test_load_table_reuses_resolved_handle_per_session(spark):
    """Round-12 metadata cache: the same (session, path) load returns the
    SAME resolved DataFrame handle (no per-call relation re-resolution),
    and the cache holds metadata only — actions still read the parquet."""
    a = load_table(spark, SF, "orders")
    b = load_table(spark, SF, "orders")
    assert a is b
    assert a.count() == b.count() > 0


def test_load_table_shared_handle_survives_self_join(spark):
    """Two loads of the same table are the SAME DataFrame object (round-12
    handle cache) — a caller joining "two copies" therefore builds a
    self-join. The supported join shapes must still analyze and produce
    correct counts (round-12 VERDICT exposure: nothing pinned this)."""
    a = load_table(spark, SF, "orders")
    b = load_table(spark, SF, "orders")
    assert a is b
    # name-based equi-join: the shape every engine caller uses
    assert a.join(b, "o_orderkey").count() == a.count()
    # alias-disambiguated column-expression join also analyzes
    j = a.alias("l").join(
        b.alias("r"), F.col("l.o_orderkey") == F.col("r.o_orderkey")
    )
    assert j.count() == a.count()


def test_load_table_cache_invalidates_on_inplace_overwrite(spark, tmp_path):
    """A data file overwritten IN PLACE inside a parquet directory (same
    filename set — the directory's own mtime may not move) must still
    invalidate the metadata caches: the fingerprint folds child-entry
    stats in (round-12 ADVICE)."""
    import os
    import shutil

    sfdir = str(tmp_path / "sf")
    ddir = f"{sfdir}/region.parquet"
    v1 = load_table(spark, SF, "region")
    n1 = v1.count()
    v1.coalesce(1).write.parquet(ddir)
    v2dir = str(tmp_path / "v2")
    v1.limit(max(n1 - 1, 1)).coalesce(1).write.parquet(v2dir)

    first = load_table(spark, sfdir, "region")
    assert first.count() == n1
    dir_stat = os.stat(ddir)
    part1 = [f for f in os.listdir(ddir) if f.endswith(".parquet")][0]
    part2 = [f for f in os.listdir(v2dir) if f.endswith(".parquet")][0]
    # overwrite the part file's CONTENT under its existing name, then pin
    # the directory's own timestamps back (the filesystems-that-don't-bump
    # case the fingerprint must survive)
    shutil.copyfile(f"{v2dir}/{part2}", f"{ddir}/{part1}")
    # the in-place writer also replaces Hadoop's .crc sidecar (keeping the
    # stale one would fail ANY reader with a ChecksumException, cached or
    # not — this test is about the metadata caches, not checksums)
    shutil.copyfile(f"{v2dir}/.{part2}.crc", f"{ddir}/.{part1}.crc")
    os.utime(ddir, ns=(dir_stat.st_atime_ns, dir_stat.st_mtime_ns))

    again = load_table(spark, sfdir, "region")
    assert again is not first
    assert again.count() == max(n1 - 1, 1)


def test_load_table_cache_invalidates_on_rewrite(spark, tmp_path):
    """A rewritten path (new mtime fingerprint) must re-resolve: the cache
    can never serve a stale relation for replaced data."""
    import os
    import shutil

    sfdir = str(tmp_path)
    src = f"{SF}/region.parquet"
    dst = f"{sfdir}/region.parquet"
    shutil.copytree(src, dst) if os.path.isdir(src) else shutil.copy(src, dst)
    first = load_table(spark, sfdir, "region")
    n_first = first.count()
    # rewrite the table with fewer rows under the same path
    reduced = first.limit(max(n_first - 1, 1)).collect()
    shutil.rmtree(dst, ignore_errors=True) if os.path.isdir(dst) else os.remove(dst)
    spark.createDataFrame(reduced, first.schema).write.mode("overwrite").parquet(dst)
    again = load_table(spark, sfdir, "region")
    assert again is not first
    assert again.count() == len(reduced)
