"""Watermark semantics: late data beyond the watermark must be dropped in
append mode — the real Structured Streaming behavior, not the batch shortcut."""

from __future__ import annotations

import time

from pyspark.sql import functions as F


def test_watermark_drops_late_rows(spark, tmp_path):
    src = tmp_path / "stream_src"
    src.mkdir()
    schema = "event_id bigint, ts timestamp, v double"

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(
            str(src)
        )

    import datetime as dt

    base = dt.datetime(2024, 1, 1, 0, 0, 0)

    # batch 1: events at 00:05 and 02:30 — watermark advances to 02:30-1h=01:30
    write_batch("b1", [(1, base + dt.timedelta(minutes=5), 1.0),
                       (2, base + dt.timedelta(hours=2, minutes=30), 1.0)])

    stream = (
        spark.readStream.schema(schema).format("parquet").load(str(src))
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_test")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: a LATE event at 00:10 (before the 01:30 watermark) plus an
        # on-time event at 03:00 that closes the 00:00 window for append
        write_batch("b2", [(3, base + dt.timedelta(minutes=10), 1.0),
                           (4, base + dt.timedelta(hours=3), 1.0)])
        q.processAllAvailable()
        # one more batch so the closed windows flush deterministically
        write_batch("b3", [(5, base + dt.timedelta(hours=5), 1.0)])
        q.processAllAvailable()
    finally:
        q.stop()

    out = {
        r["w"].start.isoformat(): r["n"]
        for r in spark.sql("SELECT * FROM wm_test").collect()
    }
    # the 00:00 window must contain ONLY event 1 — the late event 3 arrived
    # after the watermark passed 01:00 and is dropped
    assert out.get("2024-01-01T00:00:00") == 1, out


def test_compare_null_pk_semantics(spark):
    """NULL-PK behavior (SURVEY.md §7 hard part):

    - when both sides agree, null-pk rows digest identically and cancel —
      in the digest and, if their bucket is drilled, in the row pairing;
    - when a null-pk row differs, the drill-down pairs it by row hash, not
      by key, so it is one missing + one extra (instead of one modified);
      the multiset path reports the same totals.
    """
    from tidb_large_table_compare_spark.operators.compare import compare_tables

    a = spark.createDataFrame([(1, "x"), (None, "same")], "pk bigint, s string")
    b = spark.createDataFrame([(1, "x"), (None, "same")], "pk bigint, s string")
    row = compare_tables(spark, a, b, ["pk"], table_name="n").summary().collect()[0]
    assert row.upcount == 0 and row.downcount == 0 and row.equivalent

    c = spark.createDataFrame([(1, "x"), (None, "CHANGED")], "pk bigint, s string")
    row2 = compare_tables(spark, a, c, ["pk"], table_name="n").summary().collect()[0]
    assert row2.upcount == 1 and row2.downcount == 1 and not row2.equivalent

    # multiset fallback reports the same totals without join degradation
    row3 = compare_tables(spark, a, c, None, table_name="n").summary().collect()[0]
    assert row3.upcount == 1 and row3.downcount == 1


def test_foreach_batch_idempotent_sink(spark, tmp_path):
    """foreachBatch + epoch-keyed overwrite: the exactly-once sink pattern
    (a retried epoch rewrites its own directory instead of duplicating)."""
    import datetime as dt

    src = tmp_path / "src"
    src.mkdir()
    out = tmp_path / "out"
    schema = "event_id bigint, ts timestamp, v double"
    base = dt.datetime(2024, 1, 1)
    spark.createDataFrame(
        [(i, base + dt.timedelta(minutes=i), float(i)) for i in range(20)], schema
    ).coalesce(1).write.mode("append").parquet(str(src))

    stream = (
        spark.readStream.schema(schema).format("parquet").load(str(src))
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )

    def write_epoch(df, epoch_id):
        df.write.mode("overwrite").parquet(f"{out}/epoch={epoch_id}")

    q = stream.writeStream.outputMode("complete").foreachBatch(write_epoch).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    result = spark.read.parquet(f"{out}/epoch=0")
    rows = {r.ws.isoformat(): r.n for r in result.collect()}
    assert rows == {
        "2024-01-01T00:00:00": 10,
        "2024-01-01T00:10:00": 10,
    }


def test_checkpoint_recovery_is_exactly_once(spark, tmp_path):
    """Restarting a file-source query from its checkpoint must neither
    reprocess already-committed input files nor lose new ones: the offset
    log records which files each batch consumed, so the appended sink ends
    up with every source row exactly once across two separate runs."""
    import datetime as dt

    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "event_id bigint, ts timestamp, v double"
    base = dt.datetime(2024, 1, 1)

    def append_file(start, n):
        spark.createDataFrame(
            [(i, base + dt.timedelta(minutes=i), float(i)) for i in range(start, start + n)],
            schema,
        ).coalesce(1).write.mode("append").parquet(str(src))

    def run_once():
        q = (
            spark.readStream.schema(schema).format("parquet").load(str(src))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    append_file(0, 10)
    run_once()  # first run commits rows 0-9
    append_file(10, 15)
    run_once()  # restart from checkpoint: only the new file is consumed

    got = spark.read.parquet(out)
    ids = sorted(r.event_id for r in got.collect())
    assert ids == list(range(25))  # no loss, no duplicates


def test_streaming_entry_restores_session_confs(spark):
    """Streaming entries pin nanosAsLong + UTC for the life of the stream
    only (_scoped_stream_confs): after the entry returns, the session confs
    are back to their prior values — previously the sets were permanent,
    the engine's last unscoped session mutation."""
    from tidb_large_table_compare_spark.streaming.events import (
        streaming_hourly_counts,
    )

    keys = ["spark.sql.legacy.parquet.nanosAsLong", "spark.sql.session.timeZone"]

    def snapshot():
        out = {}
        for k in keys:
            try:
                out[k] = spark.conf.get(k)
            except Exception:
                out[k] = None
        return out

    # known prior state: nanosAsLong explicitly unset (an earlier test may
    # have driven a stream); the entry must re-unset it on exit, not leave
    # its own "true" behind
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    before = snapshot()
    rows = streaming_hourly_counts(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) > 0  # the stream actually ran under the pinned confs
    assert snapshot() == before


def test_stream_state_store_is_rocksdb_with_env_seam(monkeypatch):
    """Stateful streaming runs on the RocksDB state store: the default
    HDFSBackedStateStoreProvider keeps every state key in executor heap,
    which the r12 sf100 rehearsal measured as a cliff (the stream-stream
    join's state over 100M events OOM'd the JVM; the same state fit at
    30M). Pin the provider conf every stream is started under, and the
    documented SPARK_GRAFT_STATE_STORE=hdfs escape hatch."""
    import importlib

    from tidb_large_table_compare_spark.streaming import events

    key = "spark.sql.streaming.stateStore.providerClass"
    assert events._STREAM_CONFS[key].endswith("RocksDBStateStoreProvider")

    monkeypatch.setenv("SPARK_GRAFT_STATE_STORE", "hdfs")
    try:
        reloaded = importlib.reload(events)
        assert reloaded._STREAM_CONFS[key].endswith(
            "HDFSBackedStateStoreProvider"
        )
    finally:
        monkeypatch.delenv("SPARK_GRAFT_STATE_STORE")
        importlib.reload(events)


def test_event_stream_reads_spark_dataset_directories(spark, tmp_path):
    """A Spark-written events table is a DIRECTORY of part-files; the glob
    path used for the single-file testdata layout matches leaf file names
    and silently yields an EMPTY stream for a directory (caught by the 10x
    rehearsal). Both layouts must produce the batch-identical row set."""
    from tidb_large_table_compare_spark.sources.tables import load_table
    from tidb_large_table_compare_spark.streaming.events import (
        streaming_hourly_counts,
    )

    src = "/root/testdata/sf0.001"
    events = load_table(spark, src, "events")
    out = tmp_path / "gen_dir"
    events.repartition(3).write.parquet(str(out / "events.parquet"))

    from_dir = streaming_hourly_counts(spark, str(out))
    from_file = streaming_hourly_counts(spark, src)
    got = sorted(map(tuple, from_dir.collect()))
    want = sorted(map(tuple, from_file.collect()))
    assert got == want and len(got) > 0


def test_stateful_totals_round_half_away_from_zero(spark, tmp_path):
    """An exactly-representable half-cent (value = 0.125 → 12.5 cents)
    must round AWAY FROM ZERO like SQL round() in both engines — pandas
    .round() is half-to-even and would emit 12, diverging from the oracle
    by one cent."""
    import datetime

    from pyspark.sql import functions as F

    from tidb_large_table_compare_spark.streaming.events import (
        streaming_user_totals,
    )

    src = tmp_path / "sf"
    src.mkdir()
    ts = datetime.datetime(2024, 1, 1, 9, 0, 0)
    spark.createDataFrame(
        [(1, ts, 7, "purchase", 0.125, None),
         (2, ts, 7, "purchase", 0.375, None),
         (3, ts, 8, "purchase", 1.0, None)],
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string",
    ).coalesce(1).write.parquet(str(src / "events.parquet"))

    got = {
        (r.user_id, r.n_events, r.total_cents)
        for r in streaming_user_totals(spark, str(src)).collect()
    }
    # 12.5 → 13 and 37.5 → 38 (half-away); banker's rounding would give
    # 12 + 38 = 50 for user 7 instead of 51
    assert got == {(7, 2, 51), (8, 1, 100)}


def test_streaming_entries_drop_their_memory_tables(spark):
    """Each entry's memory-sink temp view must be dropped after its rows
    are snapshotted: the sink retains the full result set for the session
    lifetime, so repeated invocations (driver rounds, bench samples)
    would otherwise leak one result copy per call."""
    from tidb_large_table_compare_spark.streaming.events import (
        streaming_hourly_counts,
    )

    def stream_views():
        return [
            t.name for t in spark.catalog.listTables()
            if t.isTemporary and t.name.startswith("stream_")
        ]

    before = stream_views()
    result = streaming_hourly_counts(spark, "/root/testdata/sf0.001")
    assert stream_views() == before  # view gone before the caller acts
    assert result.count() > 0  # rows survive the drop (checkpointed)


def test_stream_stream_join_uses_file_sink_not_driver_memory(spark):
    """streaming_purchase_signup_join must return a parquet-file-backed
    frame (the micro-batches write a file sink), never a memory-sink
    snapshot: a stream-stream join's output grows with matches, and the
    memory sink ships every batch's rows to the driver — the r11 sf10
    sweep killed the old shape at exactly spark.driver.maxResultSize
    (1 GiB serialized results, ~13.7M matches), invisible at driver SFs."""
    from tidb_large_table_compare_spark.streaming.events import (
        streaming_purchase_signup_join,
    )

    out = streaming_purchase_signup_join(spark, "/root/testdata/sf0.001")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FileScan parquet" in plan, plan[:500]
    assert "LocalTableScan" not in plan  # the driver-copy signature
    # no lingering memory-sink view either
    leftovers = [
        t.name for t in spark.catalog.listTables()
        if t.isTemporary and t.name.startswith("stream_ss_join")
    ]
    assert leftovers == []
    assert out.count() > 0


def test_stream_join_scratch_dirs_bounded_and_session_scoped(spark):
    """ADVICE r11: the old per-call tempfile.mkdtemp sink was never
    reclaimed — repeated driver/bench invocations accumulated a parquet
    copy + checkpoint per call. Policy now: one scratch ROOT per session
    (removed at interpreter exit), at most ONE live sink dir per
    (entry, sf_dir) — re-invoking reclaims the previous dir."""
    import os

    from tidb_large_table_compare_spark.streaming import events as ev

    sf = "/root/testdata/sf0.001"
    first = ev.streaming_purchase_signup_join(spark, sf)
    n_first = first.count()
    dir_first = ev._SCRATCH_LIVE[("stream_ss_join", sf)]
    root = ev._SCRATCH_ROOTS[spark.sparkContext.applicationId]
    assert dir_first.startswith(root)
    # earlier tests (and the oracle harness) may have probed OTHER sf_dirs
    # in this session — each key legitimately keeps one live dir; what must
    # not happen is growth on re-invocation of the SAME key
    live_before = set(os.listdir(root))

    second = ev.streaming_purchase_signup_join(spark, sf)
    dir_second = ev._SCRATCH_LIVE[("stream_ss_join", sf)]
    assert dir_second != dir_first
    assert not os.path.exists(dir_first)  # previous invocation reclaimed
    assert os.path.isdir(dir_second)
    assert second.count() == n_first
    live_after = set(os.listdir(root))
    assert len(live_after) == len(live_before)  # swap, not accumulate
    # and the live-dir census matches the registry exactly: one per key
    assert len(live_after) == len(ev._SCRATCH_LIVE)


def test_stream_join_zero_match_returns_empty_frame(spark, tmp_path):
    """ADVICE r11: a zero-match replay leaves the parquet sink with no
    data files; schema inference would raise 'Unable to infer schema'.
    The read-back pins the streaming plan's schema instead, so the
    degenerate case is an empty frame with the right columns."""
    from tidb_large_table_compare_spark.sources.tables import load_table
    from tidb_large_table_compare_spark.streaming.events import (
        streaming_purchase_signup_join,
    )

    # a miniature sf_dir whose events contain no purchase/signup rows
    events = load_table(spark, "/root/testdata/sf0.001", "events")
    clicks_only = events.filter(
        ~events.event_type.isin("purchase", "signup")
    ).limit(50)
    assert clicks_only.count() > 0
    clicks_only.write.parquet(str(tmp_path / "events.parquet"))

    out = streaming_purchase_signup_join(spark, str(tmp_path))
    assert out.columns == ["user_id", "purchase_id", "signup_id"]
    assert out.count() == 0
