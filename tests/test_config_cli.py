"""Config parsing (A7/A8) and the CLI workflow."""

from __future__ import annotations

import base64

import pytest
from pyspark.sql import functions as F

from tidb_large_table_compare_spark.config import decode_password, load_config
from tests.conftest import SF_SMALL

TOML = """
master_host = "10.0.0.1"
master_port = 4000
master_user = "root"
master_password = "{b64_pwd}"
slave_host = "10.0.0.2"
slave_port = 4000
slave_user = "reader"
slave_password = "plaintext-pass"
check_sql = "SELECT TABLE_SCHEMA, TABLE_NAME FROM information_schema.tables WHERE TABLE_ROWS > 1000000000"
thread_count = 8
chunk_size = 5000
output_dir = "/tmp/out"
range = "id > 0"
"""


def test_decode_password_fallback():
    # base64 decodes; plaintext (invalid b64 / non-utf8) passes through (A7)
    assert decode_password(base64.b64encode(b"s3cret!").decode()) == "s3cret!"
    assert decode_password("not base64 at all") == "not base64 at all"
    assert decode_password("") == ""
    # valid base64 of non-UTF8 bytes must also fall through, like the shell's
    # decode-then-use-anyway would corrupt; we keep the original string
    assert decode_password("/////w==") == "/////w=="


def test_load_config(tmp_path):
    pwd = base64.b64encode(b"hunter2").decode()
    f = tmp_path / "config.toml"
    f.write_text(TOML.format(b64_pwd=pwd))
    cfg = load_config(f)
    assert cfg.master.host == "10.0.0.1" and cfg.master.password == "hunter2"
    assert cfg.slave.password == "plaintext-pass"
    assert cfg.chunk_size == 5000 and cfg.thread_count == 8
    assert cfg.range_sql == "id > 0"


def test_cli_end_to_end(spark, tmp_path, capsys):
    """Full run_all-style workflow: perturbed slave dir → report + fix SQL +
    exit code 0 (jobs succeeded; diffs are results, not failures)."""
    from tidb_large_table_compare_spark.cli import main

    slave_dir = tmp_path / "slave"
    slave_dir.mkdir()
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    orders.filter(F.col("o_orderkey") % 50 != 7).write.parquet(
        str(slave_dir / "orders.parquet")
    )
    nation = spark.read.parquet(f"{SF_SMALL}/nation.parquet")
    nation.write.parquet(str(slave_dir / "nation.parquet"))

    report_file = tmp_path / "report.txt"
    code = main(
        [
            "--left-dir", SF_SMALL,
            "--right-dir", str(slave_dir),
            "--tables", "orders,nation",
            "--pk", "orders=o_orderkey",
            "--pk", "nation=n_nationkey",
            "--report-out", str(report_file),
            "--fix-sql-out", str(tmp_path / "fix"),
        ]
    )
    assert code == 0
    report = report_file.read_text()
    assert "main.orders" in report and "main.nation" in report
    assert "structure_ok=2" in report
    # 1500 orders, every 50th key removed → 30 missing
    assert "upcount=30" in report
    fix_files = list((tmp_path / "fix").rglob("part-*"))
    assert fix_files, "fix-SQL output missing"
    fix_text = "".join(f.read_text() for f in fix_files)
    assert fix_text.count("REPLACE INTO main.orders") == 30


def test_cli_check_connection_smoke(spark, tmp_path, capsys):
    """--check-connection (test_connection.sh analog, reference README.md:49-58):
    all three checks pass against real dirs; a missing table on one side
    fails with exit 1 while still reporting the checks that passed."""
    from tidb_large_table_compare_spark.cli import main

    code = main(
        [
            "--left-dir", SF_SMALL,
            "--right-dir", SF_SMALL,
            "--tables", "orders,nation",
            "--check-connection",
        ]
    )
    out = capsys.readouterr().out
    assert code == 0
    assert "[ OK ] spark session started" in out
    # session + 2 sides x 2 tables + check-SQL per side (left AND right)
    assert out.count("[ OK ]") == 7
    assert "check-SQL (left)" in out and "check-SQL (right)" in out
    # the work list a run compares: both tables at the default threshold 0
    assert out.count("2 tables readable, 2 match") == 2
    assert "[FAIL]" not in out

    # --row-threshold gates the count as it gates the run: orders (1500
    # rows) passes 1000, nation (25) does not
    code = main(
        [
            "--left-dir", SF_SMALL,
            "--right-dir", SF_SMALL,
            "--tables", "orders,nation",
            "--row-threshold", "1000",
            "--check-connection",
        ]
    )
    out = capsys.readouterr().out
    assert code == 0
    assert out.count("2 tables readable, 1 match") == 2

    code = main(
        [
            "--left-dir", SF_SMALL,
            "--right-dir", str(tmp_path),  # empty dir: tables unreadable
            "--tables", "orders",
            "--check-connection",
        ]
    )
    out = capsys.readouterr().out
    assert code == 1
    assert "[FAIL] right:" in out
    assert "[ OK ] left:" in out


def test_cli_discovery_threshold_filters_tables(spark, tmp_path, capsys):
    """--row-threshold routes through the A2 discovery predicate: tiny tables
    drop out of the work list entirely."""
    from tidb_large_table_compare_spark.cli import main

    code = main(
        [
            "--left-dir", SF_SMALL,
            "--right-dir", SF_SMALL,
            # orders (1500 rows) passes a 1000-row threshold; nation (25)
            # and region (5) do not — the CLI's discovery filters on rows
            # only (pk_type is a TiDB-shaped stand-in; see _run)
            "--tables", "orders,nation,region",
            "--pk", "orders=o_orderkey",
            "--row-threshold", "1000",
        ]
    )
    assert code == 0
    out = capsys.readouterr().out
    assert "main.orders" in out
    assert "main.nation" not in out and "main.region" not in out


# --- operational shell: run lock, progress, detach (reference parity) -------


def test_default_lock_path_normalizes_dir_spellings(tmp_path, monkeypatch):
    """A trailing slash or a relative spelling of the same target dirs maps
    to one run lock, so two runs against one target cannot both start."""
    from argparse import Namespace

    from tidb_large_table_compare_spark.cli import _default_lock_path

    (tmp_path / "master").mkdir()
    (tmp_path / "slave").mkdir()
    monkeypatch.chdir(tmp_path)

    def lock(left, right, schema="main"):
        return _default_lock_path(
            Namespace(left_dir=left, right_dir=right, schema=schema)
        )

    canonical = lock(f"{tmp_path}/master", f"{tmp_path}/slave")
    assert lock(f"{tmp_path}/master/", f"{tmp_path}/slave/") == canonical
    assert lock("master", "./slave") == canonical
    assert lock("master", "slave", "other") != canonical
    assert lock("slave", "master") != canonical


def test_runlock_refuses_live_holder(tmp_path):
    from tidb_large_table_compare_spark.runlock import LockHeld, RunLock

    path = tmp_path / "run.lock"
    with RunLock(path):
        import pytest as _pytest

        with _pytest.raises(LockHeld):
            RunLock(path).acquire()
    assert not path.exists()  # released on exit


def test_runlock_cleans_stale_lock(tmp_path):
    """Holder died without cleanup → warn-and-continue semantics
    (run_syncdiff_config.sh:86-89)."""
    import subprocess
    import sys as _sys

    from tidb_large_table_compare_spark.runlock import RunLock

    path = tmp_path / "run.lock"
    # a real PID that is guaranteed dead: spawn-and-reap a child
    proc = subprocess.Popen([_sys.executable, "-c", "pass"])
    proc.wait()
    path.write_text(str(proc.pid))
    with RunLock(path) as lock:
        assert lock._acquired
        assert path.read_text() == str(__import__("os").getpid())
    assert not path.exists()


def test_runlock_garbage_pidfile_recovered(tmp_path):
    from tidb_large_table_compare_spark.runlock import RunLock

    path = tmp_path / "run.lock"
    path.write_text("not-a-pid")
    with RunLock(path) as lock:
        assert lock._acquired


def _dead_pid() -> int:
    import subprocess
    import sys as _sys

    proc = subprocess.Popen([_sys.executable, "-c", "pass"])
    proc.wait()
    return proc.pid


def test_runlock_no_overlapping_holds_across_processes(tmp_path):
    """Production shape: six PROCESSES race to steal one stale lock
    (flock exclusion is per open-file-description, so the in-thread
    stress tests don't prove the cross-process case). Sequential
    re-acquisition after a release is legal; what must never happen is
    two holders at once, or a holder observing someone else's pid in
    the lock file mid-hold. Verified 0/60 trials in the round-9 stress;
    this keeps one trial as a permanent regression pin."""
    import subprocess
    import sys as _sys

    worker = r"""
import sys, time, os
sys.path.insert(0, sys.argv[2])
from tidb_large_table_compare_spark.runlock import LockHeld, RunLock
try:
    lk = RunLock(sys.argv[1]).acquire()
    t0 = time.monotonic_ns()
    ok = open(sys.argv[1]).read() == str(os.getpid())
    time.sleep(0.05)
    ok = ok and open(sys.argv[1]).read() == str(os.getpid())
    t1 = time.monotonic_ns()
    lk.release()
    print(f"won {t0} {t1} {int(ok)}")
except LockHeld:
    print("held")
"""
    import pathlib

    repo = str(pathlib.Path(__file__).resolve().parents[1])
    path = tmp_path / "run.lock"
    path.write_text(str(_dead_pid()))
    procs = [
        subprocess.Popen(
            [_sys.executable, "-c", worker, str(path), repo],
            stdout=subprocess.PIPE,
        )
        for _ in range(6)
    ]
    outs = [p.communicate()[0].decode().strip() for p in procs]
    intervals = sorted(
        (int(t0), int(t1))
        for o in outs
        if o.startswith("won")
        for _, t0, t1, ok in [o.split()]
        if ok == "1" or pytest.fail(f"holder saw foreign pid: {outs}")
    )
    assert intervals, outs  # someone must steal the stale lock and win
    for (a0, a1), (b0, b1) in zip(intervals, intervals[1:]):
        assert b0 >= a1, f"overlapping holds: {outs}"


def test_runlock_steal_rereads_holder_under_guard(tmp_path):
    """The double-acquire race (ADVICE r8): racer B reads a dead holder,
    racer A completes the full steal and acquires a LIVE lock, then B's
    rename displaces A's fresh lock and both hold. The steal now re-reads
    the holder pid under the flock guard, so a B that reaches the steal
    after A acquired gets LockHeld and A's lock is untouched."""
    import os

    from tidb_large_table_compare_spark.runlock import LockHeld, RunLock

    path = tmp_path / "run.lock"
    path.write_text(str(_dead_pid()))

    a = RunLock(path)
    a.acquire()  # steals the stale lock, publishes a live one
    assert path.read_text() == str(os.getpid())

    b = RunLock(path)
    with pytest.raises(LockHeld):
        b._steal()  # B believed the holder dead; the guarded re-read wins
    assert path.read_text() == str(os.getpid())  # A's lock intact
    a.release()
    assert not path.exists()


def test_runlock_steal_restores_displaced_live_lock(tmp_path, monkeypatch):
    """Defense-in-depth for GUARD-LESS participants (an older build, a
    hand-rolled script): between B's under-guard holder read (dead pid)
    and B's rename, a guard-less stealer completes a full steal AND a
    new holder publishes a LIVE lock — simulated deterministically by an
    os.rename seam that swaps in a live lock file just before B's steal
    rename executes. The post-rename pid verify must detect that the
    renamed file belongs to a live holder, RESTORE it via link, clean
    the stale debris, and raise LockHeld naming the live holder.
    (The under-guard re-read cannot catch this: it legitimately saw the
    dead pid before the interleaving happened.)"""
    import os

    from tidb_large_table_compare_spark.runlock import LockHeld, RunLock

    path = tmp_path / "run.lock"
    dead = _dead_pid()
    path.write_text(str(dead))

    real_rename = os.rename
    fired = []

    def interleaved_rename(src, dst):
        if str(src) == str(path) and not fired:
            fired.append(1)
            # the guard-less participant's full steal + a live publish,
            # landing exactly between B's read and B's rename
            live = tmp_path / "live.publish"
            live.write_text(str(os.getpid()))
            real_rename(str(live), str(path))
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", interleaved_rename)
    b = RunLock(path)
    with pytest.raises(LockHeld) as ei:
        b._steal()
    monkeypatch.undo()
    assert fired, "the interleaving seam never triggered"
    assert ei.value.pid == os.getpid()  # names the LIVE holder
    assert path.read_text() == str(os.getpid())  # restored, not displaced
    assert not list(tmp_path.glob("*.stale.*"))  # no debris


def test_runlock_steal_preserves_displaced_lock_when_restore_races(
    tmp_path, monkeypatch
):
    """The restore's worst corner (round-10 ADVICE): after B renames a
    guard-less participant's LIVE lock aside, a racer re-creates the
    lock path before B's restoring link — FileExistsError. Unlinking the
    .stale file there would destroy the displaced live holder's only
    claim while the racer also holds one (two effective holders, proof
    gone). B must LEAVE the .stale file on disk as recoverable evidence
    and still raise LockHeld naming the live holder."""
    import os

    from tidb_large_table_compare_spark.runlock import LockHeld, RunLock

    path = tmp_path / "run.lock"
    dead = _dead_pid()
    path.write_text(str(dead))

    real_rename = os.rename
    real_link = os.link
    fired = []

    def interleaved_rename(src, dst):
        if str(src) == str(path) and not fired:
            fired.append("rename")
            live = tmp_path / "live.publish"
            live.write_text(str(os.getpid()))  # guard-less steal + publish
            real_rename(str(live), str(path))
        real_rename(src, dst)

    def racing_link(src, dst):
        if str(dst) == str(path) and "link" not in fired:
            fired.append("link")
            # a racer re-creates the lock path just before the restore
            (tmp_path / "racer.publish").write_text("424242")
            real_rename(str(tmp_path / "racer.publish"), str(path))
        real_link(src, dst)

    monkeypatch.setattr(os, "rename", interleaved_rename)
    monkeypatch.setattr(os, "link", racing_link)
    b = RunLock(path)
    with pytest.raises(LockHeld) as ei:
        b._steal()
    monkeypatch.undo()
    assert fired == ["rename", "link"]
    assert ei.value.pid == os.getpid()  # still names the LIVE holder
    stale = list(tmp_path.glob("*.stale.*"))
    assert len(stale) == 1  # evidence preserved, NOT unlinked
    assert stale[0].read_text() == str(os.getpid())  # the displaced claim
    assert path.read_text() == "424242"  # the racer's lock left untouched


def test_cli_refuses_concurrent_invocation(spark, tmp_path, capsys):
    """Second invocation against the same comparison exits 1 while the lock
    is held (reference: '程序已在运行中' refusal)."""
    import os

    from tidb_large_table_compare_spark.cli import main

    lock_file = tmp_path / "cli.lock"
    lock_file.write_text(str(os.getpid()))  # simulate a live holder
    code = main(
        [
            "--left-dir", SF_SMALL,
            "--right-dir", SF_SMALL,
            "--tables", "nation",
            "--pk", "nation=n_nationkey",
            "--lock-file", str(lock_file),
        ]
    )
    assert code == 1
    err = capsys.readouterr().err
    assert "already running" in err
    assert lock_file.exists()  # a refused run must not steal the lock
    lock_file.unlink()


def test_cli_emits_progress_lines(spark, tmp_path, capsys):
    """Per-table progress as jobs complete: bar, percentage, (N/M) counter,
    table name, wall-clock (step3_run_syncdiff.sh:43-57 shape)."""
    import re

    from tidb_large_table_compare_spark.cli import main

    code = main(
        [
            "--left-dir", SF_SMALL,
            "--right-dir", SF_SMALL,
            "--tables", "nation,region",
            "--pk", "nation=n_nationkey",
            "--pk", "region=r_regionkey",
            "--lock-file", str(tmp_path / "p.lock"),
        ]
    )
    assert code == 0
    err = capsys.readouterr().err
    lines = [l for l in err.splitlines() if re.match(r"^\[[=-]+\]", l)]
    assert len(lines) == 2
    assert any("( 1/ 2)" in l for l in lines)
    assert any("( 2/ 2)" in l and l.startswith("[" + "=" * 50 + "]") for l in lines)
    assert all(re.search(r"\(\d+\.\d{3}s\)$", l) for l in lines)
    assert any("main.nation" in l for l in lines)


def test_format_progress_shape():
    from tidb_large_table_compare_spark.plans.pipeline import format_progress

    line = format_progress(3, 7, "db.t", 1.5)
    assert "( 3/ 7)" in line and " 42% " in line and line.endswith("(1.500s)")
    bar = line[1 : 1 + 50]
    assert set(bar) <= {"=", "-"} and bar.count("=") == 21


def test_cli_detach_spawns_background_run(tmp_path, capsys):
    """--detach re-execs in the background with PID file + log monitoring
    hints (run_all.sh:85-109). Use --help in the child so the test doesn't
    need a full Spark run; the parent contract is what's under test."""
    import time as _time

    from tidb_large_table_compare_spark.cli import main

    log_dir = tmp_path / "logs"
    code = main(
        [
            "--left-dir", SF_SMALL,
            "--right-dir", SF_SMALL,
            "--tables", "nation",
            "--detach", "--yes",
            "--log-dir", str(log_dir),
            "--lock-file", str(tmp_path / "d.lock"),
            "--row-threshold", "999999999999",  # child: empty worklist, quick exit
        ]
    )
    assert code == 0
    out = capsys.readouterr().out
    assert "PID:" in out and "tail -f" in out and "kill" in out
    pid_file = log_dir / "compare_bg.pid"
    assert pid_file.exists() and int(pid_file.read_text()) > 0
    logs = list(log_dir.glob("compare_exec_*.log"))
    assert len(logs) == 1
    # the child is a real detached process; give it a moment to start writing
    for _ in range(600):
        if logs[0].stat().st_size > 0:
            break
        _time.sleep(0.1)
    else:
        raise AssertionError("detached child never wrote to its log")


def test_cli_reconcile_out_writes_repaired_table(spark, tmp_path):
    """--reconcile-out: the written right side must equal the master exactly
    (the fix-SQL loop applied natively instead of by a human)."""
    from tidb_large_table_compare_spark.cli import main

    slave_dir = tmp_path / "slave"
    slave_dir.mkdir()
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    orders.filter(F.col("o_orderkey") % 50 != 7).write.parquet(
        str(slave_dir / "orders.parquet")
    )

    code = main(
        [
            "--left-dir", SF_SMALL,
            "--right-dir", str(slave_dir),
            "--tables", "orders",
            "--pk", "orders=o_orderkey",
            "--reconcile-out", str(tmp_path / "repaired"),
        ]
    )
    assert code == 0
    repaired = spark.read.parquet(str(tmp_path / "repaired" / "main_orders_repaired"))
    assert repaired.exceptAll(orders).count() == 0
    assert orders.exceptAll(repaired).count() == 0


def test_cli_verify_repaired_reads_back_and_verdicts(spark, tmp_path, capsys):
    """--verify-repaired re-reads the WRITTEN repair and prints the scoped
    verdict; a clean loop exits 0 with equivalent=True per table."""
    from tidb_large_table_compare_spark.cli import main

    slave_dir = tmp_path / "slave"
    slave_dir.mkdir()
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    orders.filter(F.col("o_orderkey") % 50 != 7).write.parquet(
        str(slave_dir / "orders.parquet")
    )

    code = main(
        [
            "--left-dir", SF_SMALL,
            "--right-dir", str(slave_dir),
            "--tables", "orders",
            "--pk", "orders=o_orderkey",
            "--reconcile-out", str(tmp_path / "repaired"),
            "--verify-repaired",
        ]
    )
    out = capsys.readouterr().out
    assert code == 0
    assert (
        "repair-verify main.orders: equivalent=True upcount=0 downcount=0"
        in out
    )


def test_cli_verify_repaired_requires_reconcile_out(tmp_path):
    """--verify-repaired without --reconcile-out must refuse up front
    (argparse exit 2), not silently skip verification — an operator would
    otherwise read exit 0 as 'repairs verified' when none ran."""
    from tidb_large_table_compare_spark.cli import main

    with pytest.raises(SystemExit) as ei:
        main(
            [
                "--left-dir", SF_SMALL,
                "--right-dir", SF_SMALL,
                "--tables", "orders",
                "--pk", "orders=o_orderkey",
                "--verify-repaired",
            ]
        )
    assert ei.value.code == 2


def test_cli_multiset_refuses_keyed_drilldowns(tmp_path):
    """--fix-sql-out/--reconcile-out must refuse --multiset up front: the
    keyless diff is (__row_hash, diff_type, __n) with no PK columns, so
    both branches would crash selecting keys from it mid-run."""
    from tidb_large_table_compare_spark.cli import main

    for flag in (["--fix-sql-out"], ["--reconcile-out"]):
        with pytest.raises(SystemExit) as ei:
            main(
                [
                    "--left-dir", SF_SMALL,
                    "--right-dir", SF_SMALL,
                    "--tables", "orders",
                    "--pk", "orders=o_orderkey",
                    "--multiset",
                    *flag, str(tmp_path / "out"),
                ]
            )
        assert ei.value.code == 2


def test_cli_keyed_drilldowns_require_some_pk(tmp_path):
    """--fix-sql-out/--reconcile-out with no --pk at all must refuse: both
    outputs are per-keyed-table, so the run would exit 0 having silently
    written nothing."""
    from tidb_large_table_compare_spark.cli import main

    with pytest.raises(SystemExit) as ei:
        main(
            [
                "--left-dir", SF_SMALL,
                "--right-dir", SF_SMALL,
                "--tables", "orders",
                "--fix-sql-out", str(tmp_path / "out"),
            ]
        )
    assert ei.value.code == 2


def test_cli_verify_repaired_flags_corrupted_write(spark, tmp_path, capsys):
    """If the written repair is tampered with inside a drifted bucket, the
    read-back verify must catch it and fail the run (exit 1 + UNREPAIRED)."""
    from unittest.mock import patch

    from tidb_large_table_compare_spark.cli import main

    slave_dir = tmp_path / "slave"
    slave_dir.mkdir()
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    orders.filter(F.col("o_orderkey") % 50 != 7).write.parquet(
        str(slave_dir / "orders.parquet")
    )

    # simulate a bad write: drop one of the repaired (drifted-bucket) rows
    # between apply_fixes and the parquet sink (patch the CONCRETE class —
    # pyspark.sql.DataFrame is abstract in Spark 4)
    real_write = type(orders).write

    class _LossyWriter:
        def __init__(self, df):
            self._df = df

        def __getattr__(self, name):
            lossy = self._df.filter(F.col("o_orderkey") != 7)
            return getattr(real_write.fget(lossy), name)

    with patch.object(
        type(orders), "write", property(lambda self: _LossyWriter(self))
    ):
        code = main(
            [
                "--left-dir", SF_SMALL,
                "--right-dir", str(slave_dir),
                "--tables", "orders",
                "--pk", "orders=o_orderkey",
                "--reconcile-out", str(tmp_path / "repaired"),
                "--verify-repaired",
            ]
        )
    captured = capsys.readouterr()
    assert code == 1
    assert "equivalent=False" in captured.out
    assert "UNREPAIRED tables: main.orders" in captured.err


def test_cli_column_drift_prints_histogram(spark, tmp_path, capsys):
    """--column-drift: drift lines name the columns that actually drifted
    (and only those), per keyed table."""
    from tidb_large_table_compare_spark.cli import main

    slave_dir = tmp_path / "slave"
    slave_dir.mkdir()
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    drifted = orders.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 10 == 1, F.col("o_totalprice") + 1.0
        ).otherwise(F.col("o_totalprice")),
    )
    drifted.write.parquet(str(slave_dir / "orders.parquet"))

    code = main(
        [
            "--left-dir", SF_SMALL,
            "--right-dir", str(slave_dir),
            "--tables", "orders",
            "--pk", "orders=o_orderkey",
            "--column-drift",
        ]
    )
    assert code == 0
    out = capsys.readouterr().out
    drift_lines = [l for l in out.splitlines() if l.startswith("drift ")]
    assert len(drift_lines) == 1
    table, column, count = drift_lines[0].split()[1:]
    assert (table, column) == ("main.orders", "o_totalprice")
    # 1500 orders, keys 1..1500: keys ≡ 1 (mod 10) → 150 modified rows
    assert int(count) == 150


def test_cli_drilldowns_reuse_the_summary_compare(
    spark, tmp_path, capsys, monkeypatch
):
    """--column-drift, --fix-sql-out and --reconcile-out consume the
    TableCompare run_jobs built for the summary: the digest pass runs once
    per keyed table (keyless tables take the multiset path, which has
    none), and the drill-down outputs are unchanged."""
    from tidb_large_table_compare_spark.cli import main
    from tidb_large_table_compare_spark.operators.compare import TableCompare

    slave_dir = tmp_path / "slave"
    slave_dir.mkdir()
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    key = F.col("o_orderkey")
    drifted = orders.filter(key % 50 != 2).withColumn(
        "o_totalprice",
        F.when(key % 10 == 1, F.col("o_totalprice") + 1.0).otherwise(
            F.col("o_totalprice")
        ),
    )
    inserted = orders.limit(5).withColumn("o_orderkey", key + 10_000_000)
    drifted.unionByName(inserted).write.parquet(str(slave_dir / "orders.parquet"))
    for t in ("nation", "region"):
        spark.read.parquet(f"{SF_SMALL}/{t}.parquet").write.parquet(
            str(slave_dir / f"{t}.parquet")
        )
    n_modified = orders.filter(key % 10 == 1).count()
    n_deleted = orders.filter(key % 50 == 2).count()

    digest_passes: list[str] = []
    mismatched_buckets = TableCompare.mismatched_buckets

    def counting(self):
        digest_passes.append(self.table_name)
        return mismatched_buckets(self)

    monkeypatch.setattr(TableCompare, "mismatched_buckets", counting)
    code = main(
        [
            "--left-dir", SF_SMALL,
            "--right-dir", str(slave_dir),
            "--tables", "orders,nation,region",
            "--pk", "orders=o_orderkey",
            "--pk", "nation=n_nationkey",
            "--column-drift",
            "--fix-sql-out", str(tmp_path / "fix"),
            "--reconcile-out", str(tmp_path / "repaired"),
        ]
    )
    assert code == 0
    assert sorted(digest_passes) == ["main.nation", "main.orders"]

    out = capsys.readouterr().out
    assert [l for l in out.splitlines() if l.startswith("drift ")] == [
        f"drift main.orders o_totalprice {n_modified}"
    ]

    def fix_lines(table: str) -> int:
        return sum(
            1
            for f in (tmp_path / "fix" / f"main_{table}_fix").glob("part-*")
            for line in f.read_text().splitlines()
            if line.strip()
        )

    assert fix_lines("orders") == n_modified + n_deleted + 5
    assert fix_lines("nation") == 0
    repaired = spark.read.parquet(str(tmp_path / "repaired" / "main_orders_repaired"))
    assert repaired.count() == orders.count()


def test_cli_releases_persisted_compare_state(spark, tmp_path):
    """A drill-down run leaves no persisted RDD behind: each table's
    persisted keyed diff is released after its last consumer. The fleet spans two scope kinds: a few drifted orders
    (bitset scope) and a lineitem with every bucket drifted (skip scope).
    The test data's lineitem repeats some (l_orderkey, l_linenumber)
    pairs, which a keyed compare refuses once they drift, so both sides
    keep one row per key."""
    from tidb_large_table_compare_spark.cli import main

    master_dir, slave_dir = tmp_path / "master", tmp_path / "slave"
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    orders.write.parquet(str(master_dir / "orders.parquet"))
    key = F.col("o_orderkey")
    orders.filter(key != 7).withColumn(
        "o_totalprice",
        F.when(key % 500 == 1, F.col("o_totalprice") + 1.0).otherwise(
            F.col("o_totalprice")
        ),
    ).write.parquet(str(slave_dir / "orders.parquet"))
    spark.read.parquet(f"{SF_SMALL}/lineitem.parquet").dropDuplicates(
        ["l_orderkey", "l_linenumber"]
    ).write.parquet(str(master_dir / "lineitem.parquet"))
    lineitem = spark.read.parquet(str(master_dir / "lineitem.parquet"))
    lineitem.withColumn(
        "l_quantity",
        F.when(F.col("l_linenumber") == 1, F.col("l_quantity") + 1).otherwise(
            F.col("l_quantity")
        ),
    ).write.parquet(str(slave_dir / "lineitem.parquet"))

    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = persisted().size()
    code = main(
        [
            "--left-dir", str(master_dir),
            "--right-dir", str(slave_dir),
            "--tables", "orders,lineitem",
            "--pk", "orders=o_orderkey",
            "--pk", "lineitem=l_orderkey,l_linenumber",
            "--column-drift",
            "--fix-sql-out", str(tmp_path / "fix"),
            "--reconcile-out", str(tmp_path / "repaired"),
        ]
    )
    assert code == 0
    assert persisted().size() == before


def test_cli_fk_audit_reports_slave_orphans(spark, tmp_path, capsys):
    """--fk: deleting parent orders on the slave orphans their lineitems —
    the cross-table damage the per-table diff can't see."""
    from tidb_large_table_compare_spark.cli import main

    slave_dir = tmp_path / "slave"
    slave_dir.mkdir()
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    lineitem = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    orders.filter(F.col("o_orderkey") % 50 != 7).write.parquet(
        str(slave_dir / "orders.parquet")
    )
    lineitem.write.parquet(str(slave_dir / "lineitem.parquet"))

    code = main(
        [
            "--left-dir", SF_SMALL,
            "--right-dir", str(slave_dir),
            "--tables", "orders",
            "--pk", "orders=o_orderkey",
            "--fk", "lineitem.l_orderkey=orders.o_orderkey",
        ]
    )
    assert code == 0
    out = capsys.readouterr().out
    fk_lines = [l for l in out.splitlines() if l.startswith("fk ")]
    assert len(fk_lines) == 1
    expected = lineitem.join(
        orders.filter(F.col("o_orderkey") % 50 == 7).select("o_orderkey"),
        lineitem.l_orderkey == F.col("o_orderkey"), "left_semi",
    ).count()
    assert expected > 0
    assert f"orphans={expected}" in fk_lines[0]
    assert f"child_rows={lineitem.count()}" in fk_lines[0]


def test_cli_fk_audit_rejects_bad_spec(spark, tmp_path, capsys):
    """A bad --fk spec is refused before any table is compared: the run
    exits 2 and writes no fix-SQL file and no repaired table."""
    from tidb_large_table_compare_spark.cli import main

    slave_dir = tmp_path / "slave"
    slave_dir.mkdir()
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    orders.filter(F.col("o_orderkey") % 50 != 7).write.parquet(
        str(slave_dir / "orders.parquet")
    )
    fix = tmp_path / "fix"
    fix.mkdir()
    for spec in ("not-a-spec", "lineitem.l_orderkey=orders.o_orderkey"):
        code = main(
            [
                "--left-dir", SF_SMALL,
                "--right-dir", str(slave_dir),
                "--tables", "orders",
                "--pk", "orders=o_orderkey",
                "--fix-sql-out", str(fix),
                "--reconcile-out", str(tmp_path / "repaired"),
                "--fk", spec,
            ]
        )
        cap = capsys.readouterr()
        assert code == 2
        assert f"--fk spec {spec!r}" in cap.err
        assert cap.out == ""
        assert list(fix.iterdir()) == []
        assert not (tmp_path / "repaired").exists()


def test_cli_profile_prints_both_sides(spark, tmp_path, capsys):
    from tidb_large_table_compare_spark.cli import main

    slave_dir = tmp_path / "slave"
    slave_dir.mkdir()
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    orders.filter(F.col("o_orderkey") % 50 != 7).write.parquet(
        str(slave_dir / "orders.parquet")
    )
    code = main(
        [
            "--left-dir", SF_SMALL,
            "--right-dir", str(slave_dir),
            "--tables", "orders",
            "--pk", "orders=o_orderkey",
            "--profile",
        ]
    )
    assert code == 0
    lines = [l for l in capsys.readouterr().out.splitlines()
             if l.startswith("profile ")]
    n_cols = len(orders.columns)
    assert len(lines) == 2 * n_cols  # both sides, every column
    left_key = next(l for l in lines
                    if " left o_orderkey " in l)
    right_key = next(l for l in lines
                     if " right o_orderkey " in l)
    assert "rows=1500" in left_key and "nulls=0" in left_key
    assert "rows=1470" in right_key  # 30 deleted rows show up immediately


def test_cli_profile_approx_uses_hll(spark, tmp_path, capsys):
    """--profile-approx prints the same report shape with HLL distinct
    counts ('profile~' lines) — exact rows/nulls, sketched cardinality
    within the error contract."""
    from tidb_large_table_compare_spark.cli import main

    slave_dir = tmp_path / "slave"
    slave_dir.mkdir()
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    orders.write.parquet(str(slave_dir / "orders.parquet"))
    code = main(
        [
            "--left-dir", SF_SMALL,
            "--right-dir", str(slave_dir),
            "--tables", "orders",
            "--pk", "orders=o_orderkey",
            "--profile-approx",
        ]
    )
    assert code == 0
    lines = [l for l in capsys.readouterr().out.splitlines()
             if l.startswith("profile~ ")]
    assert len(lines) == 2 * len(orders.columns)
    key = next(l for l in lines if " left o_orderkey " in l)
    assert "rows=1500" in key and "nulls=0" in key
    est = int(next(p for p in key.split() if p.startswith("distinct=")).split("=")[1])
    assert abs(est - 1500) <= 0.15 * 1500  # 3x default rsd


def test_cli_profile_both_flags_print_both_reports(spark, tmp_path, capsys):
    from tidb_large_table_compare_spark.cli import main

    slave_dir = tmp_path / "slave"
    slave_dir.mkdir()
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    orders.write.parquet(str(slave_dir / "orders.parquet"))
    code = main(
        [
            "--left-dir", SF_SMALL,
            "--right-dir", str(slave_dir),
            "--tables", "orders",
            "--pk", "orders=o_orderkey",
            "--profile", "--profile-approx",
        ]
    )
    assert code == 0
    out = capsys.readouterr().out.splitlines()
    n_cols = len(orders.columns)
    assert len([l for l in out if l.startswith("profile ")]) == 2 * n_cols
    assert len([l for l in out if l.startswith("profile~ ")]) == 2 * n_cols


def test_runlock_never_observable_without_pid(tmp_path):
    """The lock publishes via write-temp-then-link, so a reader can never
    see an empty lock file (the O_EXCL-create-then-write window let a
    racer read pid 0, conclude 'stale', and delete a LIVE holder's lock);
    and concurrent stale-steals leave exactly one winner."""
    import os
    import subprocess
    import sys as _sys
    from concurrent.futures import ThreadPoolExecutor

    from tidb_large_table_compare_spark.runlock import LockHeld, RunLock

    path = tmp_path / "run.lock"
    with RunLock(path):
        assert path.read_text() == str(os.getpid())  # pid present atomically
        assert not list(tmp_path.glob("*.tmp"))  # temp cleaned after publish

    # many threads race to steal the same stale lock: exactly one must
    # acquire; the rest get LockHeld naming the new live holder
    proc = subprocess.Popen([_sys.executable, "-c", "pass"])
    proc.wait()
    path.write_text(str(proc.pid))

    locks = [RunLock(path) for _ in range(8)]

    def try_acquire(lk):
        try:
            lk.acquire()
            return "won"
        except LockHeld:
            return "held"

    with ThreadPoolExecutor(max_workers=8) as pool:
        outcomes = list(pool.map(try_acquire, locks))
    assert outcomes.count("won") == 1, outcomes
    assert path.read_text() == str(os.getpid())
    for lk in locks:
        lk.release()
    assert not path.exists()


def test_cli_rejects_malformed_pk_spec(tmp_path):
    """A --pk spec without '=' (or with empty columns) must refuse at parse
    time: it silently produced pk=[], degrading the table to a keyless
    multiset compare and making every keyed drill-down skip it."""
    from tidb_large_table_compare_spark.cli import main

    for spec in ("orders", "orders=", "=o_orderkey", "orders=,"):
        with pytest.raises(SystemExit) as ei:
            main(
                [
                    "--left-dir", SF_SMALL,
                    "--right-dir", SF_SMALL,
                    "--tables", "orders",
                    "--pk", spec,
                ]
            )
        assert ei.value.code == 2, spec


def test_cli_isolates_unreadable_table(spark, tmp_path, capsys):
    """One missing parquet on the right side fails THAT table and the run's
    exit code — the other tables still compare, report and profile."""
    import shutil

    from tidb_large_table_compare_spark.cli import main

    right = tmp_path / "right"
    right.mkdir()
    shutil.copy(f"{SF_SMALL}/orders.parquet", right / "orders.parquet")
    # nation.parquet deliberately absent on the right

    code = main(
        [
            "--left-dir", SF_SMALL,
            "--right-dir", str(right),
            "--tables", "orders,nation",
            "--pk", "orders=o_orderkey",
            "--profile",
        ]
    )
    cap = capsys.readouterr()
    assert code == 1
    assert "read failed for main.nation" in cap.err
    assert "FAILED tables: main.nation" in cap.err
    assert "main.orders" in cap.out  # the healthy table still reported
    profiled = {
        tuple(line.split()[1:3])
        for line in cap.out.splitlines()
        if line.startswith("profile ")
    }
    assert profiled == {("main.orders", "left"), ("main.orders", "right")}


@pytest.mark.parametrize("threshold", ["0", "1"])
def test_cli_isolates_unreadable_left_table(spark, tmp_path, capsys, threshold):
    """One missing parquet on the LEFT side fails THAT table too — the
    catalog is built over the readable tables, so the run still compares and
    reports the others, with or without threshold discovery."""
    import shutil

    from tidb_large_table_compare_spark.cli import main

    left = tmp_path / "left"
    left.mkdir()
    shutil.copy(f"{SF_SMALL}/orders.parquet", left / "orders.parquet")
    # nation.parquet deliberately absent on the left

    code = main(
        [
            "--left-dir", str(left),
            "--right-dir", SF_SMALL,
            "--tables", "orders,nation",
            "--pk", "orders=o_orderkey",
            "--row-threshold", threshold,
        ]
    )
    cap = capsys.readouterr()
    assert code == 1
    assert "read failed for main.nation" in cap.err
    assert "FAILED tables: main.nation" in cap.err
    assert "main.orders" in cap.out  # the healthy table still reported
    assert "tables=1 " in cap.out


def test_cli_run_with_every_table_unreadable_prints_zero_totals(tmp_path, capsys):
    """No latest-run rows: the totals are zeros, not NULL, in the machine
    line and in the rendered report."""
    from tidb_large_table_compare_spark.cli import main

    code = main(
        [
            "--left-dir", SF_SMALL,
            "--right-dir", str(tmp_path),
            "--tables", "nation",
        ]
    )
    cap = capsys.readouterr()
    assert code == 1
    assert "FAILED tables: main.nation" in cap.err
    assert (
        "tables=0 structure_ok=0 structure_diff=0 upcount=0 downcount=0"
        in cap.out
    )
    assert "None" not in cap.out


def _keyed_fleet(spark, root, names, n_rows=300):
    """One drifted keyed pair per name under ``root``/master and
    ``root``/slave: distinct values per table (so no two diffs plan alike
    and share a cache entry), 2 deleted, 3 modified and 1 inserted key."""
    master, slave = root / "master", root / "slave"
    for i, t in enumerate(names):
        left = spark.range(n_rows).selectExpr(
            "id", f"id * {i + 2} AS v", f"'{t}' AS tag"
        )
        left.write.parquet(str(master / f"{t}.parquet"))
        left.filter("id NOT IN (5, 6)").selectExpr(
            "id", "CASE WHEN id IN (10, 20, 30) THEN v + 1 ELSE v END AS v", "tag"
        ).unionByName(
            spark.range(n_rows, n_rows + 1).selectExpr("id", "0 AS v", f"'{t}' AS tag")
        ).write.parquet(str(slave / f"{t}.parquet"))
    return master, slave


def test_cli_many_tables_hold_bounded_storage(spark, tmp_path):
    """A 12-table run at --parallelism 2 never holds more than 2 persisted
    diffs: each table's compare is closed after its last consumer, before
    the next table is admitted. A background thread samples the session's
    persistent RDDs while the run goes; the count returns to the baseline
    at the end. (--verify-repaired would add one transient diff per
    verifying table: verify_repair's inner compare, closed inside it.)"""
    import threading

    from tidb_large_table_compare_spark.cli import main

    names = [f"t{i:02d}" for i in range(12)]
    master, slave = _keyed_fleet(spark, tmp_path, names)
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    baseline = persisted().size()
    samples: list[int] = []
    stop = threading.Event()

    def sample():
        while not stop.is_set():
            samples.append(persisted().size())
            stop.wait(0.01)

    sampler = threading.Thread(target=sample)
    sampler.start()
    try:
        code = main(
            [
                "--left-dir", str(master),
                "--right-dir", str(slave),
                "--tables", ",".join(names),
                *[a for t in names for a in ("--pk", f"{t}=id")],
                "--parallelism", "2",
                "--column-drift",
                "--fix-sql-out", str(tmp_path / "fix"),
                "--lock-file", str(tmp_path / "run.lock"),
            ]
        )
    finally:
        stop.set()
        sampler.join()
    assert code == 0
    assert len(samples) > 10
    assert max(samples) <= baseline + 2, max(samples)
    assert max(samples) > baseline  # the sampler saw diffs held
    assert persisted().size() == baseline
    assert len(list((tmp_path / "fix").glob("main_t*_fix"))) == 12


def test_cli_consumer_failure_fails_only_its_table(spark, tmp_path, capsys):
    """A drill-down consumer that raises fails its own table, not the run:
    a dangling symlink at one table's fix-SQL output path makes that write
    fail. The other tables' drift lines, fix-SQL files and repaired tables
    are intact, stderr names the failed table with its exception class,
    and the run exits 1."""
    from tidb_large_table_compare_spark.cli import main

    names = ["ta", "tb", "tc"]
    master, slave = _keyed_fleet(spark, tmp_path, names)
    fix = tmp_path / "fix"
    fix.mkdir()
    (fix / "main_tb_fix").symlink_to(tmp_path / "nowhere" / "x")
    code = main(
        [
            "--left-dir", str(master),
            "--right-dir", str(slave),
            "--tables", ",".join(names),
            *[a for t in names for a in ("--pk", f"{t}=id")],
            "--column-drift",
            "--fix-sql-out", str(fix),
            "--reconcile-out", str(tmp_path / "repaired"),
            "--verify-repaired",
            "--lock-file", str(tmp_path / "run.lock"),
        ]
    )
    cap = capsys.readouterr()
    assert code == 1
    failed = [l for l in cap.err.splitlines() if l.startswith("compare failed for")]
    assert len(failed) == 1 and failed[0].startswith(
        "compare failed for main.tb: Py4JJavaError: "
    ), failed
    assert "FAILED tables: main.tb" in cap.err
    drift = [l for l in cap.out.splitlines() if l.startswith("drift ")]
    assert drift == [f"drift main.{t} v 3" for t in names]
    verified = [l for l in cap.out.splitlines() if l.startswith("repair-verify ")]
    assert verified == [
        f"repair-verify main.{t}: equivalent=True upcount=0 downcount=0"
        for t in names
    ]
    for t in ("ta", "tc"):
        statements = [
            line
            for f in (fix / f"main_{t}_fix").glob("part-*")
            for line in f.read_text().splitlines()
            if line.strip()
        ]
        # 3 modified + 2 missing REPLACEs, 1 extra DELETE
        assert len(statements) == 6
    for t in names:
        repaired = spark.read.parquet(str(tmp_path / "repaired" / f"main_{t}_repaired"))
        want = spark.read.parquet(str(master / f"{t}.parquet"))
        assert sorted(repaired.collect()) == sorted(want.collect())
