"""Command-line entry point — the reference's `run_all.sh` workflow, natively.

Discover → plan → compare → report in one driver program (SURVEY.md §3
lifecycle mapping): catalog from parquet footers, threshold/PK-type
discovery, per-table comparison jobs, fix-SQL export, rendered final report,
and the reference's exit-code contract (nonzero if any table failed,
``step3_run_syncdiff.sh:247-249``).

Usage:
  python -m tidb_large_table_compare_spark.cli \
      --left-dir /data/master --right-dir /data/slave \
      --tables orders,nation --pk orders=o_orderkey --pk nation=n_nationkey \
      [--row-threshold 0] [--chunk-size 5000] [--range "1 = 1"] \
      [--fix-sql-out DIR] [--report-out FILE] \
      [--detach] [--yes] [--log-dir DIR] [--lock-file PATH]

Operational shell (reference parity):
- run lock with stale-PID cleanup (``run_syncdiff_config.sh:70-93``)
- ``--detach``: background re-exec with PID file, log path, and monitoring
  instructions (``run_all.sh:76-109``)
- per-table progress lines as jobs complete (``step3_run_syncdiff.sh:43-57``)
"""

from __future__ import annotations

import argparse
import functools
import hashlib
import os
import subprocess
import sys
import tempfile
import time
from pathlib import Path

from tidb_large_table_compare_spark.operators.compare import CompareOptions
from tidb_large_table_compare_spark.operators.fixsql import fix_sql
from tidb_large_table_compare_spark.plans.discover import discover
from tidb_large_table_compare_spark.plans.pipeline import CompareJob, run_jobs
from tidb_large_table_compare_spark.plans.report import report
from tidb_large_table_compare_spark.runlock import LockHeld, RunLock
from tidb_large_table_compare_spark.session import get_spark
from tidb_large_table_compare_spark.sources.catalog import parquet_catalog


def _parse_args(argv: list[str] | None):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--left-dir", required=True, help="master-side parquet dir")
    p.add_argument("--right-dir", required=True, help="slave-side parquet dir")
    p.add_argument("--tables", required=True, help="comma-separated table names")
    p.add_argument(
        "--pk",
        action="append",
        default=[],
        metavar="TABLE=COL[,COL...]",
        help="primary key per table (omit for multiset compare)",
    )
    p.add_argument("--schema", default="main")
    p.add_argument("--row-threshold", type=int, default=0,
                   help="discovery threshold (reference default 1e9; 0 = compare all)")
    p.add_argument("--chunk-size", type=int, default=5000)
    p.add_argument("--range", dest="range_sql", default=None)
    p.add_argument("--check-struct-only", action="store_true",
                   help="stop after the structure compare (template check-struct-only)")
    p.add_argument("--multiset", action="store_true",
                   help="force the keyless multiset diff for all tables")
    p.add_argument("--parallelism", type=int, default=4,
                   help="tables in flight at once, and threads running "
                        "their Spark actions (reads, summaries and "
                        "drill-downs share this one pool)")
    p.add_argument("--fix-sql-out", default=None, help="dir for fix-SQL text output")
    p.add_argument("--column-drift", action="store_true",
                   help="after the report, print per-column mismatch counts "
                        "for each keyed table with modified rows")
    p.add_argument("--profile", action="store_true",
                   help="print per-column stats (rows/nulls/distinct/min/"
                        "max) for both sides of every compared table — the "
                        "cheap drift tripwire before a full compare")
    p.add_argument("--profile-approx", action="store_true",
                   help="like --profile but distinct counts use HLL "
                        "sketches (fixed-size map-side state instead of a "
                        "per-column distinct shuffle) — the only affordable "
                        "profile at lake scale; counts are ±~2%%")
    p.add_argument("--fk", action="append", default=[], metavar="SPEC",
                   help="referential-integrity audit of the RIGHT (slave) "
                        "side: child.fk_col=parent.pk_col (repeatable; "
                        "composite keys comma-separated, e.g. "
                        "lineitem.l_orderkey=orders.o_orderkey). Prints "
                        "'fk <spec> child_rows=N null_fk=N orphans=N' lines")
    p.add_argument("--reconcile-out", default=None,
                   help="dir to write each table's repaired right side "
                        "(the native application of the fix-SQL diff)")
    p.add_argument("--verify-repaired", action="store_true",
                   help="after --reconcile-out, read each written repair "
                        "back and re-verify it against the master, scoped "
                        "to the drifted buckets (drift-sized cost; "
                        "untouched buckets already digest-matched and are "
                        "covered by parquet page checksums on the "
                        "write). Non-equivalent repairs fail the run")
    p.add_argument("--report-out", default=None, help="file for the rendered report")
    p.add_argument("--lock-file", default=None,
                   help="run-lock path (default: per-comparison file in tmpdir)")
    p.add_argument("--check-connection", action="store_true",
                   help="connectivity smoke only: session, source dirs, "
                        "check-SQL (the reference README's test_connection.sh, "
                        "documented at README.md:49-58 but never shipped)")
    p.add_argument("--detach", action="store_true",
                   help="run in the background; print PID + log monitoring hints")
    p.add_argument("--yes", action="store_true",
                   help="non-interactive: skip the --detach confirmation prompt")
    p.add_argument("--log-dir", default="logs",
                   help="directory for detached-run logs and PID file")
    args = p.parse_args(argv)
    for spec in args.pk:
        table, sep, cols = spec.partition("=")
        if not sep or not table.strip() or not [
            c for c in cols.split(",") if c.strip()
        ]:
            # a malformed spec silently produced pk=[], degrading the
            # table to a keyless multiset compare and making the keyed
            # drill-down loops skip it — refuse up front instead
            p.error(f"--pk expects TABLE=COL[,COL...], got {spec!r}")
    if args.verify_repaired and not args.reconcile_out:
        # mirror maintenance_cli's --swap-without---execute-out refusal: a
        # silently ignored flag here would read as "repairs verified" when
        # no verification ran at all
        p.error("--verify-repaired requires --reconcile-out")
    if args.multiset and (args.fix_sql_out or args.reconcile_out):
        # the forced multiset diff is keyed by whole-row hash, not PK —
        # there are no keys to REPLACE/DELETE by, so fix-SQL export and
        # repair are undefined (column_drift's skip covers the third
        # drill-down; these two would crash selecting PKs from the diff)
        p.error("--fix-sql-out/--reconcile-out cannot combine with "
                "--multiset: the keyless diff pairs no rows to repair")
    if (args.fix_sql_out or args.reconcile_out) and not args.pk:
        # both outputs are per-KEYED-table (the loops skip unkeyed jobs):
        # with no --pk at all the run would exit 0 having written nothing
        p.error("--fix-sql-out/--reconcile-out require at least one --pk")
    return args


def _default_lock_path(args) -> str:
    """One lock per comparison target: concurrent runs against the same
    (left, right, schema) are refused; unrelated comparisons don't collide.
    The dirs are normalized like curate_cli's and maintenance_cli's, so
    /data/master, /data/master/ and a relative spelling share one lock."""
    left, right = (
        os.path.abspath(d).rstrip("/") or "/"
        for d in (args.left_dir, args.right_dir)
    )
    key = f"{left}|{right}|{args.schema}"
    digest = hashlib.sha256(key.encode()).hexdigest()[:16]
    return str(Path(tempfile.gettempdir()) / f"table_compare_{digest}.lock")


def _detach(argv: list[str], log_dir: str) -> int:
    """Background re-exec (the reference's nohup + PID-file flow,
    ``run_all.sh:76-109``): spawn the same command minus --detach in its own
    session, logs to a timestamped file, PID recorded for kill/monitoring."""
    logs = Path(log_dir)
    logs.mkdir(parents=True, exist_ok=True)
    log_path = logs / f"compare_exec_{time.strftime('%Y%m%d_%H%M%S')}.log"
    pid_path = logs / "compare_bg.pid"
    child_argv = [a for a in argv if a != "--detach"]
    with open(log_path, "ab") as log_fh:
        proc = subprocess.Popen(
            [sys.executable, "-m", "tidb_large_table_compare_spark.cli", *child_argv],
            stdout=log_fh,
            stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL,
            start_new_session=True,
        )
    pid_path.write_text(str(proc.pid))
    print("compare started in the background")
    print(f"PID: {proc.pid}")
    print(f"PID file: {pid_path}")
    print(f"follow the log:  tail -f {log_path}")
    print(f"stop:            kill {proc.pid}  (or: kill $(cat {pid_path}))")
    return 0


def _worklist(catalog, row_threshold: int) -> list[str]:
    """The catalog tables a run compares, in catalog order: all of them at
    ``row_threshold`` 0, else those the A2 discovery predicate keeps.
    pk_type=None: the parquet catalog's pk_type is a TiDB-shaped STAND-IN
    (a fixed test-schema name set, catalog.py), and gating on it silently
    dropped any table outside that set; real PK-type discovery belongs to
    a real information_schema catalog (the registry's catalog_discovery
    entry keeps the full reference predicate)."""
    if row_threshold > 0:
        catalog = discover(catalog, row_threshold=row_threshold, pk_type=None)
    return [r.table_name for r in catalog.collect()]


def _check_connection(args) -> int:
    """test_connection.sh analog (reference README.md:49-58): the three
    checks map as client-installed → session starts, connection-works →
    both source dirs list the requested tables, check-SQL-correct → the
    discovery catalog query itself executes. Exit 0 only if all pass."""
    tables = [t.strip() for t in args.tables.split(",") if t.strip()]
    failures = 0

    try:
        spark = get_spark("table-compare-check")
        print("[ OK ] spark session started")
    except Exception as exc:  # pragma: no cover - environment failure
        print(f"[FAIL] spark session: {exc}")
        return 1

    for side, root in (("left", args.left_dir), ("right", args.right_dir)):
        for t in tables:
            path = f"{root}/{t}.parquet"
            try:
                spark.read.parquet(path).schema
                print(f"[ OK ] {side}: {path} readable")
            except Exception as exc:
                print(f"[FAIL] {side}: {path}: {str(exc).splitlines()[0]}")
                failures += 1

    # the catalog/check-SQL probe runs against BOTH dirs (the reference's
    # smoke tests master and slave connections alike); the readable count is
    # unfiltered — the work list a run would compare is reported separately
    # so a legitimately-empty discovery doesn't read as unreachable tables
    for side, root in (("left", args.left_dir), ("right", args.right_dir)):
        try:
            catalog = parquet_catalog(spark, root, tables, schema_name=args.schema)
            n_visible = catalog.count()
            n_match = len(_worklist(catalog, args.row_threshold))
            print(
                f"[ OK ] check-SQL ({side}): catalog query ran — "
                f"{n_visible} tables readable, "
                f"{n_match} match the discovery predicate"
            )
        except Exception as exc:
            print(f"[FAIL] check-SQL ({side}): {str(exc).splitlines()[0]}")
            failures += 1

    return 1 if failures else 0


def main(argv: list[str] | None = None) -> int:
    args = _parse_args(argv)

    if args.check_connection:
        return _check_connection(args)

    if args.detach:
        # confirmation before a long background run (run_all.sh:76-84)
        if not args.yes and sys.stdin.isatty():
            reply = input("run the comparison in the background? (y/n) ")
            if reply.strip().lower() not in ("y", "yes"):
                print("cancelled")
                return 0
        return _detach(list(argv) if argv is not None else sys.argv[1:],
                       args.log_dir)

    lock = RunLock(args.lock_file or _default_lock_path(args))
    try:
        lock.acquire()
    except LockHeld as held:
        print(f"ERROR: {held}", file=sys.stderr)
        return 1
    lock.install_signal_cleanup()
    try:
        return _run(args)
    finally:
        lock.release()


def _run(args) -> int:
    tables = [t.strip() for t in args.tables.split(",") if t.strip()]
    pk_map: dict[str, list[str]] = {}
    for spec in args.pk:
        table, _, cols = spec.partition("=")
        pk_map[table] = [c.strip() for c in cols.split(",") if c.strip()]

    spark = get_spark("table-compare-cli")

    # a bad --fk spec is refused before any table is compared or written
    fk_checks = _fk_checks(args, spark)
    if fk_checks is None:
        return 2

    # per-table read isolation: one missing/corrupt parquet fails THAT
    # table, not the whole run. A left side whose footers cannot be read
    # stays out of the catalog; every Spark read runs in its table's task.
    read_failures: list[str] = []

    def unreadable(t: str, exc: Exception) -> None:
        name = f"{args.schema}.{t}"
        print(f"read failed for {name}: {exc}", file=sys.stderr)
        read_failures.append(name)

    def loader(t: str, side_dir: str):
        def load():
            try:
                return spark.read.parquet(f"{side_dir}/{t}.parquet")
            except Exception as exc:  # noqa: BLE001 — reported, table fails
                unreadable(t, exc)
                raise

        return load

    # discover: catalog from the master side, reference predicate shape (A1-A6)
    catalog = parquet_catalog(
        spark, args.left_dir, tables, schema_name=args.schema,
        on_unreadable=unreadable,
    )
    worklist = _worklist(catalog, args.row_threshold)
    if not worklist and not read_failures:
        print("no tables matched the discovery predicate (normal; nothing to do)")
        return 0

    opts = dict(
        chunk_size=args.chunk_size,
        check_struct_only=args.check_struct_only,
        force_multiset=args.multiset,
    )
    if args.range_sql:
        opts["range_sql"] = args.range_sql
    # the catalog's TABLE_ROWS (parquet footer counts — the reference's
    # information_schema read, step1_query_tables.sh:115-117) sizes each
    # job's digest buckets with zero extra Spark jobs (row_count_hint)
    catalog_rows = {r.table_name: r.table_rows for r in catalog.collect()}
    jobs = [
        CompareJob(
            table=f"{args.schema}.{t}",
            left=loader(t, args.left_dir),
            right=loader(t, args.right_dir),
            pk=pk_map.get(t),
            options=CompareOptions(**opts, row_count_hint=catalog_rows.get(t)),
        )
        for t in worklist
    ]
    # each table is read, summarized, drilled and closed as one pipeline
    # on the --parallelism pool; the drill-down output is buffered on
    # run.outputs and printed after the report
    run = run_jobs(
        spark,
        jobs,
        parallelism=args.parallelism,
        progress=lambda line: print(line, file=sys.stderr),
        consumers=_consumers(args, spark),
    )
    return _print_run(args, run, read_failures, fk_checks)


def _fk_checks(args, spark) -> list | None:
    """The ``--fk`` specs as ``integrity_audit`` checks over the slave
    side, or None, with the error printed, when one is malformed or names
    a missing table or column."""
    checks = []
    for spec in args.fk:
        try:
            child_part, parent_part = spec.split("=", 1)
            child_tbl, child_cols = child_part.split(".", 1)
            parent_tbl, parent_cols = parent_part.split(".", 1)
        except ValueError:
            print(f"ERROR: bad --fk spec {spec!r} "
                  "(want child.fk=parent.pk)", file=sys.stderr)
            return None
        fk_cols = [c for c in child_cols.split(",") if c]
        pk_cols = [c for c in parent_cols.split(",") if c]
        if not fk_cols or not pk_cols or len(fk_cols) != len(pk_cols):
            print(f"ERROR: bad --fk spec {spec!r} "
                  "(column lists empty or of different arity)",
                  file=sys.stderr)
            return None
        try:
            child = spark.read.parquet(f"{args.right_dir}/{child_tbl}.parquet")
            parent = spark.read.parquet(f"{args.right_dir}/{parent_tbl}.parquet")
        except Exception as exc:  # AnalysisException: missing table file
            print(f"ERROR: --fk spec {spec!r}: {exc}", file=sys.stderr)
            return None
        missing_cols = [c for c in fk_cols if c not in child.columns] + [
            c for c in pk_cols if c not in parent.columns
        ]
        if missing_cols:
            print(f"ERROR: --fk spec {spec!r}: columns not found: "
                  f"{missing_cols}", file=sys.stderr)
            return None
        checks.append((child, fk_cols, parent, pk_cols, spec))
    return checks


def _print_run(args, run, read_failures, fk_checks) -> int:
    """Everything that reads ``run``: failure lines, the final report, the
    profiles, the buffered drill-down output in table order, the FK audit
    and the run's exit code."""
    for name, cause in sorted(run.failures.items()):
        if name not in read_failures:  # a failed read is already reported
            print(f"compare failed for {name}: {cause}", file=sys.stderr)

    # report (A16-A25): the reference's complete final-report block
    # (step3_run_syncdiff.sh:175-244), then a machine-readable line.
    # run.summaries is a local relation (plans/pipeline.py::run_jobs via
    # functions/localframe.py); report() collects its latest run once and
    # renders every line and total from those rows on the driver.
    rep = report(run.summaries)
    totals = rep.totals
    text = "\n".join(rep.final) + (
        f"\ntables={totals.tables_checked} structure_ok={totals.structure_ok_cnt} "
        f"structure_diff={totals.structure_diff_cnt} "
        f"upcount={totals.total_upcount} downcount={totals.total_downcount} "
        f"volume={totals.volume_label}"
    )
    print(text)
    if args.report_out:
        with open(args.report_out, "w") as fh:
            fh.write(text + "\n")

    # per-column profiles of both sides — the ANALYZE-style first look and
    # the cheap drift tripwire (a diverging profile is a one-screen signal)
    if args.profile or args.profile_approx:
        from tidb_large_table_compare_spark.operators.profile import (
            profile_table,
        )

        # both flags together print both reports (exact `profile` lines and
        # sketched `profile~` lines) — handy for eyeballing the HLL error
        passes = [
            (tag, approx)
            for tag, approx, wanted in (
                ("profile", False, args.profile),
                ("profile~", True, args.profile_approx),
            )
            if wanted
        ]
        for job in run.jobs:  # a table with an unreadable side has no profile
            for side, frame in (("left", job.left), ("right", job.right)):
                for tag, approx in passes:
                    for r in profile_table(frame, approx=approx).collect():
                        print(
                            f"{tag} {job.table} {side} {r.column_name} "
                            f"rows={r.n_rows} nulls={r.n_nulls} "
                            f"distinct={r.n_distinct} "
                            f"min={r.min_value} max={r.max_value}"
                        )

    def outputs(consumer: str) -> list[tuple[str, object]]:
        """``(table, output)`` of one consumer, in table order."""
        return [
            (job.table, out[consumer])
            for job in run.jobs
            if consumer in (out := run.outputs.get(job.table, {}))
        ]

    for _, lines in outputs("drift"):
        for line in lines:
            print(line)

    # cross-table referential-integrity audit of the slave side: a replica
    # that lost parent rows has orphaned children — damage invisible to any
    # per-table diff above
    if fk_checks:
        from tidb_large_table_compare_spark.operators.integrity import (
            integrity_audit,
        )

        for r in integrity_audit(fk_checks).collect():
            print(f"fk {r.relationship} child_rows={r.child_rows} "
                  f"null_fk={r.null_fk_rows} orphans={r.orphan_rows}")

    unrepaired: list[str] = []
    for table, verdict in outputs("repair"):
        if verdict is None:  # written, not verified
            continue
        print(
            f"repair-verify {table}: equivalent={verdict.equivalent} "
            f"upcount={verdict.upcount} downcount={verdict.downcount}"
        )
        if not verdict.equivalent:
            unrepaired.append(table)

    all_failed = sorted({*run.failures, *read_failures})
    if all_failed:
        print(f"FAILED tables: {', '.join(all_failed)}", file=sys.stderr)
    if unrepaired:
        print(f"UNREPAIRED tables: {', '.join(unrepaired)}", file=sys.stderr)
        return 1
    return 1 if all_failed else run.exit_code


def _consumers(args, spark):
    """The drill-down consumers the flags ask for, per keyed table, for
    ``run_jobs``: each reads the TableCompare its table's summary built
    (the digest pass and persisted diff already ran, so no flag compares
    the table again) and returns what is printed after the report."""

    def out_dir(root: str, job: CompareJob, suffix: str) -> str:
        return f"{root}/{job.table.replace('.', '_')}_{suffix}"

    # per-column drift histogram (B8 refinement): which columns drive the
    # drift, per keyed table — the diagnosis step between "rows differ" and
    # "export fix SQL". Skipped under --multiset: duplicated PKs cannot
    # pair rows (column_drift would refuse).
    def drift(job, cmp):
        return [
            f"drift {job.table} {r.column_name} {r.mismatch_rows}"
            for r in cmp.column_drift().collect()
            if r.mismatch_rows
        ]

    # fix-SQL export (B10) for tables with diffs and a PK: one file per
    # table. repartition(1), not coalesce(1): a coalesce folds the whole
    # master scan and semi-join into the single writing task, while the
    # shuffle lets the scan run on every core and gathers only statements
    def fix(job, cmp):
        fix_sql(cmp).repartition(1).write.mode("overwrite").text(
            out_dir(args.fix_sql_out, job, "fix")
        )

    # native repair application (closing the fix-SQL loop): write the right
    # side patched to match the left
    def repair(job, cmp):
        from tidb_large_table_compare_spark.operators.reconcile import (
            apply_fixes,
            verify_repair,
        )

        out = out_dir(args.reconcile_out, job, "repaired")
        repaired = apply_fixes(job.left, job.right, job.pk, cmp.diff_rows())
        repaired.write.mode("overwrite").parquet(out)
        if args.verify_repaired:
            # verify the WRITTEN bytes, not the in-memory frame: read
            # back and re-check against the master at drift-sized cost
            return verify_repair(cmp, spark.read.parquet(out)).collect()[0]
        return None

    wanted = [
        (name, fn)
        for name, fn, on in (
            ("drift", drift, args.column_drift and not args.multiset),
            ("fix", fix, args.fix_sql_out),
            ("repair", repair, args.reconcile_out),
        )
        if on
    ]
    return lambda job: {
        name: functools.partial(fn, job) for name, fn in wanted if job.pk
    }


if __name__ == "__main__":
    sys.exit(main())
