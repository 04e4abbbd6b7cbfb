"""End-to-end orchestration: discover → plan → execute → report.

Collapses the reference's three file-mediated stages (SURVEY.md §3) into one
driver program:

- plan: one :class:`CompareJob` per discovered table — the in-memory analog
  of the generated per-table TOML (``step2_generate_configs.sh:96-133``);
  no file intermediary, no template substitution.
- execute: per-table comparisons, optionally overlapped with a thread pool
  (the reference runs tables strictly serially, ``step3:106-123``; Spark's
  scheduler interleaves jobs submitted from threads, so table-level
  concurrency is free).
- tally: success/failure counts, failed-table list, nonzero-exit semantics
  (A13, ``step3:100-122, 247-249``).
- report: union of per-table summaries → :mod:`.report` totals/rendering.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor, as_completed
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from tidb_large_table_compare_spark.functions.localframe import local_frame
from tidb_large_table_compare_spark.operators.compare import (
    CompareOptions,
    TableCompare,
    compare_tables,
)

__all__ = ["CompareJob", "CompareRun", "format_progress", "run_jobs"]


@dataclass
class CompareJob:
    """One table's comparison: its two sides, key and options. The CLI
    builds one per table from its flags, where the reference rendered a
    per-table TOML from a template (A9/A10, SURVEY.md §1.1)."""

    table: str  # '{schema}.{table}' display name
    left: DataFrame
    right: DataFrame
    pk: list[str] | None
    options: CompareOptions = field(default_factory=CompareOptions)


@dataclass
class CompareRun:
    """Outcome of a batch of comparison jobs (A13 semantics)."""

    run_ts: str
    summaries: DataFrame  # (run_ts, table, structure_ok, upcount, downcount)
    # the TableCompare behind each successful summary — drill-down consumers
    # (column drift, fix-SQL, repair) reuse its digest pass and persisted
    # diff instead of comparing the table again
    compares: dict[str, TableCompare]
    # "ExceptionClass: first message line" per failed table
    failures: dict[str, str]

    @property
    def ok_count(self) -> int:
        return len(self.compares)

    @property
    def fail_count(self) -> int:
        return len(self.failures)

    @property
    def failed_tables(self) -> list[str]:
        return sorted(self.failures)

    @property
    def exit_code(self) -> int:
        """Nonzero if any table failed (``step3_run_syncdiff.sh:247-249``)."""
        return 1 if self.fail_count else 0


def _failure_cause(exc: BaseException) -> str:
    """``ExceptionClass: first message line`` — enough to tell a missing
    column from a corrupt file without the traceback."""
    lines = str(exc).strip().splitlines()
    name = type(exc).__name__
    return f"{name}: {lines[0]}" if lines else name


def format_progress(
    done: int, total: int, table: str, secs: float | None = None, width: int = 50
) -> str:
    """The reference's progress line (``step3_run_syncdiff.sh:43-57``):
    a fixed-width bar, percentage, (done/total) counter, and the table name —
    plus the per-table wall-clock the reference logs separately
    (``step3:125-134``)."""
    pct = done * 100 // max(total, 1)
    filled = pct * width // 100
    bar = "=" * filled + "-" * (width - filled)
    line = f"[{bar}] {pct:3d}% ({done:2d}/{total:2d}) {table}"
    if secs is not None:
        line += f" ({secs:.3f}s)"
    return line


def run_jobs(
    spark: SparkSession,
    jobs: list[CompareJob],
    parallelism: int = 4,
    run_ts: str | None = None,
    progress: Callable[[str], None] | None = None,
) -> CompareRun:
    """Execute comparison jobs and aggregate their summaries.

    Each job's summary is computed eagerly (it is a one-row result; the heavy
    lifting stays distributed) so per-table failures are isolated exactly the
    way the reference isolates per-config tool failures (``step3:111-122``).

    ``progress`` receives one reference-style line per *completed* table
    (N of M, per-table wall-clock) as jobs finish.
    """
    run_ts = run_ts or time.strftime("%Y%m%d_%H%M%S")
    total = len(jobs)
    done = 0

    def one(job: CompareJob):
        t0 = time.monotonic()
        cmp = None
        try:
            cmp = compare_tables(
                spark, job.left, job.right, job.pk, job.options, job.table
            )
            row = cmp.summary().collect()[0]
        except Exception as exc:  # isolated per table (step3:111-122)
            if cmp is not None:
                cmp.close()  # a failed table leaves no persisted state
            return job.table, None, None, None, _failure_cause(exc)
        # per-table wall-clock, the reference's duration accounting
        # (step3_run_syncdiff.sh:125-134)
        return job.table, cmp, row, round(time.monotonic() - t0, 3), None

    results: list[tuple[str, object, float]] = []
    compares: dict[str, TableCompare] = {}
    failures: dict[str, str] = {}

    def record(table, cmp, row, secs, cause) -> None:
        nonlocal done
        if cause is not None:
            failures[table] = cause
        else:
            compares[table] = cmp
            results.append((table, row, secs))
        done += 1
        if progress is not None:
            progress(format_progress(done, total, table, secs))

    if parallelism > 1 and len(jobs) > 1:
        with ThreadPoolExecutor(max_workers=parallelism) as pool:
            for fut in as_completed([pool.submit(one, j) for j in jobs]):
                record(*fut.result())
    else:
        for j in jobs:
            record(*one(j))

    rows = [
        (run_ts, table, row.structure_ok, row.upcount, row.downcount, secs)
        for table, row, secs in results
    ]
    summaries = local_frame(
        spark,
        rows,
        "run_ts string, table string, structure_ok boolean, "
        "upcount bigint, downcount bigint, duration_s double",
    )
    return CompareRun(
        run_ts=run_ts, summaries=summaries, compares=compares, failures=failures
    )
