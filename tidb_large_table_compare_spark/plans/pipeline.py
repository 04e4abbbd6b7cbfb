"""End-to-end orchestration: discover → plan → execute → report.

Collapses the reference's three file-mediated stages (SURVEY.md §3) into one
driver program:

- plan: one :class:`CompareJob` per discovered table — the in-memory analog
  of the generated per-table TOML (``step2_generate_configs.sh:96-133``);
  no file intermediary, no template substitution.
- execute: one pipeline per table on a pool of ``parallelism`` threads
  (the reference runs tables strictly serially, ``step3:106-123``). A
  table's first task reads both sides and runs its summary; each
  drill-down consumer then runs as a pool task of its own, and the
  table's compare is closed after its last consumer. At most
  ``parallelism`` tables are in flight, so a run holds at most that many
  persisted diffs, and Spark's scheduler interleaves the jobs the
  threads submit.
- tally: success/failure counts, failed-table list, nonzero-exit semantics
  (A13, ``step3:100-122, 247-249``).
- report: union of per-table summaries → :mod:`.report` totals/rendering.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait
from dataclasses import dataclass, field, replace

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
    # a side is a DataFrame, or a zero-argument loader that run_jobs calls
    # on the run pool, so the read is part of the table's task
    left: DataFrame | Callable[[], DataFrame]
    right: DataFrame | Callable[[], DataFrame]
    pk: list[str] | None
    options: CompareOptions = field(default_factory=CompareOptions)


@dataclass
class CompareRun:
    """Outcome of a batch of comparison jobs (A13 semantics)."""

    run_ts: str
    summaries: DataFrame  # (run_ts, table, structure_ok, upcount, downcount)
    # the jobs whose two sides were read, with the sides as DataFrames,
    # in job order
    jobs: list[CompareJob]
    # the TableCompare behind each successful summary, already closed:
    # its drill-down consumers (column drift, fix-SQL, repair) reused its
    # digest pass and persisted diff instead of comparing the table again
    compares: dict[str, TableCompare]
    # "ExceptionClass: first message line" per failed table: its read,
    # its summary or (first in declared order) one of its consumers
    failures: dict[str, str]
    # table -> consumer name -> what that consumer returned
    outputs: dict[str, dict[str, object]] = field(default_factory=dict)

    @property
    def ok_count(self) -> int:
        return len(self.compares.keys() - self.failures.keys())

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
    consumers: Callable[[CompareJob], dict[str, Callable[[TableCompare], object]]]
    | None = None,
) -> CompareRun:
    """Execute comparison jobs and aggregate their summaries.

    Each job's summary is computed eagerly (it is a one-row result; the heavy
    lifting stays distributed) so per-table failures are isolated exactly the
    way the reference isolates per-config tool failures (``step3:111-122``).

    ``consumers(job)``, when given, names the drill-down consumers of one
    table, ``{name: fn(cmp)}``, and is called with the job as read once its
    summary has run. Each consumer is a pool task of its own; what it
    returns lands in ``CompareRun.outputs[table][name]``, and an exception
    fails the table (the other tables go on). A table's compare is closed
    after its last consumer, or right after its summary when it has none.

    ``parallelism`` bounds both the threads running tasks (so the Spark
    actions in flight) and the tables admitted at once: the next table's
    read starts when an admitted table has closed. At 1, tables run one
    after another in job order, each consumer in declared order.

    ``progress`` receives one reference-style line per *completed* table
    (N of M, per-table wall-clock) as summaries finish.
    """
    run_ts = run_ts or time.strftime("%Y%m%d_%H%M%S")
    total = len(jobs)
    done = 0
    results: list[tuple[str, object, float]] = []
    read: dict[str, CompareJob] = {}
    compares: dict[str, TableCompare] = {}
    failures: dict[str, str] = {}
    outputs: dict[str, dict[str, object]] = {}

    def summarize(job: CompareJob):
        cmp = None
        try:
            job = replace(job, left=_read(job.left), right=_read(job.right))
            read[job.table] = job
            t0 = time.monotonic()
            cmp = compare_tables(
                spark, job.left, job.right, job.pk, job.options, job.table
            )
            row = cmp.summary().collect()[0]
        except Exception as exc:  # isolated per table (step3:111-122)
            if cmp is not None:
                cmp.close()  # a failed table leaves no persisted state
            return job, None, None, None, _failure_cause(exc)
        # per-table wall-clock, the reference's duration accounting
        # (step3_run_syncdiff.sh:125-134)
        return job, cmp, row, round(time.monotonic() - t0, 3), None

    def consume(fn, cmp):
        try:
            return fn(cmp), None
        except Exception as exc:  # isolated per table, like a summary
            return None, _failure_cause(exc)

    pending = iter(jobs)
    tasks: dict[Future, Callable] = {}  # running task -> its completion step
    pool = ThreadPoolExecutor(max(parallelism, 1))

    def admit() -> None:
        job = next(pending, None)
        if job is not None:
            tasks[pool.submit(summarize, job)] = summarized

    def summarized(result) -> None:
        nonlocal done
        job, cmp, row, secs, cause = result
        done += 1
        if progress is not None:
            progress(format_progress(done, total, job.table, secs))
        if cause is not None:
            failures[job.table] = cause
            return admit()
        compares[job.table] = cmp
        results.append((job.table, row, secs))
        todo = consumers(job) if consumers else {}
        if not todo:
            cmp.close()
            return admit()
        causes: dict[str, str] = {}
        remaining = set(todo)

        def consumed(name, result) -> None:
            value, cause = result
            if cause is None:
                outputs.setdefault(job.table, {})[name] = value
            else:
                causes[name] = cause
            remaining.discard(name)
            if not remaining:
                cmp.close()
                if causes:
                    failures[job.table] = next(causes[n] for n in todo if n in causes)
                admit()

        for name, fn in todo.items():
            tasks[pool.submit(consume, fn, cmp)] = (
                lambda result, name=name: consumed(name, result)
            )

    try:
        for _ in range(max(parallelism, 1)):
            admit()
        while tasks:
            finished, _ = wait(tasks, return_when=FIRST_COMPLETED)
            for fut in finished:
                tasks.pop(fut)(fut.result())
    finally:
        pool.shutdown(cancel_futures=True)
        # a run cut short leaves no persisted diff behind either
        for cmp in compares.values():
            cmp.close()

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
        run_ts=run_ts,
        summaries=summaries,
        jobs=[read[job.table] for job in jobs if job.table in read],
        compares=compares,
        failures=failures,
        outputs=outputs,
    )


def _read(side: DataFrame | Callable[[], DataFrame]) -> DataFrame:
    return side if isinstance(side, DataFrame) else side()
