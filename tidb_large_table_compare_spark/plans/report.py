"""Report aggregation — operators A16-A25 (SURVEY.md §2.A).

Input: a ``summaries`` DataFrame of per-table, per-run results
``(run_ts, table, structure_ok, upcount, downcount)`` — the structured analog
of the parsed ``summary.txt`` fields (``step3_run_syncdiff.sh:204-229``).

:func:`report` reproduces the reference's final report in one pass, the way
``step3_run_syncdiff.sh:169-244`` does: it collects the latest run once
(A16, ``step3:169-172``) and ``printf``-s everything else from those rows on
the driver:
- guarded casts: non-numeric counts drop out of sums (A20, ``step3:223-226``)
- structure-ok vs structure-diff tallies (A21, ``step3:206-209``)
- TOTAL_UPCOUNT / TOTAL_DOWNCOUNT sums (A22, ``step3:224-227``)
- scaled "N M 行" volume formatting (A23, ``step3:241``)
- fixed-width rendered table (A24/A25, ``step3:190-234``)

The latest run is driver-sized by definition — one summary row per compared
table, the reference's terminal/tee artifact — so the rendering is plain
Python. :func:`render_final_report`, :func:`render_report`,
:func:`render_summary_block` and :func:`report_totals` are ``local_frame``
views of one :func:`report` for sinks and the registry's oracle entries.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import window as W

from tidb_large_table_compare_spark.functions.localframe import local_frame

EQUIVALENT_MARKER = (
    "The table structure and data in following tables are equivalent"
)  # step3_run_syncdiff.sh:204

# Reference strings, byte-for-byte (step3_run_syncdiff.sh:176-244): the
# STRUCTURE column prints 一致/差异, the header centers TABLE, and the volume
# line counts TOTAL_UPCOUNT only, formatted "N M 行".
REPORT_BORDER = "+-------------------+-----------+---------+-----------+"
REPORT_HEADER = "|       TABLE       | STRUCTURE | UPCOUNT | DOWNCOUNT |"
STRUCTURE_OK_LABEL = "一致"  # step3_run_syncdiff.sh:206
STRUCTURE_DIFF_LABEL = "差异"  # step3_run_syncdiff.sh:204
REPORT_BANNER = "═" * 60  # step3_run_syncdiff.sh:176
REPORT_TITLE = "                    最终比对报告                                    "
NO_SUMMARY_LINE = "没有找到 summary.txt 文件"  # step3_run_syncdiff.sh:182

_TOTALS_SCHEMA = (
    "tables_checked bigint, structure_ok_cnt bigint, structure_diff_cnt bigint, "
    "total_upcount bigint, total_downcount bigint, volume_label string"
)


class Totals(NamedTuple):
    """A20-A23 over the latest run; field names are :func:`report_totals`'
    columns."""

    tables_checked: int
    structure_ok_cnt: int
    structure_diff_cnt: int
    total_upcount: int
    total_downcount: int
    volume_label: str


class Report(NamedTuple):
    """One rendering of the latest run: the complete final-report block, the
    table block and the 汇总统计 tail it embeds, and the totals."""

    final: list[str]
    table: list[str]
    tail: list[str]
    totals: Totals


def _pad(value: object, width: int, right: bool = False) -> str:
    """Pad a cell the way bash ``printf %Ns`` does — by BYTES, not characters.

    ``printf "%-9s" 一致`` emits the 6 UTF-8 bytes plus 3 spaces
    (step3_run_syncdiff.sh:221). Overlong values pass through unpadded, and
    None renders as all-spaces like printf's empty string (A20: a summary
    whose count failed the numeric guard still renders its row).
    """
    s = "" if value is None else str(value)
    pad = " " * max(0, width - len(s.encode("utf-8")))
    return pad + s if right else s + pad


def report_row_line(table: object, status: object, up: object, down: object) -> str:
    """One rendered body row: ``| %-17s | %-9s | %7s | %9s |`` in printf-byte
    semantics (step3_run_syncdiff.sh:221)."""
    return (
        f"| {_pad(table, 17)} | {_pad(status, 9)} "
        f"| {_pad(up, 7, right=True)} | {_pad(down, 9, right=True)} |"
    )


def latest_run(summaries: DataFrame) -> DataFrame:
    """A16: rows whose run_ts equals the global max run_ts.

    The window has no partition key on purpose — it reduces to a scalar max
    broadcast by Spark, mirroring ``sort -r | head -1`` then filter.
    """
    w = W.Window.partitionBy()
    return summaries.withColumn("__max_ts", F.max("run_ts").over(w)).filter(
        F.col("run_ts") == F.col("__max_ts")
    ).drop("__max_ts")


def report(summaries: DataFrame) -> Report:
    """The reference's final report from one collect of the latest run
    (``step3_run_syncdiff.sh:175-244``, ANSI colors omitted).

    ``final`` is the complete tee block: banner + title, the found-files
    line, the table and the 汇总统计 tail — or the no-summaries message when
    the latest run is empty. The found-files count is the number of
    latest-run rows: ``SUMMARY_FILES`` is already latest-run-filtered when
    ``SUMMARY_COUNT=$(... | wc -l)`` runs (step3:169-172, 185).

    Table rows sort by table name (code-point order, which is Spark's UTF-8
    binary order); a row without a table name (a parsed summary.txt with no
    data row) renders after the named rows. The 结构差异 line appears only
    when the diff count is positive, like the reference's
    ``if [ "$STRUCTURE_DIFF" -gt 0 ]`` guard.
    """
    rows = (
        latest_run(summaries)
        .select(
            "table",
            "structure_ok",
            F.col("upcount").cast("string").alias("up"),
            F.col("downcount").cast("string").alias("down"),
            # A20: a non-numeric count renders raw but drops out of the sums
            F.col("upcount").cast("string").try_cast("long").alias("up_n"),
            F.col("downcount").cast("string").try_cast("long").alias("down_n"),
        )
        .collect()
    )
    rows.sort(key=lambda r: (r.table is None, r.table or ""))
    n, ok = len(rows), sum(1 for r in rows if r.structure_ok)
    diff = n - ok  # a NULL structure_ok counts as a diff
    up = sum(r.up_n for r in rows if r.up_n is not None)
    down = sum(r.down_n for r in rows if r.down_n is not None)
    # "总数据量: $((TOTAL_UPCOUNT / 1000000))M 行" — upcount only, not
    # up+down (step3_run_syncdiff.sh:241)
    totals = Totals(n, ok, diff, up, down, f"{up // 1_000_000}M 行")
    table = [REPORT_BORDER, REPORT_HEADER, REPORT_BORDER]
    for r in rows:
        status = STRUCTURE_OK_LABEL if r.structure_ok else STRUCTURE_DIFF_LABEL
        table.append(report_row_line(r.table, status, r.up, r.down))
    table.append(REPORT_BORDER)
    tail = [f"[INFO] 汇总统计: 共 {n} 张表", f"  结构一致: {ok} 张"]
    if diff > 0:
        tail.append(f"  结构差异: {diff} 张")
    tail.append(f"  总数据量: {totals.volume_label}")
    final = [REPORT_BANNER, REPORT_TITLE, REPORT_BANNER, ""]
    if rows:
        found = f"[INFO] 找到 {n} 个 summary.txt 文件"
        final += [found, "", *table, "", *tail, ""]
    else:
        final.append(NO_SUMMARY_LINE)
    return Report(final, table, tail, totals)


def _lines(summaries: DataFrame, lines: list[str]) -> DataFrame:
    return local_frame(summaries.sparkSession, [(s,) for s in lines], "line string")


def render_final_report(summaries: DataFrame) -> DataFrame:
    """:func:`report`'s complete final-report block as a sink-ready ``line``
    column."""
    return _lines(summaries, report(summaries).final)


def render_report(summaries: DataFrame) -> DataFrame:
    """A24/A25: :func:`report`'s fixed-width ASCII table as a ``line``
    column, one row per table of the latest run."""
    return _lines(summaries, report(summaries).table)


def render_summary_block(summaries: DataFrame) -> DataFrame:
    """A21-A23: :func:`report`'s 汇总统计 tail block
    (``step3_run_syncdiff.sh:237-243``) as a ``line`` column."""
    return _lines(summaries, report(summaries).tail)


def report_totals(summaries: DataFrame) -> DataFrame:
    """A20-A23: :func:`report`'s totals as a one-row frame."""
    return local_frame(
        summaries.sparkSession, [report(summaries).totals], _TOTALS_SCHEMA
    )
