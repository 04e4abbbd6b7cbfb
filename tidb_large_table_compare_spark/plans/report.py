"""Report aggregation — operators A16-A25 (SURVEY.md §2.A).

Input: a ``summaries`` DataFrame of per-table, per-run results
``(run_ts, table, structure_ok, upcount, downcount)`` — the structured analog
of the parsed ``summary.txt`` fields (``step3_run_syncdiff.sh:204-229``).

The pipeline reproduces the reference's final report exactly:
- keep only rows from the latest run timestamp (A16, ``step3:169-172``)
- guarded casts: non-numeric counts drop out of sums (A20, ``step3:223-226``)
- structure-ok vs structure-diff tallies (A21, ``step3:206-209``)
- TOTAL_UPCOUNT / TOTAL_DOWNCOUNT sums (A22, ``step3:224-227``)
- scaled "N M 行" volume formatting (A23, ``step3:241``)
- fixed-width rendered table (A24, ``step3:190-234``)
"""

from __future__ import annotations

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


def _pad_cell(col: F.Column, width: int, align: str = "left") -> F.Column:
    """Pad a cell the way bash ``printf %Ns`` does — by BYTES, not characters.

    ``printf "%-9s" 一致`` emits the 6 UTF-8 bytes plus 3 spaces; Java's
    ``format_string`` would pad the 2 *characters* to 9 and break bit-parity
    (step3_run_syncdiff.sh:221). Overlong values pass through unpadded,
    matching printf (Spark's lpad/rpad would truncate them), and NULL cells
    render as all-spaces like printf's empty string (A20: a summary whose
    count failed the numeric guard still renders its row).
    """
    s = F.coalesce(col.cast("string"), F.lit(""))
    pad = F.repeat(F.lit(" "), F.greatest(F.lit(0), F.lit(width) - F.octet_length(s)))
    return F.concat(pad, s) if align == "right" else F.concat(s, pad)


def report_row_line(
    table: F.Column, status: F.Column, up: F.Column, down: F.Column
) -> F.Column:
    """One rendered body row: ``| %-17s | %-9s | %7s | %9s |`` in printf-byte
    semantics (step3_run_syncdiff.sh:221)."""
    return F.concat(
        F.lit("| "), _pad_cell(table, 17),
        F.lit(" | "), _pad_cell(status, 9),
        F.lit(" | "), _pad_cell(up, 7, "right"),
        F.lit(" | "), _pad_cell(down, 9, "right"),
        F.lit(" |"),
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


def report_totals(summaries: DataFrame) -> DataFrame:
    """A20-A23: one-row totals over the latest run."""
    latest = latest_run(summaries)
    up = F.col("upcount").cast("string").try_cast("long")
    down = F.col("downcount").cast("string").try_cast("long")
    return latest.agg(
        F.count(F.lit(1)).alias("tables_checked"),
        F.sum(F.when(F.col("structure_ok"), 1).otherwise(0)).alias("structure_ok_cnt"),
        F.sum(F.when(F.col("structure_ok"), 0).otherwise(1)).alias("structure_diff_cnt"),
        F.coalesce(F.sum(up), F.lit(0)).alias("total_upcount"),
        F.coalesce(F.sum(down), F.lit(0)).alias("total_downcount"),
    ).withColumn(
        # "总数据量: $((TOTAL_UPCOUNT / 1000000))M 行" — upcount only, not
        # up+down (step3_run_syncdiff.sh:241)
        "volume_label",
        F.format_string("%dM 行", F.floor(F.col("total_upcount") / 1_000_000)),
    )


def render_report(summaries: DataFrame) -> DataFrame:
    """A24/A25: fixed-width ASCII table lines, one row per table, sorted.

    Returns a single-column ``line`` DataFrame (text-sink ready) shaped like
    the reference's final report (``step3_run_syncdiff.sh:190-234``).
    """
    latest = latest_run(summaries)
    border = REPORT_BORDER
    header = REPORT_HEADER
    status = F.when(F.col("structure_ok"), F.lit(STRUCTURE_OK_LABEL)).otherwise(
        F.lit(STRUCTURE_DIFF_LABEL)
    )
    body = latest.select(
        report_row_line(
            F.col("table"), status, F.col("upcount"), F.col("downcount")
        ).alias("line"),
        # explicit ordering key: union does not preserve row order, and a
        # rendered report is meaningless if its lines can interleave
        F.concat(F.lit("1_"), F.col("table")).alias("__ord"),
    )
    spark = summaries.sparkSession
    frame = local_frame(
        spark,
        [(border, "0_0"), (header, "0_1"), (border, "0_2")],
        "line string, __ord string",
    )
    tail = local_frame(spark, [(border, "2_0")], "line string, __ord string")
    return frame.unionByName(body).unionByName(tail).orderBy("__ord").select("line")


def render_summary_block(summaries: DataFrame) -> DataFrame:
    """A21-A23 rendered as the reference's 汇总统计 tail block
    (``step3_run_syncdiff.sh:237-243``; the ANSI color escapes around
    ``[INFO]`` and the diff count are omitted — they are terminal dressing,
    not report content).

    The 结构差异 line appears only when the diff count is positive, exactly
    like the reference's ``if [ "$STRUCTURE_DIFF" -gt 0 ]`` guard.
    """
    return _summary_block_ordered(summaries).orderBy("__ord").select("line")


def _summary_block_ordered(summaries: DataFrame, prefix: str = "") -> DataFrame:
    t = report_totals(summaries)
    lines = t.select(
        F.array_compact(
            F.array(
                F.format_string("[INFO] 汇总统计: 共 %d 张表", F.col("tables_checked")),
                F.format_string("  结构一致: %d 张", F.col("structure_ok_cnt")),
                F.when(
                    F.col("structure_diff_cnt") > 0,
                    F.format_string("  结构差异: %d 张", F.col("structure_diff_cnt")),
                ),
                F.format_string("  总数据量: %s", F.col("volume_label")),
            )
        ).alias("lines")
    )
    return lines.select(F.posexplode("lines").alias("__pos", "line")).select(
        "line", F.format_string(f"{prefix}%d", F.col("__pos")).alias("__ord")
    )


def render_final_report(summaries: DataFrame) -> DataFrame:
    """The reference's complete tee block (``step3_run_syncdiff.sh:175-244``,
    ANSI colors omitted): banner + title, the found-files line, the rendered
    table, and the 汇总统计 tail — or the no-summaries message when there is
    nothing to report. One ``line`` column, sink-ready.

    The found-files count is the number of latest-run summary rows (one per
    parsed summary.txt in the text-parser path, one per compared table
    natively) — ``SUMMARY_FILES`` is already latest-run-filtered when
    ``SUMMARY_COUNT=$(... | wc -l)`` runs (step3:169-172, 185).
    """
    spark = summaries.sparkSession
    # One job renders and collects the body rows: the found-files count (which
    # picks the report shape, so it must be eager) and the body lines come from
    # the same pass — no persist, so nothing is left cached across renders
    # (ADVICE r4: the previous persist was never released on the normal path).
    # Driver state is bounded by construction: one ~60-byte rendered line per
    # compared table of the latest run — the report is a terminal/tee artifact
    # in the reference (step3_run_syncdiff.sh:175) and is driver-sized by
    # definition, the same budget as the drill-down IN-list cap.
    status = F.when(F.col("structure_ok"), F.lit(STRUCTURE_OK_LABEL)).otherwise(
        F.lit(STRUCTURE_DIFF_LABEL)
    )
    body_rows = (
        latest_run(summaries)
        .select(
            report_row_line(
                F.col("table"), status, F.col("upcount"), F.col("downcount")
            ).alias("line"),
            F.concat(F.lit("2_"), F.col("table")).alias("__ord"),
        )
        .collect()
    )
    n_files = len(body_rows)
    head = [
        (REPORT_BANNER, "0_0"),
        (REPORT_TITLE, "0_1"),
        (REPORT_BANNER, "0_2"),
        ("", "0_3"),
    ]
    schema = "line string, __ord string"
    if n_files == 0:
        head.append((NO_SUMMARY_LINE, "0_4"))
        return local_frame(spark, head, schema).orderBy("__ord").select("line")
    head += [
        (f"[INFO] 找到 {n_files} 个 summary.txt 文件", "0_4"),
        ("", "0_5"),
        (REPORT_BORDER, "1_0"),
        (REPORT_HEADER, "1_1"),
        (REPORT_BORDER, "1_2"),
        (REPORT_BORDER, "3_0"),
        ("", "4_0"),
        ("", "6_0"),
    ]
    frame = local_frame(
        spark, head + [(r["line"], r["__ord"]) for r in body_rows], schema
    )
    tail = _summary_block_ordered(summaries, prefix="5_")
    return frame.unionByName(tail).orderBy("__ord").select("line")
