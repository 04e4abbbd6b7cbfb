"""summary.txt text-report parser — operators A4, A14-A20 (SURVEY.md §2.A).

The reference aggregates its final report by re-parsing every per-table
``summary.txt`` produced by the comparison tool:

- A14 recursive glob scan (``find $OUT -name summary.txt``, ``step3:157``)
- A15 run timestamp from the parent dir name ``{schema}_{table}_{ts}``
  (``awk -F'_' '{print $NF}'``, ``step3:158-165``)
- A4  skip ``mysql:``-prefixed client-noise lines (``step1:143-145`` — an
  artifact of merged stderr, reproduced here for parser parity)
- A17 equivalence-marker flag via line containment (``step3:204-209``)
- A18 first backticked data row, excluding ``+`` borders and the header
  (``step3:212``)
- A19 split on ``|``, take fields 2/3/4, trim (``step3:215-218``)
- A20 guarded numeric casts — unparseable counts become NULL and drop out
  of downstream sums (``step3:223-226``)

Everything is DataFrame-native: ``spark.read.text`` + ``input_file_name`` +
string/window functions. No driver-side file iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tidb_large_table_compare_spark.plans.report import EQUIVALENT_MARKER


def _numbered_summary_lines(spark: SparkSession, glob: str) -> DataFrame:
    """Lines tagged with a within-file ``__line_no`` that is deterministic
    BY CONSTRUCTION, not by scan layout.

    A18 ("first backticked data row") needs the file's read order. The
    previous implementation materialized it with
    ``monotonically_increasing_id`` over a line-oriented ``spark.read.text``,
    which encodes the SCAN PARTITION index — that tracks file offsets only
    because Spark's split packing happens to sort equal-size splits stably
    and bin-pack them sequentially, an implementation detail with no
    contract (the round-10 sf1 sweep caught `stable_sequential_ids` dying
    on exactly this works-by-layout class). Instead each file is read
    whole (``wholetext``) and line numbers come from ``posexplode`` over
    the split body: the number IS the line's position, independent of
    splits, packing, partition count, or retries.

    Scale note: ``wholetext`` makes a single report unsplittable, which is
    the right trade — summary reports are KB-sized and the 100 TB
    parallelism unit is the FILE (the glob fans out to one row per file),
    not intra-file splits.
    """
    files = spark.read.text(glob, wholetext=True).select(
        F.input_file_name().alias("path"), "value"
    )
    # split("\r?\n") after dropping ONE trailing newline reproduces the
    # line reader's termination semantics ("a\nb\n" → [a, b], not
    # [a, b, ""]); an empty file yields zero lines, same as read.text.
    # Anchor with \z (end of INPUT), not $: Java's non-MULTILINE $ also
    # matches just before a final line terminator, so "$" would strip TWO
    # newlines from a file ending in a blank line ("a\n\n" → "a"), silently
    # dropping the trailing empty line the line reader yields.
    body = F.regexp_replace(F.col("value"), "\r?\n\\z", "")
    return files.filter(F.length("value") > 0).select(
        "path",
        F.posexplode(F.split(body, "\r?\n")).alias("__line_no", "line"),
    )


def parse_summaries(spark: SparkSession, glob: str) -> DataFrame:
    """Full A14-A20 pipeline: text reports → structured summaries DataFrame
    ``(run_ts, table, structure_ok, upcount, downcount)`` (FIXTURES.md §6).
    """
    lines = _numbered_summary_lines(spark, glob)
    # A4: drop client-warning noise merged into the text stream.
    lines = lines.filter(~F.col("line").startswith("mysql:"))
    # A15: run_ts from the parent directory name '{schema}_{table}_{YYYYMMDD_HHMMSS}'.
    parent = F.element_at(F.split(F.col("path"), "/"), -2)
    run_ts = F.regexp_extract(parent, r"(\d{8}_\d{6})$", 1)
    lines = lines.withColumn("run_ts", run_ts)

    # A17: per-file marker flag (grouped max of a containment predicate).
    flags = lines.groupBy("path", "run_ts").agg(
        F.max(F.col("line").contains(EQUIVALENT_MARKER)).alias("equivalent_marker")
    )

    # A18: the first backticked data row, excluding borders and the header.
    data_rows = (
        lines.filter(
            F.col("line").contains("`")
            & ~F.col("line").startswith("+")
            & ~F.col("line").contains("TABLE")
        )
        # __line_no is the construction-deterministic within-file position
        # from _numbered_summary_lines — NOT a scan-layout artifact
        .groupBy("path")
        .agg(F.min_by("line", F.col("__line_no")).alias("line"))
    )
    # A19/A20: fields 2/3/4 of the '|'-delimited row, trimmed, guarded casts.
    # try_element_at, not element_at: under ANSI mode (the Spark 4 default)
    # element_at RAISES past the array end, so one backticked prose line
    # with no '|' delimiters would kill the whole aggregation instead of
    # degrading to the NULL counts the try_cast contract promises.
    split = F.split(F.col("line"), r"\|")
    parsed = data_rows.select(
        "path",
        F.trim(F.try_element_at(split, F.lit(2))).alias("table"),
        F.trim(F.try_element_at(split, F.lit(3))).try_cast("long").alias("upcount"),
        F.trim(F.try_element_at(split, F.lit(4))).try_cast("long").alias("downcount"),
    )

    # LEFT join from the per-file flags: a report whose run died before
    # printing any backticked data row still has a verdict worth reporting —
    # an inner join would silently drop the file, the opposite of the A20
    # "unparseable fields become NULL" degradation.
    return flags.join(parsed, "path", "left").select(
        "run_ts",
        "table",
        F.col("equivalent_marker").alias("structure_ok"),
        "upcount",
        "downcount",
    )
