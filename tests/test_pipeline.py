"""Orchestration + report parity tests (SURVEY.md §2.A operators, FIXTURES.md §5-7)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tidb_large_table_compare_spark.operators.compare import CompareOptions
from tidb_large_table_compare_spark.plans.discover import discover, stale_entries
from tidb_large_table_compare_spark.plans.pipeline import CompareJob, run_jobs
from tidb_large_table_compare_spark.plans.report import (
    EQUIVALENT_MARKER,
    latest_run,
    render_report,
    report_totals,
)
from tidb_large_table_compare_spark.sources.catalog import parquet_catalog
from tidb_large_table_compare_spark.sources.reports import parse_summaries
from tidb_large_table_compare_spark.sources.tables import TABLES
from tests.conftest import SF_SMALL


# ---- discovery (A1-A6, A11) -------------------------------------------------

CATALOG_ROWS = [
    # (schema, table, rows, pk_type) — FIXTURES.md §5: exactly 5 qualify
    ("app_db", f"t{i}", rows, pk)
    for i, (rows, pk) in enumerate(
        [(5_000_000_000, "NONCLUSTERED")] * 5
        + [(5_000_000_000, "CLUSTERED")] * 10
        + [(1_000, "NONCLUSTERED")] * 15
        + [(999_999_999, "NONCLUSTERED")] * 5
        + [(1_000_000_001, "CLUSTERED")] * 5
    )
]


def test_discovery_golden_count(spark):
    catalog = spark.createDataFrame(
        CATALOG_ROWS, "table_schema string, table_name string, table_rows bigint, pk_type string"
    )
    found = discover(catalog)
    assert found.count() == 5
    assert found.columns == ["table_schema", "table_name"]


def test_discovery_empty_result_is_normal(spark):
    """A6: empty discovery is a documented normal case (README.md:199-208)."""
    catalog = spark.createDataFrame(
        CATALOG_ROWS, "table_schema string, table_name string, table_rows bigint, pk_type string"
    )
    assert discover(catalog, row_threshold=10_000_000_000).isEmpty()


def test_parquet_catalog_metadata_only(spark):
    cat = parquet_catalog(spark, SF_SMALL, TABLES, row_scale=1_000_000)
    assert cat.count() == len(TABLES)
    found = discover(cat)
    names = {r.table_name for r in found.collect()}
    # events is exactly 1000 rows × 1e6 = 1e9 — excluded by the strict '>'
    # (the reference predicate is TABLE_ROWS > 1000000000, config.toml:16)
    assert names == {"orders", "lineitem"}


def test_parquet_catalog_handles_spark_dataset_directories(spark, tmp_path):
    """Tables written by df.write.parquet are DIRECTORIES of part-files,
    not single files (the driver testdata's layout) — the catalog must sum
    footer counts across members, still without reading data pages."""
    from pyspark.sql import functions as F

    out = tmp_path / "tbls"
    spark.range(1000).select(F.col("id").alias("o_orderkey")).repartition(
        4
    ).write.parquet(str(out / "orders.parquet"))
    cat = parquet_catalog(spark, str(out), ["orders"])
    assert [(r.table_name, r.table_rows) for r in cat.collect()] == [("orders", 1000)]


def test_stale_anti_join(spark):
    prev = spark.createDataFrame(
        [("a", "t1"), ("a", "t2"), ("a", "t3")], "table_schema string, table_name string"
    )
    cur = spark.createDataFrame([("a", "t2")], "table_schema string, table_name string")
    stale = stale_entries(prev, cur)
    assert {r.table_name for r in stale.collect()} == {"t1", "t3"}


# ---- execute + tally (A10/A12/A13) -------------------------------------------


def test_run_jobs_tally_and_exit_code(spark):
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    nation = spark.read.parquet(f"{SF_SMALL}/nation.parquet")
    jobs = [
        CompareJob("main.orders", orders, orders, ["o_orderkey"]),
        CompareJob("main.nation", nation, nation.filter(F.col("n_nationkey") != 3),
                   ["n_nationkey"], CompareOptions(chunk_size=5)),
    ]
    run = run_jobs(spark, jobs, parallelism=2, run_ts="20240102_120000")
    assert run.ok_count == 2 and run.fail_count == 0 and run.exit_code == 0
    rows = {r.table: r for r in run.summaries.collect()}
    assert rows["main.orders"].upcount == 0
    assert rows["main.nation"].upcount == 1 and rows["main.nation"].downcount == 0


def test_run_jobs_failure_isolated(spark):
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    bad = CompareJob("main.bad", orders, orders, ["no_such_column"])
    good = CompareJob("main.orders", orders, orders, ["o_orderkey"])
    run = run_jobs(spark, [bad, good], parallelism=1)
    assert run.ok_count == 1 and run.fail_count == 1
    assert run.failed_tables == ["main.bad"] and run.exit_code == 1
    assert run.failures["main.bad"].startswith("AnalysisException: ")


def test_run_jobs_parallel_over_shared_handles_matches_serial(spark):
    """Eight compares over the same ``load_table`` handles, four at a time,
    give the serial run's summaries and leave no persistent RDD behind:
    without consumers, run_jobs closes each compare after its summary. The
    jobs reach every scope kind and the multiset path. The check is on RDD
    ids, not the count: Spark keeps one cache entry per plan, so a close()
    also releases an equal plan another test left cached, and the context
    cleaner may drop leftovers meanwhile."""
    from tidb_large_table_compare_spark.perturb import perturbed_orders
    from tidb_large_table_compare_spark.sources.tables import load_table

    orders = load_table(spark, SF_SMALL, "orders")
    nation = load_table(spark, SF_SMALL, "nation")
    one_gone = orders.filter(F.col("o_orderkey") != 7)
    pk = ["o_orderkey"]

    def jobs():
        slave = perturbed_orders(load_table(spark, SF_SMALL, "orders"))
        return [
            CompareJob("db.same", orders, orders, pk),
            CompareJob("db.one_gone", orders, one_gone, pk),
            CompareJob("db.wide", orders, slave, pk, CompareOptions(n_buckets=4096)),
            CompareJob("db.skip", orders, slave, pk, CompareOptions(n_buckets=4)),
            CompareJob("db.multiset", orders, slave, None),
            CompareJob("db.range", orders, slave, pk,
                       CompareOptions(range_sql="o_orderkey < 3000")),
            CompareJob("db.nation", nation, nation.filter(F.col("n_nationkey") != 3),
                       ["n_nationkey"], CompareOptions(chunk_size=5)),
            CompareJob("db.buckets64", orders, slave, pk, CompareOptions(n_buckets=64)),
        ]

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = persisted()
    got = {}
    for parallelism in (1, 4):
        run = run_jobs(spark, jobs(), parallelism=parallelism)
        assert run.fail_count == 0
        kinds = {
            c.scope().kind for c in run.compares.values() if c.pk
        }
        got[parallelism] = sorted(
            (r.table, r.structure_ok, r.upcount, r.downcount)
            for r in run.summaries.collect()
        )
        assert persisted() - before == set()
        assert kinds == {"empty", "bitset", "skip"}
    assert got[4] == got[1] and len(got[1]) == 8


# ---- report aggregation (A16-A25) --------------------------------------------

SUMMARIES = [
    ("20240101_000000", "`db`.`old`", True, 5, 5),
    ("20240103_000000", "`db`.`a`", True, 0, 0),
    ("20240103_000000", "`db`.`b`", False, 1_500_000, 2_000_000),
    ("20240103_000000", "`db`.`c`", True, None, 7),  # A20: NULL upcount drops out
    ("20240102_000000", "`db`.`a`", False, 9, 9),
]


@pytest.fixture()
def summaries(spark):
    return spark.createDataFrame(
        SUMMARIES,
        "run_ts string, table string, structure_ok boolean, upcount bigint, downcount bigint",
    )


def test_latest_run_filter(summaries):
    latest = latest_run(summaries)
    assert latest.count() == 3
    assert {r.run_ts for r in latest.collect()} == {"20240103_000000"}


def test_report_totals(summaries):
    row = report_totals(summaries).collect()[0]
    assert row.tables_checked == 3
    assert row.structure_ok_cnt == 2 and row.structure_diff_cnt == 1
    assert row.total_upcount == 1_500_000 and row.total_downcount == 2_000_007
    # reference counts TOTAL_UPCOUNT only (step3_run_syncdiff.sh:241)
    assert row.volume_label == "1M 行"  # floor(1.5e6/1e6)


def test_render_final_report_byte_parity(spark, summaries):
    """The complete tee block must reproduce the reference's exact strings
    (step3_run_syncdiff.sh:175-244, colors omitted): banner/title, the
    found-files line over the LATEST run, table, blank-line placement, and
    the 汇总统计 tail with the conditional 结构差异 line."""
    from tidb_large_table_compare_spark.plans.report import (
        NO_SUMMARY_LINE,
        REPORT_BANNER,
        render_final_report,
    )

    lines = [r.line for r in render_final_report(summaries).collect()]
    assert lines == [
        "═" * 60,
        "                    最终比对报告                                    ",
        "═" * 60,
        "",
        "[INFO] 找到 3 个 summary.txt 文件",
        "",
        "+-------------------+-----------+---------+-----------+",
        "|       TABLE       | STRUCTURE | UPCOUNT | DOWNCOUNT |",
        "+-------------------+-----------+---------+-----------+",
        # 一致/差异 are 6 UTF-8 bytes → 3 pad spaces (+1 separator), per
        # bash printf's byte-counting %-9s
        "| `db`.`a`          | 一致    |       0 |         0 |",
        "| `db`.`b`          | 差异    | 1500000 |   2000000 |",
        "| `db`.`c`          | 一致    |         |         7 |",
        "+-------------------+-----------+---------+-----------+",
        "",
        "[INFO] 汇总统计: 共 3 张表",
        "  结构一致: 2 张",
        "  结构差异: 1 张",
        "  总数据量: 1M 行",
        "",
    ]

    empty = spark.createDataFrame(
        [],
        "run_ts string, table string, structure_ok boolean, upcount bigint, downcount bigint",
    )
    assert [r.line for r in render_final_report(empty).collect()] == [
        REPORT_BANNER,
        "                    最终比对报告                                    ",
        REPORT_BANNER,
        "",
        NO_SUMMARY_LINE,
    ]


def test_render_final_report_leaves_nothing_cached(spark, summaries):
    """The final report must not pin cached frames across renders (ADVICE
    r4: a persist() on the latest-run dedup was never released on the
    normal path — repeated report renders accumulated cached data)."""
    from tidb_large_table_compare_spark.plans.report import render_final_report

    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    for _ in range(3):
        render_final_report(summaries).collect()
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert after == before


def test_render_report_shape(summaries):
    lines = [r.line for r in render_report(summaries).collect()]
    assert lines[0].startswith("+") and lines[-1].startswith("+")
    assert any("`db`.`b`" in l and "差异" in l for l in lines)
    data = [l for l in lines if l.startswith("| `")]
    assert len(data) == 3
    # printf-byte padding parity: 一致 = 6 UTF-8 bytes → 3 pad spaces, every
    # rendered line is 55 BYTES wide like the reference's (not 55 chars)
    for line in lines:
        assert len(line.encode("utf-8")) == 55, line


# ---- text parser path (A4, A14-A20; FIXTURES.md §7) ---------------------------


def _write_summary(tmp_path, table, ts, up, down, equivalent, noise=False):
    d = tmp_path / f"db_{table}_{ts}"
    d.mkdir(parents=True)
    lines = []
    if noise:
        lines.append("mysql: [Warning] Using a password on the command line.")
    lines += [
        "+---------------------+---------+-----------+",
        "| TABLE               | UPCOUNT | DOWNCOUNT |",
        "+---------------------+---------+-----------+",
        f"| `db`.`{table}` | {up} | {down} |",
        "+---------------------+---------+-----------+",
    ]
    if equivalent:
        lines.append(EQUIVALENT_MARKER)
    (d / "summary.txt").write_text("\n".join(lines) + "\n")


def test_summary_line_numbering_is_layout_independent(spark, tmp_path):
    """A18's "first backticked data row" must come from the FILE's order,
    not the scan's partition layout. The numbering is posexplode over a
    wholetext read — deterministic by construction — so the truth row wins
    even when the scan conf would have split a line-oriented read of this
    file into many partitions (the works-by-layout class the round-10 sf1
    sweep caught in stable_sequential_ids)."""
    from tidb_large_table_compare_spark.sources.reports import (
        _numbered_summary_lines,
        parse_summaries,
    )

    d = tmp_path / "db_big_20240105_010101"
    d.mkdir(parents=True)
    filler = ["padding line %04d with no delimiter" % i for i in range(2000)]
    body = filler + [
        "| `db`.`big` | 11 | 22 |",  # the TRUE first data row
        *("more padding %04d" % i for i in range(2000)),
        "| `db`.`big` | 99 | 99 |",  # a later decoy
    ]
    (d / "summary.txt").write_text("\n".join(body) + "\n")

    conf = spark.conf
    before = conf.get("spark.sql.files.maxPartitionBytes")
    conf.set("spark.sql.files.maxPartitionBytes", "4096")
    try:
        numbered = _numbered_summary_lines(spark, f"{tmp_path}/*/summary.txt")
        rows = numbered.orderBy("__line_no").collect()
        parsed = parse_summaries(spark, f"{tmp_path}/*/summary.txt").collect()
    finally:
        conf.set("spark.sql.files.maxPartitionBytes", before)

    # line numbers are exactly the file positions, regardless of the conf
    assert [r.line for r in rows] == body
    assert [r["__line_no"] for r in rows] == list(range(len(body)))
    (row,) = parsed
    assert (row.upcount, row.downcount) == (11, 22)


def test_read_summary_lines_termination_parity(spark, tmp_path):
    """The wholetext+split reader must reproduce line-reader termination
    semantics: one trailing newline is a terminator (no phantom empty
    line), CRLF normalizes, interior empty lines survive, and an empty
    file yields zero rows."""
    from tidb_large_table_compare_spark.sources.reports import (
        _numbered_summary_lines,
    )

    d = tmp_path / "db_t_20240101_000000"
    d.mkdir(parents=True)
    cases = {
        "terminated.txt": ("a\nb\n", ["a", "b"]),
        "unterminated.txt": ("a\nb", ["a", "b"]),
        "crlf.txt": ("a\r\nb\r\n", ["a", "b"]),
        "interior_blank.txt": ("a\n\nb\n", ["a", "", "b"]),
        # ends with a BLANK LINE: a line reader yields ['a', ''] — the
        # \z anchor must strip only the final terminator, not both (a
        # non-MULTILINE $ also matches before the last \n and eats two)
        "trailing_blank.txt": ("a\n\n", ["a", ""]),
        "trailing_blank_crlf.txt": ("a\r\n\r\n", ["a", ""]),
        "empty.txt": ("", []),
    }
    for name, (text, _) in cases.items():
        (d / name).write_text(text)

    got = (
        _numbered_summary_lines(spark, f"{d}/*.txt")
        .orderBy("path", "__line_no")
        .collect()
    )
    by_file: dict[str, list[str]] = {}
    for r in got:
        by_file.setdefault(r.path.rsplit("/", 1)[-1], []).append(r.line)
    for name, (_, want) in cases.items():
        assert by_file.get(name, []) == want, name


def test_parse_summaries_text_path(spark, tmp_path):
    _write_summary(tmp_path, "users", "20240103_010101", 12, 34, False, noise=True)
    _write_summary(tmp_path, "items", "20240103_010101", 0, 0, True)
    _write_summary(tmp_path, "users", "20240101_010101", 99, 99, False)
    _write_summary(tmp_path, "weird", "20240103_010101", "abc", 7, False)  # A20 guard

    parsed = parse_summaries(spark, f"{tmp_path}/*/summary.txt")
    rows = {r.table: r for r in parsed.collect()}
    assert rows["`db`.`users`"].upcount == 12 or rows["`db`.`users`"].upcount == 99
    assert rows["`db`.`items`"].structure_ok
    assert rows["`db`.`weird`"].upcount is None and rows["`db`.`weird`"].downcount == 7

    # chained with the report stage: latest run only, guarded totals
    totals = report_totals(parsed).collect()[0]
    assert totals.tables_checked == 3  # users@latest, items, weird
    assert totals.total_upcount == 12 and totals.total_downcount == 41


def test_final_report_renders_a_tableless_summary_inside_the_table(spark, tmp_path):
    """A summary.txt with no data row parses to a NULL-table row (kept on
    purpose). Its row renders inside the table block, after the named
    rows — not above the banner — and counts as a structure diff."""
    from tidb_large_table_compare_spark.plans.report import (
        REPORT_BANNER,
        REPORT_BORDER,
        REPORT_HEADER,
        render_final_report,
    )

    _write_summary(tmp_path, "a", "20240103_010101", 0, 0, True)
    d = tmp_path / "db_b_20240103_010101"
    d.mkdir()
    (d / "summary.txt").write_text("+----+\n| TABLE |\n+----+\ncheck failed\n")

    parsed = parse_summaries(spark, f"{tmp_path}/*/summary.txt")
    lines = [r.line for r in render_final_report(parsed).collect()]
    assert lines[0] == REPORT_BANNER
    h = lines.index(REPORT_HEADER)
    assert lines[h + 1 : h + 5] == [
        REPORT_BORDER,
        "| `db`.`a`          | 一致    |       0 |         0 |",
        "|                   | 差异    |         |           |",
        REPORT_BORDER,
    ]
    assert "[INFO] 找到 2 个 summary.txt 文件" in lines
    assert "  结构差异: 1 张" in lines
