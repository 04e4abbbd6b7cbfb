"""functions/localframe.py — driver-built rows as a JVM-only DataFrame.

The seam must be a drop-in for ``spark.createDataFrame(rows, schema)``:
same rows, same schema (nullability included) for every type the package
feeds it. Its point is the plan: a ``LocalRelation`` instead of a pickled
Python RDD, so actions over report/catalog/summary frames start no Python
worker and, for the catalog, run no Spark job at all.
"""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import types as T

from tests.conftest import SF_SMALL, jobs_in_group
from tidb_large_table_compare_spark.functions.localframe import local_frame

PACKAGE = Path(__file__).resolve().parent.parent / "tidb_large_table_compare_spark"

ROUND_TRIP_CASES = [
    pytest.param(
        [("一致", "it's"), ("差异", None), ("", 'a "b"')],
        "line string, __ord string",
        id="string",
    ),
    pytest.param(
        [(1, 2**40, True), (None, -(2**63), None), (-7, None, False)],
        "a int, b bigint, c boolean",
        id="int-bigint-boolean",
    ),
    pytest.param(
        [(-0.0,), (1.5,), (None,), (float("inf"),)],
        "x double",
        id="double",
    ),
    pytest.param(
        [(1, [3, -4]), (2, []), (3, None), (4, [None, 5])],
        "id long, qv array<long>",
        id="array-long",
    ),
    pytest.param(
        [("main", "orders", 1500, "NONCLUSTERED")],
        T.StructType(
            [
                T.StructField("table_schema", T.StringType(), False),
                T.StructField("table_name", T.StringType(), False),
                T.StructField("table_rows", T.LongType(), False),
                T.StructField("pk_type", T.StringType(), True),
            ]
        ),
        id="non-nullable-struct",
    ),
    pytest.param([], "column_name string, mismatch_rows bigint", id="zero-rows"),
]


@pytest.mark.parametrize("rows, schema", ROUND_TRIP_CASES)
def test_round_trip_matches_create_dataframe(spark, rows, schema):
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    # repr, not ==: -0.0 == 0.0, and the sign must survive
    assert repr(got.collect()) == repr(want.collect())


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def test_compare_cli_frames_plan_no_python_rdd(spark):
    """The frames on the compare CLI path are local relations, not the
    ``LogicalRDD`` a list-of-tuples ``createDataFrame`` plans."""
    from tidb_large_table_compare_spark.operators.schema_diff import schema_as_df
    from tidb_large_table_compare_spark.plans.pipeline import CompareJob, run_jobs
    from tidb_large_table_compare_spark.plans.report import render_final_report
    from tidb_large_table_compare_spark.sources.catalog import parquet_catalog

    nation = spark.read.parquet(f"{SF_SMALL}/nation.parquet")
    run = run_jobs(
        spark, [CompareJob("main.nation", nation, nation, ["n_nationkey"])],
        parallelism=1,
    )
    frames = {
        "catalog": parquet_catalog(spark, SF_SMALL, ["nation", "orders"]),
        "summaries": run.summaries,
        "schema_as_df": schema_as_df(spark, nation),
        "final_report": render_final_report(run.summaries),
        "final_report_empty": render_final_report(run.summaries.limit(0)),
    }
    for name, df in frames.items():
        plan = _analyzed(df)
        assert "LogicalRDD" not in plan, f"{name}: {plan[:300]}"
        assert "LocalRelation" in plan, f"{name}: {plan[:300]}"


def test_catalog_collect_runs_no_spark_job(spark):
    from tidb_large_table_compare_spark.sources.catalog import parquet_catalog

    catalog = parquet_catalog(spark, SF_SMALL, ["nation", "orders"])
    rows = []
    assert jobs_in_group(spark, lambda: rows.extend(catalog.collect())) == 0
    assert {r.table_name: r.table_rows for r in rows} == {
        "nation": 25,
        "orders": 1500,
    }
    # the counter does see jobs: the same rows as a list-of-tuples
    # createDataFrame run one
    python_rdd = spark.createDataFrame([tuple(r) for r in rows], catalog.schema)
    assert jobs_in_group(spark, python_rdd.collect) >= 1


def test_create_dataframe_only_in_the_seam():
    """Every driver-built frame in the package goes through local_frame."""
    hits = [
        f"{path.relative_to(PACKAGE)}:{n}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if "createDataFrame(" in line
    ]
    assert hits and all(h.startswith("functions/localframe.py:") for h in hits), hits


def test_cli_report_call_runs_at_most_two_jobs(spark):
    """The CLI's report over ``run.summaries`` is one collect of the latest
    run — the window's two jobs — and every line and total is rendered from
    those rows on the driver."""
    from tidb_large_table_compare_spark.plans.pipeline import CompareJob, run_jobs
    from tidb_large_table_compare_spark.plans.report import report

    nation = spark.read.parquet(f"{SF_SMALL}/nation.parquet")
    run = run_jobs(
        spark, [CompareJob("main.nation", nation, nation, ["n_nationkey"])],
        parallelism=1,
    )
    got = []
    assert jobs_in_group(spark, lambda: got.append(report(run.summaries))) <= 2
    assert got[0].totals.tables_checked == 1
