"""Shared fixtures: one SparkSession per test session, DuckDB oracle helper."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import os
import uuid

SF_SMALL = "/root/testdata/sf0.001"
# the driver checks at sf0.01; override to sweep other scales, e.g.
#   SPARK_GRAFT_ORACLE_SF=/root/testdata/sf0.001 python -m pytest tests/test_oracle.py
# (an sf sweep caught a real duplicate-key semantics bug in round 1)
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from tidb_large_table_compare_spark.session import get_spark

    spark = get_spark("tests")
    yield spark


def jobs_in_group(spark, action) -> int:
    """Spark jobs ``action`` ran, counted through its own job group."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))
