"""Structure (schema) comparison — operator B1 in SURVEY.md §2.B.

The reference always checks table structure before data (the template's
``check-struct-only = false`` still implies a structure check —
``syncdiff_config2/my_database_users.toml:11``) and surfaces the verdict as
the report's STRUCTURE column (``step3_run_syncdiff.sh:204-209``).

Here both schemas become DataFrames of ``(column_name, data_type, nullable,
position)`` and a full outer join on column name classifies every column:
``ok`` / ``type_mismatch`` / ``missing_in_right`` / ``extra_in_right`` /
``reordered``. The verdict itself, :meth:`TableCompare.structure_ok`, is
True iff every column would be ``ok``, and is computed driver-side from the
two schemas without a Spark job.

Nullability is REIFIED for display (``schema_as_df``) but deliberately
EXCLUDED from the verdict: Spark's inferred ``nullable`` flag is not a
reliable structure signal — parquet scans mark every column nullable
regardless of the writer's constraints, and expression-derived columns
flip the flag by construction (``F.when`` vs ``F.lit``), so comparing it
would report structure drift between a table and its own projection.
A real NULL/NOT NULL DDL check belongs at the catalog layer
(information_schema), where the declared constraint actually lives.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tidb_large_table_compare_spark.functions.localframe import local_frame

_SCHEMA = T.StructType(
    [
        T.StructField("column_name", T.StringType(), False),
        T.StructField("data_type", T.StringType(), False),
        T.StructField("nullable", T.BooleanType(), False),
        T.StructField("position", T.IntegerType(), False),
    ]
)


def schema_as_df(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Reify a DataFrame's schema as a (tiny, driver-built) DataFrame."""
    rows = [
        (f.name, f.dataType.simpleString(), f.nullable, i)
        for i, f in enumerate(df.schema.fields)
    ]
    return local_frame(spark, rows, _SCHEMA)


def schema_diff(spark: SparkSession, left: DataFrame, right: DataFrame) -> DataFrame:
    """Column-level structure diff of two DataFrames.

    Returns ``(column_name, left_type, right_type, left_pos, right_pos,
    status)`` with status in {'ok', 'type_mismatch', 'missing_in_right',
    'extra_in_right', 'reordered'}.
    """
    l = schema_as_df(spark, left).select(
        "column_name",
        F.col("data_type").alias("left_type"),
        F.col("position").alias("left_pos"),
    )
    r = schema_as_df(spark, right).select(
        "column_name",
        F.col("data_type").alias("right_type"),
        F.col("position").alias("right_pos"),
    )
    joined = l.join(r, "column_name", "full_outer")
    status = (
        F.when(F.col("right_type").isNull(), F.lit("missing_in_right"))
        .when(F.col("left_type").isNull(), F.lit("extra_in_right"))
        .when(F.col("left_type") != F.col("right_type"), F.lit("type_mismatch"))
        .when(F.col("left_pos") != F.col("right_pos"), F.lit("reordered"))
        .otherwise(F.lit("ok"))
    )
    return joined.withColumn("status", status).orderBy(
        F.coalesce("left_pos", "right_pos"), "column_name"
    )
