"""Fix-SQL export — operator B10 in SURVEY.md §2.B.

The reference enables ``export-fix-sql = true``
(``syncdiff_config2/my_database_users.toml:8``): for every inconsistent row
the comparison emits a repair statement for the target ("slave") side.
Semantics match B9's classification: rows missing or modified on the target
get ``REPLACE INTO`` built from the master's values; rows present only on the
target get ``DELETE``.

Everything is built with JVM-side string expressions (``format_string`` /
``concat_ws`` / ``regexp_replace``) — no Python UDFs — and the master's
repair rows are retrieved by a semi-join against the small diff set, which
AQE broadcasts, so producing fix SQL never shuffles the large table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["sql_literal", "fix_sql"]


def sql_literal(col: Column, dtype: T.DataType) -> Column:
    """Render a column as a SQL literal string (NULL-aware, quote-escaped)."""
    if isinstance(dtype, T.StringType):
        body = F.concat(F.lit("'"), F.regexp_replace(col, "'", "''"), F.lit("'"))
    elif isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        body = F.concat(
            F.lit("'"), F.date_format(col, "yyyy-MM-dd HH:mm:ss.SSSSSS"), F.lit("'")
        )
    elif isinstance(dtype, T.DateType):
        body = F.concat(F.lit("'"), F.date_format(col, "yyyy-MM-dd"), F.lit("'"))
    elif isinstance(dtype, T.BooleanType):
        body = F.when(col, F.lit("TRUE")).otherwise(F.lit("FALSE"))
    elif isinstance(dtype, T.BinaryType):
        body = F.concat(F.lit("X'"), F.hex(col), F.lit("'"))
    else:
        body = col.cast("string")
    return F.when(col.isNull(), F.lit("NULL")).otherwise(body)


def fix_sql(cmp) -> DataFrame:
    """Repair statements for the right ("slave") side of a TableCompare.

    Returns a DataFrame with a single ``fix_sql`` string column:
    ``REPLACE INTO`` for missing/modified rows (values from the master),
    ``DELETE FROM`` for extra rows. Statement order is irrelevant because
    REPLACE is idempotent and the three classes touch disjoint PKs.
    """
    pk = cmp.pk
    if not pk:
        raise ValueError("fix_sql requires a primary key (multiset diffs are not addressable)")
    # the diff feeds BOTH output branches (REPLACE retrieval and DELETE
    # rendering): the compare's one persisted copy, shared with the
    # summary and reconcile.apply_fixes, so the drill-down runs once
    diff = cmp.diff_rows()
    table = cmp.table_name
    left = cmp.left
    fields = {f.name: f.dataType for f in left.schema.fields}
    cols = list(left.columns)

    to_replace = diff.filter(F.col("diff_type") != "extra_in_right").select(pk)
    # the master's repair rows: AQE broadcasts the small diff side of the
    # semi-join, so the master scan never shuffles
    master_rows = left.join(to_replace, pk, "left_semi")
    values = F.concat_ws(", ", *[sql_literal(F.col(c), fields[c]) for c in cols])
    replaces = master_rows.select(
        F.format_string(
            f"REPLACE INTO {table} ({', '.join(cols)}) VALUES (%s);", values
        ).alias("fix_sql")
    )

    extras = diff.filter(F.col("diff_type") == "extra_in_right")
    pred = F.concat_ws(
        " AND ",
        *[
            F.format_string(f"{c} = %s", sql_literal(F.col(c), fields[c]))
            for c in pk
        ],
    )
    deletes = extras.select(
        F.format_string(f"DELETE FROM {table} WHERE %s;", pred).alias("fix_sql")
    )
    return replaces.unionByName(deletes)
