"""Per-column table profiling — the ANALYZE/statistics analog.

The reference reads ``information_schema`` row counts to size its jobs
(``step1_query_tables.sh:115-117``) but has no column-level profiling; for
a data engine this is the standard first look at any new table (null
ratios, cardinalities, value ranges) and the cheap drift tripwire between
full compares: profiles of two replicas diverging is a one-screen signal.

Single pass: every per-column statistic is an aggregate expression in ONE
``agg`` over one scan — ``count_distinct`` over k columns makes Catalyst
plan an Expand (k row-groups map-side, still one scan) — then a ``stack``
unpivots to one row per column. Exact distinct counts shuffle ∝ distinct
values; at lake scale pass ``approx=True`` to swap in HLL
(``approx_count_distinct``), which shuffles fixed-size sketches instead —
same output schema, ±~2% counts (and no cross-engine oracle, since HLL
estimates are engine-specific).

min/max are rendered as strings so the report schema is uniform across
column types; numeric interpretation stays with the caller.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tidb_large_table_compare_spark.functions.hashing import (
    canonical_value,
    quote_name,
    sql_string,
)

__all__ = ["profile_table"]


def profile_table(
    df: DataFrame, cols: list[str] | None = None, approx: bool = False
) -> DataFrame:
    """Profile ``cols`` (default: all columns) of ``df`` in one scan.

    Returns ``(column_name string, n_rows, n_nulls, n_distinct bigint,
    min_value string, max_value string)`` — one row per profiled column;
    ``n_distinct`` excludes NULL (SQL COUNT(DISTINCT) semantics), and
    min/max of an all-NULL column render as NULL strings.
    """
    names = list(cols) if cols is not None else list(df.columns)
    if not names:
        raise ValueError("profile_table needs at least one column")
    missing = [c for c in names if c not in df.columns]
    if missing:
        raise ValueError(f"columns not in frame: {missing}")
    distinct_of = (
        F.approx_count_distinct if approx else F.count_distinct
    )
    fields = {f.name: f.dataType for f in df.schema.fields}
    aggs = []
    for c in names:
        # a bare F.col(c)/df[c] PARSES the name (dots → nesting, a lone
        # backtick → syntax error), so quote it: resolves verbatim
        col = F.col(quote_name(c))
        if isinstance(fields[c], T.MapType):
            # maps are neither groupable nor orderable — profile the same
            # sorted-entry JSON serialization the row digests hash
            col = canonical_value(c, fields[c], None)
        aggs += [
            F.count(F.lit(1)).cast("bigint").alias(f"__rows_{c}"),
            F.count(F.when(col.isNull(), 1)).cast("bigint").alias(f"__nulls_{c}"),
            distinct_of(col).cast("bigint").alias(f"__dist_{c}"),
            F.min(col).cast("string").alias(f"__min_{c}"),
            F.max(col).cast("string").alias(f"__max_{c}"),
        ]
    one = df.agg(*aggs)
    # user column names land in a rendered SQL fragment twice — as a
    # string literal and inside backticked identifiers — so escape both
    # forms: a name containing ' or ` or \ must not break or mis-split
    # the expr
    stats = ("rows", "nulls", "dist", "min", "max")
    stack_args = ", ".join(
        ", ".join([sql_string(c)] + [quote_name(f"__{s}_{c}") for s in stats])
        for c in names
    )
    return one.select(
        F.expr(
            f"stack({len(names)}, {stack_args}) AS "
            "(column_name, n_rows, n_nulls, n_distinct, min_value, max_value)"
        )
    )
