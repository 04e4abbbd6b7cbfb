"""Catalog source — the `information_schema.tables` analog (operator A1).

The reference discovers comparison candidates by querying the master's
catalog over the MySQL protocol (``step1_query_tables.sh:115-117``) with the
``check_sql`` from ``syncdiff_config2/config.toml:16``. Natively we build a
catalog DataFrame of ``(table_schema, table_name, table_rows, pk_type)``:

- from live ``spark.catalog`` metadata when tables are registered, or
- from a parquet directory: one row per table file, row counts taken from
  parquet footer metadata (no data scan — the analog of TABLE_ROWS stats).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from tidb_large_table_compare_spark.functions.localframe import local_frame

CATALOG_SCHEMA = T.StructType(
    [
        T.StructField("table_schema", T.StringType(), False),
        T.StructField("table_name", T.StringType(), False),
        T.StructField("table_rows", T.LongType(), False),
        T.StructField("pk_type", T.StringType(), False),
    ]
)

# Deterministic stand-in for TiDB's TIDB_PK_TYPE on the test schema: the
# fact-ish tables carry a NONCLUSTERED PK (the discovery predicate's target,
# config.toml:16), dimensions are CLUSTERED.
NONCLUSTERED_TABLES = frozenset({"orders", "lineitem", "events", "customer", "part"})


def parquet_catalog(
    spark: SparkSession,
    sf_dir: str,
    tables: list[str],
    schema_name: str = "main",
    row_scale: int = 1,
    on_unreadable: Callable[[str, Exception], None] | None = None,
) -> DataFrame:
    """Catalog DataFrame from parquet footer row counts (metadata-only).

    The rows are read on the driver and returned as a local relation, so
    collecting the catalog runs zero Spark jobs.

    ``row_scale`` lets tests emulate the reference's billion-row regime on
    small files (the discovery predicate compares against 1e9).

    ``on_unreadable(name, exc)``, when given, receives each table whose
    footers cannot be read, and the catalog leaves that table out;
    without it the read error propagates.
    """
    rows = []
    for name in tables:
        try:
            n = _footer_row_count(f"{sf_dir}/{name}.parquet")
        except Exception as exc:
            if on_unreadable is None:
                raise
            on_unreadable(name, exc)
            continue
        pk_type = "NONCLUSTERED" if name in NONCLUSTERED_TABLES else "CLUSTERED"
        rows.append((schema_name, name, n * row_scale, pk_type))
    return local_frame(spark, rows, CATALOG_SCHEMA)


def _footer_row_count(path: str) -> int:
    """Row count from parquet footers only — no data pages read.

    Handles every layout a table arrives in: a single parquet file (the
    driver's testdata), a Spark-written DATASET DIRECTORY of part-files
    (``df.write.parquet``), and a PARTITIONED dataset (``partitionBy``
    writes, whose parquet members live in ``key=value`` subdirectories, so
    a flat listdir would silently sum to 0 — a wrong catalog row count).
    ``pyarrow.parquet.ParquetDataset`` resolves all three to the same
    fragment list (and speaks fsspec filesystems, not just driver-local
    paths); a dataset with no parquet fragments raises instead of
    reporting an empty table. Only fragment footers are read, so the
    catalog stays a metadata operation at any table size.
    """
    import pyarrow.parquet as pq

    fragments = pq.ParquetDataset(path).fragments
    if not fragments:
        raise FileNotFoundError(f"no parquet members under dataset dir {path}")
    return sum(f.metadata.num_rows for f in fragments)
