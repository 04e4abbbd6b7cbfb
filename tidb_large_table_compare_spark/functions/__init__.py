"""Column-level building blocks (all JVM-side built-ins, codegen-friendly)."""

from tidb_large_table_compare_spark.functions.hashing import (  # noqa: F401
    bucket_id,
    row_hash,
)
