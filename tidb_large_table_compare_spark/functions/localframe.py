"""Driver-built rows as a JVM-only DataFrame — the one seam for local frames.

``spark.createDataFrame(list_of_tuples, schema)`` plans a pickled Python RDD
(``LogicalRDD``) in a classic session, so the first action over it starts a
``pyspark.daemon`` worker pool just to unpickle a handful of rows (measured
on 4 cores: a 2.0 s first collect that leaves 7 daemons, against 0.64 s and
none for the Arrow form). Report frames, catalog rows and run summaries are
driver-sized by construction and never need a Python worker.

:func:`local_frame` builds a ``pyarrow.Table`` column-wise against the
schema's Arrow form and hands it to ``createDataFrame``. Spark plans that as
a ``LocalRelation`` below ``spark.sql.execution.arrow.localRelationThreshold``
(actions over it run no Spark job at all) and as a JVM-side Arrow RDD above
it — no Python worker either way. The path does not read
``spark.sql.execution.arrow.pyspark.enabled`` and behaves the same under
Spark Connect, whose ``createDataFrame`` ships Arrow batches natively.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

__all__ = ["local_frame"]


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: T.StructType | str
) -> DataFrame:
    """``rows`` (tuples in ``schema`` field order) as a DataFrame whose
    plan holds no Python RDD. ``schema`` is a StructType or a DDL string;
    the result's schema equals it, nullability included."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.DataType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    rows = list(rows)
    columns = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
