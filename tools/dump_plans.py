#!/usr/bin/env python3
"""Dump explain("formatted") for registry queries into plans/<dir>/.

Usage: python3 tools/dump_plans.py <outdir> <suffix> [entry ...]
e.g.   python3 tools/dump_plans.py plans/r13 after cmp_summary_orders ...

The explain covers the RETURNED frame's plan; the compare's eager digest
pass is dumped when named with the cmp_digest_pass pseudo-entry.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tidb_large_table_compare_spark.session import get_spark  # noqa: E402


def formatted(df) -> str:
    jvm = df.sparkSession._jvm
    return jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    outdir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("plans")
    os.makedirs(outdir, exist_ok=True)

    from tidb_large_table_compare_spark.operators.compare import TableCompare
    from tidb_large_table_compare_spark.perturb import perturbed_orders
    from tidb_large_table_compare_spark.registry import QUERIES
    from tidb_large_table_compare_spark.sources.tables import load_table

    for name in names:
        if name == "cmp_digest_pass":
            orders = load_table(spark, sf_dir, "orders")
            cmp = TableCompare(
                spark, orders, perturbed_orders(orders), ["o_orderkey"]
            )
            df = cmp.mismatched_buckets()
        else:
            df = QUERIES[name](spark, sf_dir)
        path = Path(outdir) / f"{name}_{suffix}.txt"
        path.write_text(formatted(df))
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
