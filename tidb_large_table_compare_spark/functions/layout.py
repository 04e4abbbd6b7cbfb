"""Data-layout functions: Z-order (Morton) keys for multi-dimension pruning.

Not in the reference (its layout is whatever TiDB stores); this is the
100 TB table-layout tool the engine adds: sorting a table by the bit
interleave of two (or more) key columns bounds EVERY interleaved dimension's
min/max extent within each file/row-group, so parquet stats prune scans for
predicates on any of the dimensions — a plain sort bounds only the leading
column. Pure integer bit arithmetic (shift/and/or), identical in any SQL
engine, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["morton_key", "morton_key_sql"]


def morton_key(x: Column, y: Column, bits: int = 16) -> Column:
    """Interleave the low ``bits`` bits of two non-negative ints: x→even,
    y→odd positions. 32 shift/mask terms OR-folded — whole-stage-codegen
    friendly; values above 2^bits-1 are masked (callers pick ``bits`` to
    cover their domain)."""
    acc = F.lit(0).cast("long")
    for j in range(bits):
        xb = F.shiftleft(F.shiftright(x.cast("long"), j).bitwiseAND(F.lit(1)), 2 * j)
        yb = F.shiftleft(
            F.shiftright(y.cast("long"), j).bitwiseAND(F.lit(1)), 2 * j + 1
        )
        acc = acc.bitwiseOR(xb).bitwiseOR(yb)
    return acc


def morton_key_sql(x: str, y: str, bits: int = 16) -> str:
    """The same interleave as :func:`morton_key`, as an ANSI-SQL expression
    string (DuckDB-compatible `>> << & |`) for oracle parity."""
    terms = []
    for j in range(bits):
        terms.append(f"((({x} >> {j}) & 1) << {2 * j})")
        terms.append(f"((({y} >> {j}) & 1) << {2 * j + 1})")
    return "(" + " | ".join(terms) + ")"
