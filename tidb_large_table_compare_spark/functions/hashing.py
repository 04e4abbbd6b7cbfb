"""Canonical row hashing for order-independent table digests.

This is the engine's analog of sync-diff-inspector's per-chunk checksum that
the reference parameterizes via ``chunk-size`` (reference:
``syncdiff_config2/config.toml:21``, ``syncdiff_config2/my_database_users.toml:45``)
and compares chunk-by-chunk before drilling down (SURVEY.md §2.B B5/B6).

Hard parts handled here (SURVEY.md §7):

- **Type-stable canonical forms.** ``xxhash64`` hashes Spark's internal binary
  representation, so every column is first normalized to a canonical value,
  written once as SQL text (``_canonical_sql``) for every dtype:
  floats/doubles get ``-0.0 → 0.0`` (they compare equal but have different
  bits) and optional declared rounding for cross-engine tolerance; map columns
  are serialized via sorted-key JSON (Spark refuses to hash MapType because
  map iteration order is undefined).
- **NULL vs empty string / NULL-skip ambiguity.** Spark's multi-column hash
  functions *skip* NULL columns (the seed passes through unchanged), so
  ``(NULL, 'a')`` and ``('a', NULL)`` could collide. We interleave an
  ``isnull`` flag byte before every nullable column so the null pattern is
  part of the hashed byte stream.
- **Column order.** The hashed column order is the *sorted* column-name order,
  not positional — two tables with the same columns in different physical
  order digest identically (the structure diff reports the reorder
  separately; reference report's STRUCTURE column,
  ``step3_run_syncdiff.sh:204-209``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "canonical_value",
    "quote_name",
    "row_hash",
    "sql_string",
    "bucket_id",
]


_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def quote_name(name: str) -> str:
    """``name`` as one backticked SQL identifier, inner backticks doubled:
    it resolves verbatim, dots and backticks included."""
    return "`" + name.replace("`", "``") + "`"


def sql_string(s: str) -> str:
    """``s`` as one single-quoted SQL string literal (backslashes and
    quotes escaped)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _null_flag(ref: str) -> str:
    return f"CAST(({ref} IS NULL) AS INT)"


def _canonical_sql(
    ref: str, dtype: T.DataType, float_round: int | None, depth: int = 0
) -> str:
    """SQL text of ``ref``'s hash-stable canonical form — the one
    definition ``row_hash``, ``bucket_id`` and ``canonical_value`` share.

    ``ref`` is SQL text naming the value: a quoted column, or a path from
    a lambda variable; ``depth`` counts the enclosing lambdas, so each
    nesting level binds its own variable name. One ``F.expr`` over this
    text crosses py4j once and parses JVM-side, where building the same
    tree through the Column API costs several round trips per node
    (PERFORMANCE.md "One canonical form").
    """
    if isinstance(dtype, _INTEGRAL):
        # Widen ALL scale-0 numerics — integrals and DECIMAL(p,0) alike —
        # to one canonical form, DECIMAL(38,0): equal values must digest
        # equally across the whole benign-widening chain
        # tinyint→…→bigint→DECIMAL(20,0)→DECIMAL(38,0). The chain's tail
        # is real: TiDB's unsigned BIGINT arrives over JDBC as
        # DECIMAL(20,0), so a TiDB-vs-parquet compare pairs it against a
        # native bigint. xxhash64 hashes the PHYSICAL form (long vs
        # unscaled-bytes, flipping at precision 19), so no narrower form
        # covers the chain. The structure diff still reports the type
        # change (B1).
        return f"CAST({ref} AS DECIMAL(38,0))"
    if isinstance(dtype, T.DecimalType):
        # Decimals with a nonzero scale widen to the max precision at the
        # DECLARED scale; a SCALE mismatch stays a structure-diff-reported
        # type change (5 vs 5.00 is a declared-semantics change, not a
        # widening). Scale-0 decimals land on the integral form above.
        return f"CAST({ref} AS DECIMAL(38,{dtype.scale}))"
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        c = f"CAST({ref} AS DOUBLE)"
        if float_round is not None:
            c = f"round({c}, {int(float_round)})"
        # -0.0 = 0.0 is true, so this folds negative zero onto positive
        # zero; NaN is left alone (Spark canonicalizes NaN bits in
        # UnsafeRow). The D suffix pins a DOUBLE literal: a bare 0.0
        # parses as DECIMAL(1,1).
        return f"CASE WHEN {c} = 0.0D THEN 0.0D ELSE {c} END"
    x = f"__x{depth}"
    if isinstance(dtype, T.MapType):
        # Spark refuses to hash MapType (iteration order is undefined):
        # serialize the sorted entries, keys and values canonicalized too
        entry = T.StructType(
            [
                T.StructField("key", dtype.keyType),
                T.StructField("value", dtype.valueType),
            ]
        )
        element = _canonical_element(x, entry, float_round, depth)
        return (
            f"to_json(transform(array_sort(map_entries({ref})), "
            f"{x} -> {element}))"
        )
    if isinstance(dtype, T.ArrayType):
        element = _canonical_element(x, dtype.elementType, float_round, depth)
        return f"transform({ref}, {x} -> {element})"
    if isinstance(dtype, T.StructType):
        # an interleaved null flag per field (the nested NULL-skip
        # ambiguity mirrors the top-level one). struct(), not
        # named_struct(): its automatic field names (a field extraction
        # keeps the field's name, any other expression is colN) appear in
        # a map's JSON, so they are part of the hashed form. Fields are
        # extracted as ref['name'], never ref.name: a dotted path would
        # resolve to a top-level column when the frame's alias equals the
        # struct column's name.
        parts: list[str] = []
        for f in dtype.fields:
            v = f"{ref}[{sql_string(f.name)}]"
            parts += [_null_flag(v), _canonical_sql(v, f.dataType, float_round, depth)]
        return f"struct({', '.join(parts)})"
    return ref


def _canonical_element(
    x: str, dtype: T.DataType, float_round: int | None, depth: int
) -> str:
    """A collection element as (null flag, canonical value), so NULL
    elements cannot alias adjacent values in the hashed byte stream."""
    return (
        f"named_struct('isnull', {_null_flag(x)}, "
        f"'v', {_canonical_sql(x, dtype, float_round, depth + 1)})"
    )


def canonical_value(
    name: str, dtype: T.DataType, float_round: int | None = None
) -> Column:
    """Column ``name``'s canonical form, as ``row_hash`` hashes it.

    Lets other operators compare *individual* columns under exactly the
    equality the digests use (integral widening, -0.0 folding, declared
    float rounding, hashable map/struct forms) — e.g. the per-column drift
    drill-down, whose counts must reconcile with the row-level verdicts.
    """
    return F.expr(_canonical_sql(quote_name(name), dtype, float_round))


def row_hash(
    df: DataFrame,
    cols: list[str] | None = None,
    float_round: int | None = None,
) -> Column:
    """64-bit canonical row hash over ``cols`` (default: all columns):
    xxhash64 over an interleaved (null flag, canonical value) pair per
    column, in sorted column-name order."""
    fields = {f.name: f.dataType for f in df.schema.fields}
    parts: list[str] = []
    for n in sorted(cols if cols is not None else df.columns):
        q = quote_name(n)
        parts += [_null_flag(q), _canonical_sql(q, fields[n], float_round)]
    return F.expr(f"xxhash64({', '.join(parts)})")


# Version of the bucket-ASSIGNMENT function below. Persisted digest
# artifacts (operators/incremental.py) stamp this into their sidecar:
# bucket ids are only comparable when both sides assigned them with the
# same function, and the assignment has changed —
#   v1: xxhash64 over the raw PK columns (pre-widening),
#   v2: integral PK columns widened to bigint before hashing (an INT pk
#       on one side vs BIGINT on the other previously landed identical
#       rows in different buckets, flagging every bucket bad),
#   v3: every scale-0 numeric PK (integral AND DECIMAL(p,0)) widened to
#       DECIMAL(38,0), nonzero-scale decimals to DECIMAL(38, scale) —
#       xxhash64's physical form flips long→bytes at precision 19, so
#       equal values bucketed differently across that boundary AND
#       across the bigint↔DECIMAL(20,0) family line (the TiDB
#       unsigned-BIGINT-over-JDBC case).
# Bump this on ANY change to bucket_id's assignment (hash function,
# canonicalization, pmod strategy) so stale artifacts refuse loudly
# instead of silently degrading incremental compares or corrupting
# CDC-folded digests.
BUCKETING_VERSION = 3


def bucket_id(pk_cols: list[str], n_buckets: int, df: DataFrame) -> Column:
    """Hash-bucket id from the PK — the engine's 'chunk' (SURVEY.md §1.1).

    Physical PK-range chunks (reference ``chunk-size = 5000``) become hash
    buckets: Spark partitioning already gives locality, and hash bucketing is
    skew-resistant without needing PK statistics.

    Numeric PK columns (by ``df``'s schema) are hashed in their canonical
    form — DECIMAL(38,0) for every scale-0 numeric, DECIMAL(38, scale)
    otherwise — so an INT pk on one side and a BIGINT (or DECIMAL(20,0),
    the TiDB unsigned-BIGINT JDBC mapping) on the other put identical rows
    in the SAME bucket. Every other PK type hashes raw: applying the
    double or complex forms here would move bucket assignments
    (``BUCKETING_VERSION``).
    """
    fields = {f.name: f.dataType for f in df.schema.fields}
    parts: list[str] = []
    for c in pk_cols:
        q, dtype = quote_name(c), fields.get(c)
        numeric = isinstance(dtype, (*_INTEGRAL, T.DecimalType))
        parts.append(_canonical_sql(q, dtype, None) if numeric else q)
    return F.expr(
        f"pmod(xxhash64({', '.join(parts)}), {int(n_buckets)})"
    ).alias("bucket")
