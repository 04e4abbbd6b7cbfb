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

import datetime

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "canonical_value",
    "quote_name",
    "row_hash",
    "sql_string",
    "bucket_id",
    "in_list",
]


_SAFE_DT_CHARS = frozenset("0123456789-:. ")
_SAFE_TS_CHARS = frozenset("0123456789-:. +")
_SAFE_STR_ID_CHARS = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789-_.:/@"
)


def in_list(col_name: str, ids: list, dtype: T.DataType | None = None) -> Column:
    """Membership predicate for a possibly-huge id list.

    ``Column.isin`` converts every element to a literal through its own
    py4j round trip — ~30 s of DRIVER time at 50k ids, ~7 s at 10k
    (measured, PERFORMANCE.md round-8), superlinear enough to
    dwarf the jobs it guards. For integer and Decimal ids the same
    predicate rendered as one ``IN (...)`` SQL string crosses py4j once
    and parses JVM-side (~1.5 s at 50k); Catalyst folds the literal list
    to the identical INSET hash set, so the executed plan is unchanged.
    Renderings are pinned and charset-checked so the SQL fragment can
    never carry anything unexpected: ``int()`` for ints, ``:f``
    fixed-point for Decimals (digits/./- only), strings restricted to a
    conservative identifier charset (letters, digits, ``-_.:/@``) quoted
    verbatim — UUID/ULID-style keys, the common big-table string pk, all
    qualify — dates as ``DATE ''`` literals (tz-free on both sides) and
    binary as ``X''`` hex. Anything that could interact with SQL quoting
    (quotes, backslashes, control chars, hostile subclass renderings)
    falls back to ``isin`` unchanged, as do other id types.

    Datetimes render ONLY when the caller declares the filtered column's
    ``dtype`` (a naive Python datetime alone cannot say whether it came
    from a TimestampType collect() — an OS-local instant — or a
    TIMESTAMP_NTZ wall clock, and the two render differently; see
    render_sql_id). Without ``dtype`` they fall back to ``isin``
    unchanged, which is always membership-correct, just driver-slow.
    """
    ids = list(ids)
    if not ids:
        return F.lit(False)
    rendered = [render_sql_id(i, dtype) for i in ids]
    if all(r is not None for r in rendered):
        return F.expr(f"{quote_name(col_name)} IN ({','.join(rendered)})")
    return F.col(col_name).isin(ids)


def render_sql_id(i, dtype: T.DataType | None = None) -> str | None:
    """Pinned, charset-gated SQL-literal rendering of one id — or ``None``
    if the value cannot be rendered safely. This single predicate defines
    the domain of :func:`in_list`'s one-string fast path.

    ``dtype`` is the filtered COLUMN's Spark type; it is consulted only
    for datetimes, which are otherwise unrenderable (the round-9 tz
    finding): the Python value alone cannot distinguish a TimestampType
    id (collect() yields the instant as a fold-aware naive datetime in
    the driver OS tz) from a TIMESTAMP_NTZ wall clock, and a zone-less
    ``TIMESTAMP '...'`` literal would additionally parse in the SESSION
    tz rather than the OS tz. With the dtype declared, both render
    soundly and tz-independently — see the datetime branch."""
    from decimal import Decimal

    if isinstance(i, bool):
        return None
    if isinstance(i, int):
        # int(i), not i: an int SUBCLASS passes the isinstance gate but
        # may override __str__ (IntEnum renders 'E.A'; a hostile one
        # renders an arbitrary predicate) — int() pins the rendering.
        return str(int(i))
    if isinstance(i, Decimal):
        # DECIMAL pks are the TiDB unsigned-BIGINT mapping — without a
        # fast path they fell back to isin's per-element py4j cost.
        # :f pins fixed-point rendering (plain str uses scientific
        # notation for some exponents); NaN/Inf render non-numeric and
        # are rejected by the charset check below.
        s = f"{i:f}"
        return s if set(s) <= set("0123456789.-") else None
    if isinstance(i, str):
        # str.__str__ bypasses a hostile subclass's __str__/__format__
        # and yields the exact underlying data, which is then charset-
        # gated — no quote, backslash, or control char can reach the
        # rendered literal, so the quoting cannot be escaped.
        s = str.__str__(i)
        return f"'{s}'" if s and set(s) <= _SAFE_STR_ID_CHARS else None
    if isinstance(i, datetime.datetime):
        # datetime.datetime is checked before its date base class so it
        # can't leak into the DATE branch. Rendering requires the
        # DECLARED column dtype: a zone-less TIMESTAMP '...' literal
        # parses in the SESSION tz while collect() converts TimestampType
        # through the driver OS's tz (the round-9 finding, reproduced
        # under TZ=America/New_York), so the sound rendering never emits
        # a zone-less instant literal. Instead:
        #
        # - TimestampType: the id is an instant; a naive value is
        #   OS-local BY COLLECT()'S CONTRACT (fromtimestamp, fold-aware —
        #   the DST fall-back hour yields fold=0/1 for the two instants,
        #   and astimezone() inverts it exactly; probed on Spark 4 under
        #   TZ=America/New_York, tests/test_edge_cases.py). Convert to
        #   UTC and render with an EXPLICIT offset —
        #   ``TIMESTAMP '... +00:00'`` — which Spark parses
        #   independently of spark.sql.session.timeZone, so no session
        #   handle is needed and no session-tz DST ambiguity exists.
        # - TimestampNTZType: the id is a wall clock; render the naive
        #   value verbatim as ``TIMESTAMP_NTZ '...'`` (tz-free on both
        #   sides, like DATE). Aware values don't pair with a wall-clock
        #   column — fall back.
        #
        # The value is first copied into a GENUINE datetime (preserving
        # fold) so no subclass override of astimezone/__format__ can
        # shape the rendering; the charset gate stays as belt-and-braces.
        if not isinstance(
            dtype, (T.TimestampType, T.TimestampNTZType)
        ):
            return None
        pinned = datetime.datetime(
            i.year, i.month, i.day, i.hour, i.minute, i.second,
            i.microsecond, i.tzinfo, fold=i.fold,
        )
        if isinstance(dtype, T.TimestampNTZType):
            if pinned.tzinfo is not None:
                return None
            s = _ts_body(pinned)
            return f"TIMESTAMP_NTZ '{s}'" if set(s) <= _SAFE_TS_CHARS else None
        try:
            utc = pinned.astimezone(datetime.timezone.utc)
        except (OverflowError, OSError, ValueError):
            # the UTC image of an edge-of-range value (year 1 / 9999 at
            # an offset pointing past the boundary) does not exist as a
            # Python datetime — refuse to the isin fallback, never crash
            # the predicate build
            return None
        s = _ts_body(utc) + "+00:00"
        return f"TIMESTAMP '{s}'" if set(s) <= _SAFE_TS_CHARS else None
    if isinstance(i, datetime.date):
        # DateType is timezone-free on both sides (collect() yields a
        # plain date; DATE '...' parses without tz), so dates keep the
        # fast path. The unbound isoformat bypasses subclass overrides.
        s = datetime.date.isoformat(i)
        return f"DATE '{s}'" if set(s) <= _SAFE_DT_CHARS else None
    if isinstance(i, (bytes, bytearray)):
        # bytes(i) copies the underlying data (pinning subclass
        # overrides), .hex() on a real bytes object is hex-only by
        # construction; the charset gate is belt-and-braces. X'..' is
        # Spark's binary literal, and binary In pushes to the scan.
        s = bytes(i).hex()
        return f"X'{s}'" if set(s) <= set("0123456789abcdef") else None
    return None


def _ts_body(dt: datetime.datetime) -> str:
    """``yyyy-MM-dd HH:mm:ss.SSSSSS`` from components — strftime's %Y
    does not zero-pad pre-1000 years on every platform, and Spark's
    literal parser wants the 4-digit form."""
    return (
        f"{dt.year:04d}-{dt.month:02d}-{dt.day:02d} "
        f"{dt.hour:02d}:{dt.minute:02d}:{dt.second:02d}."
        f"{dt.microsecond:06d}"
    )


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
