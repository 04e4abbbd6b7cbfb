"""Digest-first large-table comparison — the engine's core operator.

Re-implements natively what the reference delegates to sync-diff-inspector and
pins via its per-table TOML template (SURVEY.md §2.B):

- B1  structure compare            → :mod:`..operators.schema_diff`
- B4  ``range`` row predicate       → ``CompareOptions.range_sql`` via ``F.expr``
  (reference ``syncdiff_config2/my_database_users.toml:46``)
- B5  chunk split (``chunk-size``)  → hash buckets ``pmod(xxhash64(pk), n)``
  (reference ``my_database_users.toml:45``, ``config.toml:21``)
- B6  per-chunk checksum + count    → one signed per-bucket ``(cnt, xor, sum)``
  aggregation (:func:`digest_sum`) shared by the compare, the digest
  snapshot, changed-bucket detection and the CDC fold
- B8  row-level drill-down          → one signed ``(pk, row_hash)``
  multiset difference (:func:`signed_rows`) over mismatched buckets only
- B9  UPCOUNT/DOWNCOUNT classification (reference report columns,
  ``step3_run_syncdiff.sh:191-192, 216-218``)
- B11 equivalence verdict (``step3_run_syncdiff.sh:204``)

100 TB design: the digest pass shuffles only ``n_buckets`` partial aggregates
per map task (map-side combine makes bytes-shuffled ∝ n_buckets, not rows);
the drill-down pass re-scans both sides but discards all rows outside the
mismatched buckets at the scan operator, so the row pairing shuffles bytes ∝
diff size, not table size. Two narrow scans beat one full-table shuffle by
orders of magnitude when tables mostly agree — which is the reference's entire
reason to exist (1e9-row tables, ``config.toml:16``).

A drifted duplicate PK (SURVEY.md §7 hard parts) cannot be paired by key:
the keyed drill-down raises, and the multiset path (``pk=None`` or
``force_multiset``) instead compares whole-row-hash multiplicities — an
``exceptAll``-style diff that needs no key at all.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, replace
from functools import reduce, wraps

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from tidb_large_table_compare_spark.functions.hashing import (
    bucket_id,
    canonical_value,
    row_hash,
    sql_string,
)
from tidb_large_table_compare_spark.functions.localframe import local_frame
from tidb_large_table_compare_spark.functions.partitioning import estimate_rows
from tidb_large_table_compare_spark.operators.schema_diff import schema_diff

__all__ = [
    "BucketScope",
    "CompareOptions",
    "TableCompare",
    "bucket_scope",
    "compare_tables",
    "digest_sum",
    "drifted_buckets",
    "range_scoped",
    "scoped_compare",
    "signed_digest",
    "signed_rows",
    "signed_table_rows",
    "size_buckets",
]

DEFAULT_CHUNK_SIZE = 5000  # reference chunk-size (config.toml:21)
# clamp on the estimated bucket count (CompareOptions.n_buckets overrides)
_MIN_BUCKETS = 32
_MAX_BUCKETS = 1 << 20
# bad-bucket FRACTION above which restriction is skipped outright: the
# filter would discard under half the rows (see bucket_scope)
_RESTRICT_SKIP_FRACTION = 0.5


@dataclass(frozen=True)
class CompareOptions:
    """Knobs mirroring the reference's comparison-job template."""

    chunk_size: int = DEFAULT_CHUNK_SIZE  # rows per bucket (B5)
    n_buckets: int | None = None  # override; else estimated from left count
    range_sql: str | None = None  # B4 arbitrary SQL predicate, e.g. "1 = 1"
    float_round: int | None = None  # declared double tolerance (SURVEY.md §7)
    check_struct_only: bool = False  # template check-struct-only
    force_multiset: bool = False  # keyless/duplicate-PK fallback
    # Caller/catalog-supplied row count for bucket sizing — the analog of the
    # reference reading TABLE_ROWS from information_schema
    # (step1_query_tables.sh:115-117). Takes precedence over the plan-stats
    # probe and the count() fallback, so Connect-style sessions (where the
    # py4j stats probe throws) run zero sizing jobs when stats are known.
    row_count_hint: int | None = None


def _narrow(df: DataFrame, pk: list[str], compare_cols: list[str], n_buckets: int,
            float_round: int | None) -> DataFrame:
    """Project to (pk..., __bucket, __row_hash) — the only columns the compare
    plan ever shuffles. Catalyst prunes the parquet scan to pk+compare cols."""
    return df.select(
        *[F.col(c) for c in pk],
        bucket_id(pk, n_buckets, df).alias("__bucket"),
        row_hash(df, compare_cols, float_round).alias("__row_hash"),
    )


def range_scoped(df: DataFrame, options: CompareOptions) -> DataFrame:
    """``df`` restricted by the B4 ``range_sql`` predicate, if any."""
    return df.filter(F.expr(options.range_sql)) if options.range_sql else df


def size_buckets(df: DataFrame, options: CompareOptions) -> int:
    """The bucket count for a compare of (range-scoped) ``df``.

    The ``n_buckets`` override, else sized from catalog stats
    (``row_count_hint`` — the reference reads TABLE_ROWS,
    step1_query_tables.sh:115-117) or optimizer plan statistics (file
    sizes for parquet scans) — zero Spark jobs. Bucket count only tunes
    drill-down granularity; results are invariant to it
    (test_bucket_count_invariance), so a coarse estimate is fine.
    """
    if options.n_buckets is not None:
        return options.n_buckets
    rows = estimate_rows(df, bytes_per_row=64, hint=options.row_count_hint)
    n = max(_MIN_BUCKETS, rows // max(options.chunk_size, 1) + 1)
    return min(n, _MAX_BUCKETS)


# -- the bucket digest (B6) ------------------------------------------------
# The per-bucket (cnt, xor_digest, sum_digest) triple is an abelian group:
# counts and sums add, xor is its own inverse. So every digest operation is
# ONE aggregation (digest_sum) over signed digest rows: a snapshot is one
# side at +1, a compare is left at +1 and right at -1, changed-bucket
# detection is the current table at +1 and the stored digest at -1, and
# the CDC fold is the stored digest plus inserts at +1 and deletes at -1.
# One groupBy over a union plans one exchange and no join, and map-side
# combine keeps bytes shuffled ∝ n_buckets, not rows.


def signed_digest(rows: DataFrame, sign: int = 1) -> DataFrame:
    """Signed ``(__bucket, cnt, xor_digest, sum_digest)`` digest rows.

    ``rows`` is either narrow ``(__bucket, __row_hash)`` rows (one digest
    row per table row, ``cnt`` ±1) or a digest itself. ``sign = -1``
    negates ``cnt`` and ``sum_digest``; ``xor_digest`` is its own inverse.
    bit_xor alone cancels duplicate rows pairwise, so count and sum are the
    independent second and third digests. The sum is taken in
    decimal(38,0): a bigint sum of 64-bit hashes overflows (ANSI mode
    raises), and wrap-around would weaken the digest.
    """
    if "__row_hash" in rows.columns:
        h = F.col("__row_hash")
        cnt, xor, total = F.lit(1).cast("bigint"), h, h.cast("decimal(38,0)")
    else:
        cnt, xor, total = F.col("cnt"), F.col("xor_digest"), F.col("sum_digest")
    if sign < 0:
        cnt, total = -cnt, -total
    return rows.select(
        "__bucket",
        cnt.alias("cnt"),
        xor.alias("xor_digest"),
        total.alias("sum_digest"),
    )


def digest_sum(*signed: DataFrame) -> DataFrame:
    """Per-bucket sum of signed digest rows: one shuffle, no join."""
    return (
        reduce(DataFrame.unionByName, signed)
        .groupBy("__bucket")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.bit_xor("xor_digest").alias("xor_digest"),
            F.sum("sum_digest").alias("sum_digest"),
        )
    )


def drifted_buckets(*signed: DataFrame) -> DataFrame:
    """``__bucket`` ids whose signed digest rows do not cancel out."""
    nonzero = (
        (F.col("cnt") != 0)
        | (F.col("xor_digest") != 0)
        | (F.col("sum_digest") != 0)
    )
    return digest_sum(*signed).filter(nonzero).select("__bucket")


def signed_table_rows(
    df: DataFrame,
    pk: list[str],
    n_buckets: int,
    options: CompareOptions,
    sign: int = 1,
) -> DataFrame:
    """Signed digest rows of a whole table: range-scoped, every column
    hashed — the rows a digest snapshot of ``df`` sums."""
    df = range_scoped(df, options)
    narrow = _narrow(df, pk, sorted(df.columns), n_buckets, options.float_round)
    return signed_digest(narrow, sign)


def signed_rows(left: DataFrame, right: DataFrame, keys: list[str]) -> DataFrame:
    """``(keys..., __row_hash, __d)`` rows whose left-minus-right count
    ``__d`` is nonzero: the row-level pairing (B8), with no join.

    Rows pair the way buckets do (:func:`digest_sum`): left +1, right −1,
    one groupBy, so identical rows cancel and SQL null-equality never
    applies. With keys, the union is partitioned on them, so a per-key
    aggregation of the survivors reuses this one exchange.
    """
    cols = [*keys, "__row_hash"]
    signed = left.select(*cols, F.lit(1).alias("__d")).unionByName(
        right.select(*cols, F.lit(-1).alias("__d"))
    )
    if keys:
        signed = signed.repartition(*keys)
    return (
        signed.groupBy(*cols)
        .agg(F.sum("__d").alias("__d"))
        .filter(F.col("__d") != 0)
    )


@dataclass(frozen=True)
class BucketScope:
    """Which buckets a drill-down reads: the one restriction decision.

    ``n_bad`` mismatched buckets out of ``n_buckets``, held as ``words``:
    the bucket bitset (bit ``b % 64`` of word ``b // 64`` is bucket ``b``)
    rendered as a JSON array of longs, one word per 64 buckets, so 16,384
    at the 2^20 cap. Three kinds (:attr:`kind`): ``empty`` (no bad
    bucket), ``bitset`` and ``skip`` (``words`` is None: drift too wide to
    restrict). No kind holds executor state, so a scope needs no release.
    """

    n_buckets: int
    n_bad: int
    words: str | None = None

    @property
    def kind(self) -> str:
        if self.words is None:
            return "skip"
        return "bitset" if self.n_bad else "empty"

    def restrict(self, df: DataFrame, pk: list[str] | None = None) -> DataFrame:
        """``df`` filtered to rows in a mismatched bucket — the scan-level
        discard that keeps drill-down cost ∝ drift. ``df`` carries a
        ``__bucket`` column, or ``pk`` names the key columns it is
        computed from (per frame: ``bucket_id`` widens by ``df``'s own
        schema, and the sides may carry different integral widths)."""
        if self.kind == "skip":
            return df
        withb = df if pk is None else df.withColumn(
            "__bucket", bucket_id(pk, self.n_buckets, df)
        )
        # Catalyst folds the from_json of a string literal into one array
        # literal: the plan carries one token whatever the set's size, and
        # a row costs one element_at. The words span every bucket, so the
        # 1-based index is always in range (ANSI raises on 0, and a
        # negative index reads from the end). An empty scope stays a
        # constant false, which plans no scan.
        member = F.lit(False) if self.kind == "empty" else F.expr(
            f"getbit(element_at(from_json('{self.words}', 'array<bigint>'), "
            "cast(__bucket div 64 as int) + 1), cast(__bucket % 64 as int)) = 1"
        )
        out = withb.filter(member)
        return out if pk is None else out.drop("__bucket")


def bucket_scope(bad: DataFrame, n_buckets: int) -> BucketScope:
    """Collect the one-column ``__bucket`` frame ``bad`` into a
    :class:`BucketScope` — the only place the restriction regime is chosen.

    Left as a lazy subtree, the bad set would be *recomputed* per
    consumer (a digest pass re-scans both tables), so it is collected
    once, in one action, and the kind is chosen from that one set. The
    set is BOUNDED (at most ``n_buckets`` ≤ ``_MAX_BUCKETS`` longs, 8 MB
    at the 2^20 cap), never ∝ diff rows, so ``n_bad`` is exact in every
    kind. It comes back as Arrow: 2^20 ids took 0.13-0.25 s warm through
    ``toArrow()`` against 4.5-4.9 s through ``collect()`` (4 cores,
    PERFORMANCE.md "One bucket scope"). numpy packs it into the bitset
    words: one literal whose size follows ``n_buckets``, not the set
    (PERFORMANCE.md "One restriction kind"), so the row pairing sees only
    bad-bucket rows — bytes ∝ diff size, not table size — and no plan
    grows with the set.

    When the bad set covers MOST buckets (heavy drift), the filter would
    discard less than half the rows, so above ``_RESTRICT_SKIP_FRACTION``
    the scope is ``skip`` and the drill-down compares everything: sound
    because clean-bucket rows hash-equal and cancel in the row pairing,
    and cheaper because the pairing reads at most 1/fraction more rows
    than the restricted plan would, with no per-row membership test.
    """
    ids = bad.toArrow().column("__bucket").to_numpy()
    n_bad = len(ids)
    if n_bad > _RESTRICT_SKIP_FRACTION * n_buckets:
        return BucketScope(n_buckets, n_bad)
    bits = np.zeros(-(-n_buckets // 64) * 64, dtype=bool)
    bits[ids] = True
    words = np.packbits(bits, bitorder="little").view("<i8")
    return BucketScope(n_buckets, n_bad, f"[{','.join(map(str, words.tolist()))}]")


def _memoized(method):
    """Compute a zero-argument :class:`TableCompare` method once, into
    the instance's one ``_memo`` dict that :meth:`TableCompare.close` frees.
    The instance's re-entrant lock makes it once across threads too: a
    table's drill-down consumers run concurrently, and two of them reaching
    an unfilled ``scope``/``diff_rows`` would each run the scope action."""
    name = method.__name__

    @wraps(method)
    def cached(self):
        with self._memo_lock:
            if name not in self._memo:
                self._memo[name] = method(self)
            return self._memo[name]

    return cached


class TableCompare:
    """A lazily-planned comparison of two DataFrames.

    All result accessors return DataFrames; nothing is executed until the
    caller acts on them. Derived state is memoized (:func:`_memoized`), so
    the inputs are fixed after construction (see :func:`scoped_compare`).
    """

    def __init__(
        self,
        spark: SparkSession,
        left: DataFrame,
        right: DataFrame,
        pk: list[str] | None,
        options: CompareOptions = CompareOptions(),
        table_name: str = "table",
    ) -> None:
        self.spark = spark
        self.options = options
        self.table_name = table_name
        self.pk = list(pk) if pk else []
        self.left = range_scoped(left, options)  # B4
        self.right = range_scoped(right, options)
        # Data diff runs over the columns both sides share; structure diff
        # reports the rest (sync-diff compares data only when structure allows).
        self.compare_cols = sorted(set(left.columns) & set(right.columns))
        self._memo: dict[str, object] = {}
        self._memo_lock = threading.RLock()

    # -- structure (B1) ----------------------------------------------------
    def schema_diff(self) -> DataFrame:
        return schema_diff(self.spark, self.left, self.right)

    def structure_ok(self) -> bool:
        # Pure driver-side check: both schemas are already local StructTypes,
        # so no Spark job is needed (schema_diff() stays available as the
        # DataFrame-shaped report of *what* differs).
        lf = [(f.name, f.dataType.simpleString()) for f in self.left.schema.fields]
        rf = [(f.name, f.dataType.simpleString()) for f in self.right.schema.fields]
        return lf == rf

    # -- sizing ------------------------------------------------------------
    @_memoized
    def _n_buckets(self) -> int:
        # the plan-stats probe costs a Catalyst optimize of the left plan
        # (~85 ms driver time, round-12 micro-profile)
        return size_buckets(self.left, self.options)

    # -- digest phase (B5/B6) ----------------------------------------------
    @_memoized
    def _narrows(self) -> dict[str, DataFrame]:
        # the narrow (pk, __bucket, __row_hash) projection of each side,
        # shared by the digest pass and the drill-down (~94 ms of py4j per
        # build, round-12 micro-profile)
        n, fr = self._n_buckets(), self.options.float_round
        return {
            "left": _narrow(self.left, self.pk, self.compare_cols, n, fr),
            "right": _narrow(self.right, self.pk, self.compare_cols, n, fr),
        }

    def mismatched_buckets(self) -> DataFrame:
        # left at +1, right at -1: a bucket absent from one side keeps the
        # other side's nonzero triple and is flagged; buckets absent from
        # both sides appear nowhere
        return drifted_buckets(
            signed_digest(self._narrows()["left"]),
            signed_digest(self._narrows()["right"], -1),
        )

    # -- drill-down (B8/B9) --------------------------------------------------
    @_memoized
    def scope(self) -> BucketScope:
        """The mismatched-bucket scope (:func:`bucket_scope`), built once
        per compare and shared by every drill-down consumer."""
        return bucket_scope(self.mismatched_buckets(), self._n_buckets())

    @_memoized
    def diff_rows(self) -> DataFrame:
        """(pk..., diff_type) for every differing row.

        diff_type ∈ {'missing_in_right', 'extra_in_right', 'modified'}:
        missing+modified rows need INSERT/REPLACE on the target (UPCOUNT),
        extra+modified need DELETE/REPLACE (DOWNCOUNT) — matching the
        reference report's semantics (B9).

        The scoped sides pair in :func:`signed_rows`, so identical rows
        cancel in every scope (an empty scope's constant-false filter plans
        no scan at all). Survivors group per key (a NULL key per row hash:
        a modified NULL-key row is missing + extra). A lone left row is
        missing, a lone right row extra, one of each modified; anything
        else is a drifted duplicate key, and the action raises.

        A drilled scope's keyed diff is persisted until :meth:`close`:
        the summary fills the cache, and fix-SQL and ``apply_fixes`` read
        it (a summary-only run holds it too: no larger than the
        drill-down's own shuffle).
        The multiset diff stays lazy: :meth:`summary` is its one consumer.
        """
        if self.options.force_multiset or not self.pk:
            return self._diff_rows_multiset()
        scope, pk = self.scope(), self.pk
        null_key = reduce(Column.__or__, [F.col(c).isNull() for c in pk])
        w, net = F.sum(F.abs("__d")), F.sum("__d")
        unpairable = F.concat(
            F.lit(f"{self.table_name}: duplicate primary key ("),
            F.concat_ws(", ", *[F.col(c).cast("string") for c in pk]),
            F.lit(") drifted; compare this table in multiset mode"),
        )
        diff_type = (
            F.when((w == 1) & (net > 0), F.lit("missing_in_right"))
            .when(w == 1, F.lit("extra_in_right"))
            .when((w == 2) & (net == 0), F.lit("modified"))
            .otherwise(F.raise_error(unpairable))
        )
        # the always-true filter keeps diff_type, and so its raise, in every
        # plan: a bare count() would otherwise prune it
        diff = (
            signed_rows(
                scope.restrict(self._narrows()["left"]),
                scope.restrict(self._narrows()["right"]),
                pk,
            )
            .groupBy(*pk, F.when(null_key, F.col("__row_hash")))
            .agg(diff_type.alias("diff_type"))
            .select(*pk, "diff_type")
            .filter(F.col("diff_type").isNotNull())
        )
        # an empty scope's constant-false filter plans no scan, so there is
        # nothing to keep, and a persist would add a cache-building job
        return diff if scope.kind == "empty" else diff.persist()

    def close(self) -> None:
        """Release what this compare persisted: the keyed diff its memo
        holds, the one frame a compare persists. Call it after the
        table's last consumer; later reads recompute."""
        for value in self._memo.values():
            # a lazy frame is skipped: unpersisting it would drop any equal
            # plan another owner cached
            if isinstance(value, DataFrame) and value.is_cached:
                value.unpersist()

    def _diff_rows_multiset(self) -> DataFrame:
        """exceptAll-style multiset diff keyed by whole-row hash, for absent
        or duplicated PKs (SURVEY.md §7 hard parts): (__row_hash,
        diff_type, __n), ``__n`` the multiplicity delta. The reserved name
        keeps it from colliding with a user PK column in :meth:`summary`."""
        fr = self.options.float_round
        left, right = (
            df.select(row_hash(df, self.compare_cols, fr).alias("__row_hash"))
            for df in (self.left, self.right)
        )
        return signed_rows(left, right, []).select(
            "__row_hash",
            F.when(F.col("__d") > 0, F.lit("missing_in_right"))
            .otherwise(F.lit("extra_in_right"))
            .alias("diff_type"),
            F.abs("__d").alias("__n"),
        )

    # -- column-level drill-down (B8 refinement) ---------------------------
    def column_drift(self) -> DataFrame:
        """Per-column mismatch counts among 'modified' rows: which columns
        drive the drift.

        The reference's drill-down (and :meth:`diff_rows`) says *which rows*
        disagree; when diagnosing replication drift the next question is
        *which columns* — a type-mapping bug drifts one column everywhere, a
        lost-update race drifts many columns on few rows. Returns
        ``(column_name string, mismatch_rows bigint)``, one row per non-PK
        compare column.

        Inequality is evaluated on :func:`canonical_value` forms — exactly
        the normalization ``row_hash`` applies (integral widening, -0.0
        folding, declared ``float_round``) — so these counts always
        reconcile with the row-level verdicts: every 'modified' row has ≥1
        mismatching column here, and no unmodified row is counted.

        Scale: both sides are read through the mismatched-bucket
        restriction (:meth:`BucketScope.restrict`, the same bitset literal
        the row drill-down uses — never a broadcast ∝ diff rows), then
        inner-join on PK. Agreeing pairs contribute 0 to every count and
        unpaired rows (missing/extra) drop out of the inner join, so the
        restriction is purely a cost bound. The plan is the same whichever
        consumer ran first, and shuffled bytes ∝ drift, never table size.
        """
        if not self.pk or self.options.force_multiset:
            # a duplicated PK would cross-product in the pairing join and
            # inflate every count — the exact hazard multiset mode declares
            raise ValueError(
                "column_drift requires a unique primary key "
                "(multiset diffs do not pair rows)"
            )
        pk = set(self.pk)
        cols = [c for c in self.compare_cols if c not in pk]
        if not cols:
            return local_frame(
                self.spark, [], "column_name string, mismatch_rows bigint"
            )
        fr, scope = self.options.float_round, self.scope()
        # positional aliases: a user column name never reaches a parsed
        # column reference, only the stack's string literal
        lrows, rrows = (
            scope.restrict(df, self.pk).select(
                *self.pk,
                *[
                    canonical_value(c, df.schema[c].dataType, fr)
                    .alias(f"__{side}{i}")
                    for i, c in enumerate(cols)
                ],
            )
            for df, side in ((self.left, "l"), (self.right, "r"))
        )
        counts = lrows.join(rrows, self.pk).agg(
            *[
                F.count_if(~F.col(f"__l{i}").eqNullSafe(F.col(f"__r{i}"))).alias(
                    f"__n{i}"
                )
                for i in range(len(cols))
            ]
        )
        stack_args = ", ".join(f"{sql_string(c)}, __n{i}" for i, c in enumerate(cols))
        return counts.select(
            F.expr(
                f"stack({len(cols)}, {stack_args}) AS (column_name, mismatch_rows)"
            )
        )

    # -- verdict (B9/B11) ----------------------------------------------------
    def summary(self) -> DataFrame:
        """One-row summary: (table, structure_ok, upcount, downcount, equivalent).

        Mirrors the per-table ``summary.txt`` fields the reference report
        extracts (``step3_run_syncdiff.sh:204-229``).
        """
        struct_ok = self.structure_ok()
        if self.options.check_struct_only:
            return local_frame(
                self.spark,
                [(self.table_name, struct_ok, 0, 0, struct_ok)],
                "table string, structure_ok boolean, upcount bigint, "
                "downcount bigint, equivalent boolean",
            )
        diff = self.diff_rows()
        # Weight by multiplicity exactly when the multiset path produced the
        # diff — same predicate diff_rows() branches on. Never sniff column
        # names: a keyed compare whose PK happens to be called "n"/"__n"
        # must not have its key values summed as weights.
        is_multiset = self.options.force_multiset or not self.pk
        n = F.col("__n") if is_multiset else F.lit(1)
        agg = diff.agg(
            F.coalesce(
                F.sum(F.when(F.col("diff_type") != "extra_in_right", n)), F.lit(0)
            ).alias("upcount"),
            F.coalesce(
                F.sum(F.when(F.col("diff_type") != "missing_in_right", n)), F.lit(0)
            ).alias("downcount"),
        )
        return agg.select(
            F.lit(self.table_name).alias("table"),
            F.lit(struct_ok).alias("structure_ok"),
            F.col("upcount").cast("bigint").alias("upcount"),
            F.col("downcount").cast("bigint").alias("downcount"),
            (
                F.lit(struct_ok) & (F.col("upcount") == 0) & (F.col("downcount") == 0)
            ).alias("equivalent"),
        )


def compare_tables(
    spark: SparkSession,
    left: DataFrame,
    right: DataFrame,
    pk: list[str] | None,
    options: CompareOptions = CompareOptions(),
    table_name: str = "table",
) -> TableCompare:
    """Entry point: plan a comparison of two DataFrames.

    Null PK values (impossible against TiDB, whose PKs are NOT NULL, but
    possible on arbitrary parquet) have defined semantics: identical
    null-key rows cancel in the algebraic digest and in the row pairing, in
    every scope, and compare equivalent; a modified null-key row is paired
    by its row hash, not its key, and is reported as missing_in_right +
    extra_in_right — a delete+insert repair, which is what an update means
    in UPCOUNT/DOWNCOUNT terms (pinned by
    tests/test_edge_cases.py::test_null_pk_rows_have_defined_semantics).
    """
    return TableCompare(spark, left, right, pk, options, table_name)


def scoped_compare(
    spark: SparkSession,
    left: DataFrame,
    right: DataFrame,
    pk: list[str],
    scope: BucketScope,
    options: CompareOptions = CompareOptions(),
    table_name: str = "table",
) -> TableCompare:
    """A compare of ``left`` and ``right`` restricted to ``scope``'s
    buckets. Pinning ``scope.n_buckets`` lines the bucket ids up and spares
    a sizing count() (plan stats cannot see through the bucket filter)."""
    return TableCompare(
        spark,
        scope.restrict(left, pk),
        scope.restrict(right, pk),
        pk,
        replace(options, n_buckets=scope.n_buckets),
        table_name,
    )
