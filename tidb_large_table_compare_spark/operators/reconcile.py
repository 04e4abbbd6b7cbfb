"""Apply a computed row diff to repair the drifted side — the closed loop.

The reference stops at exporting ``fix.sql`` for a human to run against the
slave (sync-diff-inspector's ``export-fix-sql``, reference
``syncdiff_config2/my_database_users.toml:12``); here the repair itself is a
native DataFrame transform, so compare → repair → re-verify runs as one
pipeline (`operators/fixsql.py` still renders the SQL for the human path).

Scale: the diff of mostly-agreeing tables is tiny, so both the delete
(left-anti) and the re-insert (left-semi) joins broadcast the diff keys —
bytes moved ∝ diff size, never table size, matching the drill-down's cost
model (`operators/compare.py`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["apply_fixes", "verify_repair"]


def apply_fixes(
    left: DataFrame, right: DataFrame, pk: list[str], diff: DataFrame
) -> DataFrame:
    """Return ``right`` repaired to match ``left`` under ``diff``.

    ``diff`` is :meth:`TableCompare.diff_rows`-shaped — ``(pk..., diff_type)``
    with REPLACE semantics: ``modified`` rows are deleted from the right and
    re-inserted from the left; ``extra_in_right`` deleted; ``missing_in_right``
    inserted.

    The diff is read TWICE here (the delete and insert broadcast builds)
    and again by every action over the returned repaired frame, so the
    caller passes a re-readable diff: :meth:`TableCompare.diff_rows`,
    persisted once and shared with fix-SQL export. A lazy diff would
    re-run its drill-down per read.
    """
    to_delete = diff.filter(F.col("diff_type") != "missing_in_right").select(*pk)
    to_insert = diff.filter(F.col("diff_type") != "extra_in_right").select(*pk)
    kept = right.join(F.broadcast(to_delete), pk, "left_anti")
    replacement = left.join(F.broadcast(to_insert), pk, "left_semi")
    return kept.select(left.columns).unionByName(replacement.select(left.columns))


def verify_repair(tc, repaired: DataFrame) -> DataFrame:
    """Re-verify ``repaired`` against ``tc.left``, scoped to ``tc``'s
    mismatched buckets — same one-row summary schema as
    :meth:`TableCompare.summary`, full-table semantics, drift-sized cost.
    The re-verify runs when this is called; the returned frame holds its
    one row as a local relation.

    Sound because :func:`apply_fixes` cannot touch a clean bucket: every
    key it deletes or inserts comes from ``tc.diff_rows()``, whose
    drill-down only examines mismatched-bucket rows, and a row's bucket is
    a pure function of its PK (identical on both sides) — so the repaired
    table's clean buckets are bit-for-bit the right side's, which already
    digest-matched the left. Only the mismatched buckets can differ, and
    the scoped compare re-checks exactly those ON THE ACTUAL ``repaired``
    FRAME (not by folding the patch into the digests, which would verify
    the patch algebra rather than the applied result).

    At scale this replaces the full second compare's table-wide digest
    shuffle + drill-down with ones over drift-sized input: both sides
    still scan once (the bucket-hash filter is map-side, not pushable),
    but everything downstream of the scan — digest agg, bucket join, row
    drill-down — is ∝ drift, and the bad-bucket set is reused from
    ``tc``'s already-materialized state, so no extra digest pass runs.

    The restriction decision is the compare's own (``bucket_scope``):
    a scope over most buckets is ``skip``, where the scoped compare reads
    both sides whole — the plain full re-compare at the same bucket
    count — and a bitset scope of any width restricts through the one
    bitset literal. In-regime at the sf1 replica (1.5M rows, 40/4096
    buckets bad): scoped 2.31 s vs full 2.79 s, the margin being the
    skipped full-width canonicalize+hash of clean rows (map-side filter
    hashes only the PK), which widens with column count and table size
    (PERFORMANCE.md round-8). Verdicts are identical on both paths
    (pinned for arbitrary perturbation plans by tests/test_property.py).

    Keyed compares only: the bucket-scoping argument needs PK-determined
    buckets, so multiset/keyless compares must re-verify in full.
    """
    if tc.options.force_multiset or not tc.pk:
        raise ValueError(
            "verify_repair needs a keyed compare (bucket scoping is "
            "PK-determined); re-verify multiset compares in full"
        )
    from tidb_large_table_compare_spark.functions.localframe import local_frame
    from tidb_large_table_compare_spark.operators.compare import scoped_compare

    cmp = scoped_compare(
        tc.spark, tc.left, repaired, tc.pk, tc.scope(), tc.options, tc.table_name
    )
    # the inner compare persists its own state (its keyed diff): collect
    # the one row and release it here, since no caller can reach this
    # compare to close it
    summary = cmp.summary()
    rows = summary.collect()
    cmp.close()
    return local_frame(tc.spark, rows, summary.schema)
