"""Incremental comparison via persisted bucket digests.

The reference re-runs the full comparison every time (``run_all.sh`` →
serial sync-diff per table). At 1e9+ rows the nightly reality is that most
chunks did not change — so persist the per-bucket digests of a verified
snapshot, and on the next run compare *digests* first: only buckets whose
(count, xor, sum) triple drifted need the expensive cross-side work. This
is the CDC-shaped complement of :mod:`.compare`:

- ``write_digests``: one narrow aggregation of the table → a tiny parquet
  artifact (O(n_buckets) rows, ~40 bytes each — ~8 MB for 1e9 rows at the
  reference's 5000-row chunks);
- ``changed_buckets``: one signed aggregation of the current table (+1)
  and the stored digest (-1) — one linear scan, no join — keeping the
  buckets that do not cancel;
- ``incremental_compare``: a full row-level :class:`TableCompare` scoped to
  the changed buckets only (their ids collected once, nothing persisted) —
  the drill-down never touches clean chunks.

The digest artifact pins ``n_buckets`` (bucket ids are only comparable at
the same bucketing), and the scoped compare re-checks that pin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tidb_large_table_compare_spark.operators.compare import (
    CompareOptions,
    TableCompare,
    bucket_scope,
    digest_sum,
    drifted_buckets,
    range_scoped,
    scoped_compare,
    signed_digest,
    signed_table_rows,
    size_buckets,
)

__all__ = [
    "write_digests",
    "read_digests",
    "changed_buckets",
    "incremental_compare",
    "apply_changes_to_digests",
]

# Every artifact carries a tiny `_n_buckets` sidecar (hidden from Spark's
# parquet scans by the underscore prefix) so the pinned bucket count
# survives an EMPTY digest set — a change feed that deletes every remaining
# row (truncate-and-reload) legitimately drives all bucket counts to 0, and
# a zero-row parquet loses the in-data pin (read_digests' first() returns
# None). A union'd sentinel row was measured at ~0.3 s per CDC fold (it
# reshapes the write job); the sidecar costs one metadata-sized FS write.
# Written AFTER the parquet (a crash between leaves an artifact whose
# in-data pin still works unless it is also empty — then read_digests
# raises a named error); read through the Hadoop FS API so remote
# filesystems work like the artifacts themselves, falling back to a
# driver-local file when the JVM gateway is absent (Spark Connect) and
# the path carries an EXPLICIT file: scheme — a scheme-less path under
# Connect resolves against the SERVER's default FS, so the sidecar is
# skipped for it and for remote schemes alike (the in-data pin still
# covers every non-empty artifact; only the truncate-to-empty edge then
# needs a re-snapshot).
#
# Line 2 of the sidecar stamps `hashing.BUCKETING_VERSION`: bucket ids
# are only comparable under the SAME bucket-assignment function, and the
# r8 integral-PK widening changed assignments for int/short/byte PKs —
# an unstamped pre-widening artifact read by current code would flag
# essentially every bucket changed (incremental compare silently degrades
# to a full compare), and apply_changes_to_digests would fold new-bucket
# deltas into old-bucket digests, permanently corrupting the artifact.
# read_digests refuses an EXPLICIT version mismatch; the corrupting fold
# additionally refuses version-UNKNOWN (legacy/one-line) sidecars, whose
# provenance cannot be verified.
_PIN_SIDECAR = "_n_buckets"

# The artifact's on-disk schema — fixed by write_digests/apply_changes_to_
# digests by construction. Reads pass it explicitly, which skips the
# per-read parquet footer-inference JOB (two per CDC fold+read-back,
# round-13 profile); the reader still validates it against each file's
# footer at scan time, so a foreign or corrupted artifact fails loudly
# instead of being silently adapted to.
_DIGEST_SCHEMA = (
    "__bucket bigint, cnt bigint, xor_digest bigint, "
    "sum_digest decimal(38,0), n_buckets int"
)


def _pin_payload(n_buckets: int) -> str:
    from tidb_large_table_compare_spark.functions.hashing import BUCKETING_VERSION

    return f"{int(n_buckets)}\n{BUCKETING_VERSION}\n"


def _parse_pin(raw: bytes | str) -> tuple[int | None, int | None]:
    """Parse a sidecar payload; a torn/garbled sidecar (crash between
    fs.create and the write, filesystem corruption, non-UTF-8 bytes)
    degrades field-by-field instead of raising — the artifact's in-data
    pin still covers every non-empty artifact, version becomes UNKNOWN
    (read paths tolerate, the fold refuses: exactly the right
    crash-recovery posture), and the empty-artifact path raises its
    named re-snapshot error. Fields degrade INDEPENDENTLY: a readable
    n_buckets line with a garbled version line keeps the pin."""
    try:
        text = raw.decode() if isinstance(raw, (bytes, bytearray)) else raw
        lines = [ln for ln in text.strip().splitlines() if ln.strip()]
    except (UnicodeDecodeError, ValueError):
        return None, None

    def _int_or_none(idx: int) -> int | None:
        try:
            return int(lines[idx])
        except (IndexError, ValueError):
            return None

    return _int_or_none(0), _int_or_none(1)


def _write_pin(spark: SparkSession, path: str, n_buckets: int) -> None:
    from tidb_large_table_compare_spark.functions.fsutil import (
        classic_jvm,
        explicit_local_path,
    )

    payload = _pin_payload(n_buckets)
    jvm = classic_jvm(spark)
    if jvm is None:
        # Under Connect only an EXPLICIT file: scheme PLUS the
        # colocatedFs opt-in proves the path is a disk this client
        # shares with the server (a scheme-less path resolves against
        # the SERVER's default FS, and even file: names the server's
        # disk when client and server aren't co-located — writing it
        # locally would land the sidecar on the wrong machine, or
        # crash after the parquet write already succeeded). Anything
        # else: documented skip — the in-data pin covers every
        # non-empty artifact.
        lp = explicit_local_path(path, spark)
        if lp is None:
            return
        try:
            (lp / _PIN_SIDECAR).write_text(payload)
        except OSError:
            return  # degrade, never crash a succeeded digest write
        return
    jpath = jvm.org.apache.hadoop.fs.Path(f"{path}/{_PIN_SIDECAR}")
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(payload.encode()))
    finally:
        out.close()


def _read_pin(spark: SparkSession, path: str) -> tuple[int | None, int | None]:
    """(pinned n_buckets, stamped bucketing version) — (None, None) when the
    sidecar is absent, (n, None) for a legacy one-line sidecar."""
    from tidb_large_table_compare_spark.functions.fsutil import (
        classic_jvm,
        explicit_local_path,
    )

    jvm = classic_jvm(spark)
    if jvm is None:
        # same scheme + co-location rule as _write_pin
        lp = explicit_local_path(path, spark)
        if lp is None or not (lp / _PIN_SIDECAR).exists():
            return None, None
        try:
            return _parse_pin((lp / _PIN_SIDECAR).read_bytes())
        except OSError:
            return None, None
    jpath = jvm.org.apache.hadoop.fs.Path(f"{path}/{_PIN_SIDECAR}")
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return None, None
    stream = fs.open(jpath)
    try:
        # one py4j round trip (commons-io ships with Spark's jars); a
        # failure propagates, as a half-read stream is no pin
        return _parse_pin(
            bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
        )
    finally:
        stream.close()


def write_digests(
    spark: SparkSession,
    df: DataFrame,
    pk: list[str],
    path: str,
    options: CompareOptions = CompareOptions(),
) -> int:
    """Persist the per-bucket digest of ``df`` to ``path``; returns the
    pinned bucket count. Columns: (__bucket, cnt, xor_digest, sum_digest,
    n_buckets), plus the pin-preserving ``_n_buckets`` sidecar."""
    n_buckets = size_buckets(range_scoped(df, options), options)
    digest = digest_sum(signed_table_rows(df, pk, n_buckets, options))
    return _write_artifact(spark, digest, path, n_buckets)


def _write_artifact(
    spark: SparkSession, digest: DataFrame, path: str, n_buckets: int
) -> int:
    """Write ``digest`` with its in-data and sidecar ``n_buckets`` pins."""
    digest.withColumn("n_buckets", F.lit(n_buckets)).write.mode(
        "overwrite"
    ).parquet(path)
    _write_pin(spark, path, n_buckets)
    return n_buckets


def read_digests(spark: SparkSession, path: str) -> tuple[DataFrame, int]:
    """Load a digest artifact; returns (digests, pinned n_buckets).

    Refuses an artifact whose sidecar stamps a DIFFERENT bucketing
    version than the running code (``hashing.BUCKETING_VERSION``): its
    bucket ids were assigned by an incompatible hash, so every digest
    comparison against freshly computed buckets is meaningless — the
    failure mode is not wrong verdicts but a silent degrade-to-full-scan
    (and artifact corruption if folded into; see
    :func:`apply_changes_to_digests`). Version-UNKNOWN artifacts (legacy
    sidecars predating the stamp) pass here — a mismatched one merely
    flags every bucket changed, which is slow but sound.
    """
    df, n_buckets, _ = _read_digests_versioned(spark, path)
    return df, n_buckets


def _read_digests_versioned(
    spark: SparkSession, path: str
) -> tuple[DataFrame, int, int | None]:
    """(digests, n_buckets, stamped bucketing version) — one pin read,
    shared by :func:`read_digests` and the fold's unknown-version gate."""
    from tidb_large_table_compare_spark.functions.hashing import BUCKETING_VERSION

    pin_n, pin_version = _read_pin(spark, path)
    if pin_version is not None and pin_version != BUCKETING_VERSION:
        raise ValueError(
            f"digest artifact at {path} was written under bucketing "
            f"version {pin_version}, but this build assigns buckets "
            f"under version {BUCKETING_VERSION} — its bucket ids are "
            f"not comparable; re-snapshot with write_digests"
        )
    df = spark.read.schema(_DIGEST_SCHEMA).parquet(path)
    row = df.select("n_buckets").first()
    if row is not None:
        n_buckets = row["n_buckets"]
    else:
        # empty digest set (a feed deleted every remaining row): the pin
        # survives in the sidecar
        n_buckets = pin_n
        if n_buckets is None:
            raise ValueError(
                f"digest artifact at {path} is empty and has no "
                f"{_PIN_SIDECAR} sidecar — the n_buckets pin is "
                f"unrecoverable; re-snapshot with write_digests"
            )
    return df.drop("n_buckets"), n_buckets, pin_version


def changed_buckets(
    spark: SparkSession,
    digests_path: str,
    current: DataFrame,
    pk: list[str],
    options: CompareOptions = CompareOptions(),
) -> DataFrame:
    """Bucket ids whose digests drifted since the stored snapshot.

    One signed aggregation: ``current``'s rows at +1 and the stored digest
    rows negated; buckets whose triple does not cancel drifted. One linear
    scan of ``current`` (map-side combine → O(n_buckets) shuffle) and no
    join. New and vanished buckets both count as changed.
    """
    stored, n_buckets = read_digests(spark, digests_path)
    return drifted_buckets(
        signed_digest(stored, -1),
        signed_table_rows(current, pk, n_buckets, options),
    )


def incremental_compare(
    spark: SparkSession,
    left: DataFrame,
    right: DataFrame,
    pk: list[str],
    digests_path: str,
    options: CompareOptions = CompareOptions(),
    table_name: str = "table",
) -> TableCompare:
    """Row-level compare scoped to buckets that drifted since the snapshot.

    Sound when the snapshot was taken from a verified-equivalent state of
    ``left``: clean buckets digest-match the snapshot on both sides, so
    every differing row lives in a drifted bucket. The returned compare
    pins the snapshot's bucket count so bucket ids line up.
    """
    stored, n_buckets = read_digests(spark, digests_path)
    changed = drifted_buckets(
        signed_digest(stored, -1),
        signed_table_rows(right, pk, n_buckets, options),
    )
    # the changed-bucket set takes the drill-down's own scope, collected
    # once (a bitset literal filtered at the scan, or for most buckets no
    # scope at all: the plain full compare); no kind persists anything
    scope = bucket_scope(changed, n_buckets)
    return scoped_compare(spark, left, right, pk, scope, options, table_name)


def apply_changes_to_digests(
    spark: SparkSession,
    digests_path: str,
    out_path: str,
    pk: list[str],
    inserts: DataFrame | None = None,
    deletes: DataFrame | None = None,
    options: CompareOptions = CompareOptions(),
) -> int:
    """Maintain a digest snapshot from a change feed — no master rescan.

    The per-bucket digest triple is an abelian group: ``cnt``/``sum_digest``
    add, ``xor_digest`` is its own inverse. So a CDC batch folds in exactly:
    inserted rows add their digests, deleted rows subtract (xor again, count
    down), and an update is delete-old + insert-new. Cost is one signed
    aggregation over the *change batch* and the tiny stored artifact, with
    no join — O(changes + n_buckets), independent of table size. This is
    the continuous-verification shape at 100 TB: the nightly full scan
    becomes a per-batch fold, and :func:`changed_buckets` /
    :func:`incremental_compare` consume the maintained snapshot unchanged.

    Writes the updated artifact to ``out_path`` (a fresh path — parquet
    cannot be overwritten while being read) and returns the pinned bucket
    count. Buckets whose count reaches zero are dropped, matching what a
    fresh :func:`write_digests` of the changed table would produce.

    Beyond :func:`read_digests`'s explicit-mismatch refusal, the fold also
    refuses a version-UNKNOWN artifact (no bucketing stamp in its
    sidecar): deltas computed under the current bucket assignment folded
    into buckets assigned by a possibly different hash don't just degrade
    a read — they permanently corrupt the artifact's per-bucket stats
    while every verdict stays plausible. Read paths tolerate unknown
    (slow-but-sound); the one permanently destructive consumer does not.
    """
    from tidb_large_table_compare_spark.functions.fsutil import (
        ClassicSessionRequired,
        classic_jvm,
        explicit_local_path,
    )
    from tidb_large_table_compare_spark.functions.hashing import BUCKETING_VERSION

    if classic_jvm(spark) is None and explicit_local_path(
        digests_path, spark
    ) is None:
        # Under Connect with a client-unreadable digests path the pin
        # sidecar is UNKNOWABLE from here, not absent — a correctly
        # stamped artifact reads (None, None) exactly like a legacy one,
        # so falling through would hit the legacy-artifact refusal below
        # and wrongly advise a destructive re-snapshot (round-10
        # ADVICE). Name the seam up front, before any read: the fix is
        # running the fold classically (or the colocatedFs opt-in for a
        # genuinely shared file: path).
        raise ClassicSessionRequired(
            f"the CDC digest fold's bucketing-version check on "
            f"{digests_path!r} (the sidecar is unreadable from this "
            f"client, so the artifact may be perfectly valid — do "
            f"NOT re-snapshot; for a co-located file: path, "
            f"spark.graft.connect.colocatedFs=true re-enables the "
            f"client-side read)"
        )
    stored, n_buckets, pin_version = _read_digests_versioned(spark, digests_path)
    if pin_version is None:
        raise ValueError(
            f"digest artifact at {digests_path} carries no bucketing-"
            f"version stamp (legacy or sidecar-less artifact): folding "
            f"changes computed under bucketing version "
            f"{BUCKETING_VERSION} into it could permanently corrupt its "
            f"per-bucket digests — re-snapshot with write_digests first"
        )
    folded = _fold(stored, n_buckets, pk, inserts, deletes, options)
    return _write_artifact(spark, folded, out_path, n_buckets)


def _fold(
    stored: DataFrame,
    n_buckets: int,
    pk: list[str],
    inserts: DataFrame | None,
    deletes: DataFrame | None,
    options: CompareOptions,
) -> DataFrame:
    """The folded digest: stored rows and inserts at +1, deletes at -1,
    summed per bucket; buckets whose count reaches zero drop out.
    ``signed_table_rows`` range-scopes each batch exactly as
    :func:`write_digests` scoped the snapshot, so out-of-range change rows
    never fold into in-scope buckets."""
    batches = [(inserts, 1), (deletes, -1)]
    return digest_sum(
        signed_digest(stored),
        *[
            signed_table_rows(df, pk, n_buckets, options, sign)
            for df, sign in batches
            if df is not None
        ],
    ).filter(F.col("cnt") > 0)
