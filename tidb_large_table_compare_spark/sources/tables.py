"""Parquet table loading for the TESTDATA.md star schema.

The reference reads live TiDB tables at a pinned snapshot
(``my_database_users.toml:20`` ``snapshot = "auto"``); our snapshot analog is
an immutable parquet directory per scale factor (SURVEY.md §2.B B2).
"""

from __future__ import annotations

import os
import warnings
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Metadata caches: the catalog analog for bare parquet directories — a
# real deployment resolves table schema and file manifest from the
# catalog once, not per query (guide §6's file-listing cache / manifest
# argument). Two levels, both METADATA ONLY (never row data; every action
# still scans the parquet):
#
# - ``_SCHEMA_CACHE``: a schema-less ``spark.read.parquet`` runs a
#   footer-inference JOB per call (~25-35 ms at local parallelism — q5
#   alone paid five per invocation, profiled round 12); later loads pass
#   the cached StructType explicitly and skip the job.
# - ``_TABLE_CACHE``: even with an explicit schema, creating the reader
#   re-resolves the relation (driver-side file listing + options capture)
#   per call — ~0.2 s of pure plan-build across q5's five loads. The
#   resolved DataFrame handle (an immutable logical plan) is reused per
#   session.
#
# Keys carry the path's (mtime_ns, size) fingerprint, so a rewritten
# path re-infers instead of going stale; the table cache is additionally
# keyed per live SparkSession (a DataFrame dies with its session).
_SCHEMA_CACHE: dict[tuple, object] = {}
_TABLE_CACHE: "weakref.WeakKeyDictionary" = None  # initialized below

import weakref as _weakref

_TABLE_CACHE = _weakref.WeakKeyDictionary()


def _path_key(path: str) -> tuple | None:
    """Fingerprint a parquet path for the metadata caches; ``None`` means
    "not fingerprintable — bypass the caches" (never cache under a key that
    a later-appearing path would collide with).

    For a directory table the directory's own (mtime_ns, size) only moves
    when entries are added/removed/renamed — a data file overwritten IN
    PLACE (same filename) leaves it unchanged on most filesystems, which
    would serve a stale schema/handle (round-12 ADVICE). Fold the child
    entries' stats in: max child mtime_ns, total size, and entry count
    (one os.scandir — metadata only, the same class of work as the stat).

    Assumes a FLAT directory table (data files directly under ``path``, as
    every loader here writes them): only the first level is scanned, so a
    file rewritten in place inside a partition subdirectory (``k=v/``)
    leaves the fingerprint unchanged and can serve a stale schema/handle.
    """
    rp = os.path.realpath(path)
    try:
        st = os.stat(rp)
    except OSError:
        return None
    import stat as _stat

    if not _stat.S_ISDIR(st.st_mode):
        return (rp, st.st_mtime_ns, st.st_size)
    mx, total, n = st.st_mtime_ns, 0, 0
    try:
        with os.scandir(rp) as entries:
            for e in entries:
                try:
                    est = e.stat()
                except OSError:
                    return None  # racing writer: don't cache a torn listing
                mx = max(mx, est.st_mtime_ns)
                total += est.st_size
                n += 1
    except OSError:
        return None
    return (rp, mx, total, n)


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to microsecond TIMESTAMP_NTZ, adapting to how
    the parquet stored it.

    Testdata generations differ: TIMESTAMP(NANOS) files are read as raw
    BIGINT nanos (via ``spark.sql.legacy.parquet.nanosAsLong``) and need an
    exact integer DIV 1000 (double division would lose precision above 2^53
    nanoseconds); timestamp[us] files arrive as TIMESTAMP/TIMESTAMP_NTZ and
    only need the NTZ cast. Branching on the observed dtype keeps the loader
    correct against either generation.
    """
    dtype = dict(df.dtypes).get("ts")
    if dtype == "bigint":
        return df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts DIV 1000")).cast("timestamp_ntz")
        )
    if dtype != "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return df


@contextmanager
def _scoped_conf(spark: SparkSession, key: str, value: str):
    """Set a session conf for the duration of the block, then restore it.

    Safe for parquet reads because ``spark.read.parquet`` resolves the
    relation (and captures the conf into its hadoop configuration) eagerly at
    schema inference — later actions on the returned DataFrame do not
    re-consult the session conf (verified empirically against a
    TIMESTAMP(NANOS) file: collect() succeeds after restore).
    """
    try:
        prev = spark.conf.get(key)
    except Exception:
        prev = None
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table.

    Session-conf policy: ``nanosAsLong`` is scoped to the read (restored
    before returning — see :func:`_scoped_conf`), so callers' own parquet
    semantics are untouched. The UTC timezone pin, by contrast, CANNOT be
    scoped: ntz→ltz casts, ``unix_timestamp`` epochs, and streaming window
    boundaries consult the session timezone at *execution* time (long after
    this function returns), and the DuckDB oracle treats naive timestamps as
    UTC — so a non-UTC session would silently change query results. On a
    session that already runs UTC (every engine session —
    ``session.get_spark`` pins it) this function therefore leaves the session
    conf entirely unchanged; on a foreign non-UTC session it pins UTC once
    and warns, which is the least-surprise alternative to wrong answers.
    """
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        warnings.warn(
            "pinning spark.sql.session.timeZone=UTC for cross-engine timestamp "
            "parity (session-wide: execution-time semantics depend on it)",
            stacklevel=2,
        )
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/{name}.parquet"
    per_session = _TABLE_CACHE.setdefault(spark, {})
    key = _path_key(path)
    cached = per_session.get(key) if key is not None else None
    if cached is not None:
        return cached
    if name == "events":
        # allow TIMESTAMP(NANOS)-generation files to load (read as BIGINT
        # instead of [PARQUET_TYPE_ILLEGAL]); a no-op for timestamp[us] files
        with _scoped_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true"):
            df = _read_parquet_cached_schema(spark, path, key)
        df = normalize_event_ts(df)
    else:
        df = _read_parquet_cached_schema(spark, path, key)
    if key is not None:
        per_session[key] = df
    return df


def _read_parquet_cached_schema(
    spark: SparkSession, path: str, key: tuple | None
) -> DataFrame:
    """``spark.read.parquet`` with one schema inference per path fingerprint
    per process (see ``_SCHEMA_CACHE``). The first read infers and caches;
    every later read passes the schema explicitly, which skips the
    footer-inference job entirely — the parquet reader still validates the
    requested schema against each file's footer at scan time, so a
    swapped-out file fails loudly rather than reading wrong. An
    unfingerprintable path (``key is None``) always infers: a schema cached
    under ``None`` would be served to every other such path, and the
    by-name read would turn its missing columns into silent NULLs."""
    if key is None:
        return spark.read.parquet(path)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every test table as a temp view (mirrors the DuckDB oracle's
    pre-registered views so ``spark.sql`` text matches oracle text)."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
