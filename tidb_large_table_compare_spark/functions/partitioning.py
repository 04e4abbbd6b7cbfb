"""Input-parallelism guard for map-heavy (especially Arrow/Python) stages.

The small-file problem, localized: a parquet file with one row group plans
as ONE scan partition no matter how many cores exist, so every map-side
stage downstream — including Arrow-batched ``mapInPandas``, the engine's
only Python execution path — runs serially until the first shuffle. The
testdata files are exactly this shape (single row group per table).

``ensure_min_partitions`` spreads such inputs with one explicit
round-robin repartition, and is a NO-OP whenever the input already has at
least ``min_partitions`` partitions — at 100 TB real tables split into
thousands of scan tasks, the guard never fires, and no redistribution of
a large input is ever introduced. This is deliberately an operator-level
knob, not a session default: only stages whose per-row cost dwarfs one
small shuffle (sketching, GEMM argmax) opt in.

The module is also the one seam for plan-statistics probes:
``optimized_plan_size_bytes`` and ``estimate_rows`` are what every
size-gated or row-count-sized decision in the engine reads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def optimized_plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's estimated plan size (footer-derived for file scans —
    free, no job), or ``None`` when the probe is unavailable.

    The probe reads py4j internals (``_jdf.queryExecution()``), which do
    not exist under Spark Connect and are not a stable API — the same
    exposure :func:`estimate_rows` guards. Every size-gated decision in
    the engine routes through one of the two, so an internals change
    degrades to each caller's conservative default (full spread /
    no static broadcast / pushdown off) instead of raising.
    """
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


def estimate_rows(
    df: DataFrame, bytes_per_row: int, hint: int | None = None
) -> int:
    """Row-count estimate for sizing decisions, cheapest source first:
    the caller's ``hint`` (catalog stats), Catalyst's plan ``rowCount``,
    the plan size ÷ ``bytes_per_row`` (footer-derived for file scans — no
    job), and one narrow ``count()`` job as the last resort (Spark Connect,
    where the py4j probe is absent, or sources with unknown size).
    """
    if hint is not None:
        return max(1, hint)
    try:  # plan statistics via py4j internals — absent under Spark Connect
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        if stats.rowCount().isDefined():
            return int(str(stats.rowCount().get()))
        size = int(str(stats.sizeInBytes()))
        if 0 < size < (1 << 50):  # unknown sources report Long.Max-ish sizes
            return max(1, size // bytes_per_row)
    except Exception:
        pass
    return df.count()


def ensure_min_partitions(
    df: DataFrame,
    min_partitions: int | None = None,
    bytes_per_partition: int | None = None,
) -> DataFrame:
    """Repartition ``df`` up to ``min_partitions`` (default: the session's
    ``defaultParallelism``) iff it currently has fewer partitions.

    ``bytes_per_partition`` additionally caps the spread by input size
    (Catalyst's footer-derived ``sizeInBytes``, free to read): a tiny
    input stops fanning into tasks smaller than the per-task scheduling +
    Python-worker overhead. Profiling the k-means entry showed a 2,000-row
    vector table spread 32 ways costs 302 tasks across 23 stages per
    invocation with ~60 rows each — pure fixed overhead, and the
    component that doubles on a contended host. Only cheap-per-row stages
    (vector GEMM/argmin) should pass this; expensive-per-row stages
    (string shingling) want the full spread even for small inputs.

    When the size probe is unavailable (Spark Connect), the cap is skipped
    and the full spread applies — the pre-cap behavior, never an error.
    The same degradation covers ``sparkContext``/``df.rdd`` themselves
    (also absent under Connect): with no way to read the current partition
    count the frame is returned untouched — Connect's server-side AQE
    already handles small-partition coalescing, and a raise here would
    defeat the module's whole degrade-don't-crash purpose.
    """
    try:
        default_par = df.sparkSession.sparkContext.defaultParallelism
        current = df.rdd.getNumPartitions()
    except Exception:
        return df
    target = min_partitions or default_par
    if bytes_per_partition:
        size = optimized_plan_size_bytes(df)
        if size is not None:
            target = max(1, min(target, -(-size // bytes_per_partition)))
    if current < target:
        return df.repartition(target)
    return df
