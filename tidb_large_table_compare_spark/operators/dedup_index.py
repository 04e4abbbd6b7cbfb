"""Persisted near-dup admission index — incremental dedup for a live corpus.

A 100 TB corpus is not re-deduplicated from scratch when documents arrive:
the MinHash/LSH state is built ONCE over the standing corpus and persisted;
each arriving batch is admitted by probing the index — signature the new
docs, look up their band buckets, exact-verify the candidates. Work per
batch is O(batch × collisions), never O(corpus²) and never a corpus rescan.
Same build-once / probe-many architecture as the persisted IVF index
(`operators/similarity.py::build_ivf_index`) and the digest-snapshot
incremental compare (`operators/incremental.py`).

Layout under ``path``:
- ``docs/``   — (id, shingles): the hashed shingle sets, for exact-Jaccard
  verification of candidates (int64 shingles, ~8 B each).
- ``bands/``  — (id, band, bucket): the exploded banded-LSH bucket table the
  admission probe equi-joins against. Written unpartitioned: every probe
  carries all ``n_bands`` band values, so a band partitioning prunes
  nothing — and an all-capped (empty) band table keeps its schema this
  way, where an empty partitioned write would lose it.

Hot buckets are dropped AT BUILD TIME (``max_bucket_size``): an index
carrying a boilerplate bucket with 10⁶ members would hand every future
batch a k-sized collision list forever — the cap is a property of the
index, not of each probe.

Probe cost floor: each probe scans the BAND table (never corpus text) for
the equi-join — 32 longs per indexed doc, ~0.26% of the bytes of a 10 KB
document, so the floor is ~1/400th of a corpus scan; measured at the sf1
replica: 0.1%-batch probe 1.9 s vs 7.1 s full re-dedup (PERFORMANCE.md).
If even that scan matters, lay the band table out sorted/clustered by
``bucket`` so min/max row-group stats prune the probe's bucket set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tidb_large_table_compare_spark.functions.hashing import quote_name
from tidb_large_table_compare_spark.functions.materialize import materialize
from tidb_large_table_compare_spark.functions.partitioning import (
    optimized_plan_size_bytes,
)
from tidb_large_table_compare_spark.operators.dedup import (
    cap_hot_buckets,
    hashed_word_ngrams,
    jaccard_verified_pairs,
    minhash_signature_oph_np,
    signature_band_buckets,
)

__all__ = [
    "build_neardup_index",
    "query_neardup_index",
    "append_to_neardup_index",
    "compact_neardup_index",
]


def _shingle_sets(
    docs: DataFrame, id_col: str, text_col: str, shingle_n: int
) -> DataFrame:
    return docs.select(
        id_col, hashed_word_ngrams(text_col, shingle_n).alias("shingles")
    )


def build_neardup_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 5,
    n_hashes: int = 128,
    n_bands: int = 32,
    max_bucket_size: int | None = 10_000,
) -> None:
    """Persist the admission index for ``corpus`` under ``path``.

    One pass over the corpus: shingle → map-only OPH signatures → exploded
    band table. Both sub-tables are plain parquet — on a real deployment
    they live beside the corpus and are maintained by the same batch jobs
    that append to it (append new docs' rows; compact occasionally).
    """
    shingles = _shingle_sets(corpus, id_col, text_col, shingle_n)
    # range-cluster by id: every row group covers a narrow id range, so
    # the probe's verify-scan IN-list pushdown prunes via min/max stats.
    # repartitionByRange is required, not just sortWithinPartitions: a
    # corpus whose source splits are hash-distributed would otherwise
    # write files that each span the WHOLE id range, and the pruning the
    # comment above promises would never engage (compact_neardup_index
    # re-clusters the same way). One build-time shuffle buys it.
    shingles.repartitionByRange(id_col).sortWithinPartitions(
        id_col
    ).write.mode("overwrite").parquet(f"{path}/docs")
    spark = corpus.sparkSession
    stored = spark.read.parquet(f"{path}/docs")  # reuse the written shingles
    sigs = minhash_signature_oph_np(stored, id_col, n_hashes=n_hashes)
    # materialized before the cap: its size aggregation and its anti-join
    # both read the band table, and left lazy each read re-ran the Python
    # OPH signature pass
    bands = materialize(signature_band_buckets(sigs, id_col, n_hashes, n_bands))
    cap_hot_buckets(bands, max_bucket_size).write.mode("overwrite").parquet(
        f"{path}/bands"
    )


def append_to_neardup_index(
    corpus_batch: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 5,
    n_hashes: int = 128,
    n_bands: int = 32,
) -> None:
    """Fold an admitted batch into the standing index (append mode) — the
    maintenance half of the admission loop: build once, then per batch
    probe → admit → append, so tomorrow's batches see today's admissions.
    Batch-only work, same O(batch) shapes as the probe. The build-time
    hot-bucket cap is NOT re-evaluated here (appends could grow a bucket
    past the cap between compactions); run ``compact_neardup_index``
    periodically to re-apply it and merge the accumulated append files.
    """
    # materialized: the docs write and the signatures both read the
    # batch's shingles, which would otherwise be derived from text twice
    shingles = materialize(_shingle_sets(corpus_batch, id_col, text_col, shingle_n))
    # appended files keep the same id clustering the build wrote — the
    # range repartition matters for the same reason as the build's: a
    # hash-distributed multi-split batch would otherwise append files
    # that each span the whole batch id range, eroding the verify-scan
    # pushdown's min/max pruning until the next compaction (for the
    # typical small admission batch this shuffle is batch-sized)
    shingles.repartitionByRange(id_col).sortWithinPartitions(
        id_col
    ).write.mode("append").parquet(f"{path}/docs")
    sigs = minhash_signature_oph_np(shingles, id_col, n_hashes=n_hashes)
    bands = signature_band_buckets(sigs, id_col, n_hashes, n_bands)
    bands.write.mode("append").parquet(f"{path}/bands")


# Admission-probe tuning, fixed for every caller.
# Batch plans estimated at or under this many bytes get a static broadcast.
BROADCAST_MAX_BATCH_BYTES = 64 << 20
# At most this many distinct candidate corpus ids are pushed into the
# stored-shingle scan; above it the verify join stays lazy.
VERIFY_PUSHDOWN_MAX_IDS = 50_000
# Stored-shingle tables below this footer-estimated size keep the lazy join.
VERIFY_PUSHDOWN_MIN_STORE_BYTES = 256 << 20


def query_neardup_index(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 5,
    n_hashes: int = 128,
    n_bands: int = 32,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-dups between an arriving batch and the indexed corpus:
    (id_a = corpus doc, id_b = new doc, jaccard ≥ threshold).

    The probe signatures ONLY the batch (map-only), equi-joins its band
    buckets against the persisted band table, exact-verifies candidates
    against the stored shingle sets, and never touches corpus text. A new
    doc with no colliding bucket costs one join probe, nothing more.

    The batch side is broadcast only when it is actually small: the
    decision first reads Catalyst's estimated size of the batch plan
    (footer-derived for file sources — zero jobs) and, only when that
    estimate is under ``BROADCAST_MAX_BATCH_BYTES``, confirms with a
    bounded ``limit(k+1).count()`` row probe — byte size alone is not
    enough, because a 64 MB batch of very short documents explodes into
    ``rows × n_bands`` band rows that can dwarf its on-disk bytes; the
    row probe restores that cap, and it only ever runs over a batch
    already known to be small. A large or unknown estimate (filtered
    lineages without CBO, in-memory frames) launches no job and lands on
    the shuffle join, where AQE still upgrades to a broadcast at runtime
    from the ACTUAL post-shuffle size — so the conservative static choice
    costs at most one shuffle of a small batch, never a lost broadcast.

    **Verify-scan pushdown** (the probe's dominant IO term): the exact-
    Jaccard verification joins the stored shingle table on BOTH pair
    sides, and that store is roughly corpus-token-sized — left as plain
    joins, a probe would scan it twice end to end no matter how small the
    batch. So the bounded candidate set is materialized once (an eager
    ``localCheckpoint`` of O(batch × collisions) id pairs — this is the
    one part of the probe that executes at build time), and when it holds
    ≤ ``VERIFY_PUSHDOWN_MAX_IDS`` distinct corpus ids, the stored-shingle
    scan gets a ``doc_id IN (...)`` predicate that parquet row-group stats
    can prune — the build and compaction paths write ``docs/``
    range-clustered by id exactly so those stats are tight. Verify IO then
    scales with the candidate set, not the corpus. The ids are ``long``
    (the signature pass fixes the id type), so the predicate is one
    rendered SQL string of integers: it crosses py4j once, where
    ``Column.isin`` pays a py4j round trip per element (~30 s of driver
    time at 50k ids, PERFORMANCE.md round-8).

    The pushdown engages only when the stored-shingle table is at least
    ``VERIFY_PUSHDOWN_MIN_STORE_BYTES`` (footer-derived estimate, free):
    measured at a 55k-doc store the checkpoint+collect overhead costs
    ~0.25 s while the double scan it avoids is ~40 MB — a wash — so small
    stores keep the fully-lazy plain join, and the pushdown switches on
    where its savings are real. Above the floor the savings are MEASURED,
    not extrapolated: an 800k-doc / 326 MB store probed with a 200-doc
    batch runs 0.52 s with the pushdown vs 2.63 s without (5.1×,
    identical pairs; PERFORMANCE.md round-8). Above the id cap the probe
    stays lazy.
    """
    # materialized: the batch's shingles feed BOTH candidate generation
    # (signatures → bands) and the verify union below — without it the
    # batch text is re-read and re-shingled per consumer on every probe.
    # Seam default is localCheckpoint, not persist: no unpersist hook
    # exists after the returned frame is consumed, and persist here
    # accumulates one evictable cache entry per admission batch for the
    # session's lifetime (the ContextCleaner frees checkpoint blocks once
    # the frame goes out of scope; same pattern as `cands` below) — the
    # documented cost of flipping the conf on preemptible clusters.
    new_shingles = materialize(
        _shingle_sets(new_docs, id_col, text_col, shingle_n)
    )
    new_sigs = minhash_signature_oph_np(new_shingles, id_col, n_hashes=n_hashes)
    new_bands = signature_band_buckets(new_sigs, id_col, n_hashes, n_bands)

    # guarded size probe (absent under Spark Connect): unknown counts
    # as large — no static broadcast, AQE still upgrades at runtime
    est = optimized_plan_size_bytes(new_docs)
    broadcast_batch = est is not None and est <= BROADCAST_MAX_BATCH_BYTES
    if broadcast_batch:
        # bounded row confirmation (reads at most max_docs+1 rows of a
        # batch already known to be byte-small): short docs can explode
        # rows × n_bands past any byte budget
        max_docs = max(1, 2_000_000 // n_bands)
        broadcast_batch = (
            new_docs.select(id_col).limit(max_docs + 1).count() <= max_docs
        )
    probe = new_bands.withColumnRenamed(id_col, "id_b")
    if broadcast_batch:
        probe = F.broadcast(probe)
    idx_bands = spark.read.parquet(f"{path}/bands").withColumnRenamed(id_col, "id_a")
    cands = (
        idx_bands.join(probe, ["band", "bucket"])
        .select("id_a", "id_b")
        .distinct()
    )
    idx_docs = spark.read.parquet(f"{path}/docs")
    # guarded probe: an unknown store size keeps the fully-lazy plain join
    # (the pre-pushdown plan), never an error
    store_bytes = optimized_plan_size_bytes(idx_docs)
    if store_bytes is not None and store_bytes >= VERIFY_PUSHDOWN_MIN_STORE_BYTES:
        # small by construction (hot buckets are capped at build time);
        # materializing also keeps candidate generation single-execution
        cands = materialize(cands)
        corpus_ids = [
            r[0]
            for r in cands.select("id_a")
            .distinct()
            .limit(VERIFY_PUSHDOWN_MAX_IDS + 1)
            .collect()
        ]
        if len(corpus_ids) <= VERIFY_PUSHDOWN_MAX_IDS:
            # no candidates: `IN ()` does not parse, and no stored set is
            # needed — the filter folds the scan away
            ids = ",".join(str(int(i)) for i in corpus_ids)
            idx_docs = idx_docs.filter(
                F.expr(f"{quote_name(id_col)} IN ({ids})") if ids
                else F.lit(False)
            )
    verify_sets = idx_docs.unionByName(new_shingles)
    return jaccard_verified_pairs(cands, verify_sets, id_col, threshold)


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) through the JVM — works on any supported
    filesystem, unlike os.path (see streaming/events.py for the same
    pattern). Refuses with the engine's named classic-session seam under
    Spark Connect: the callers are the index's destructive swap/heal
    protocol, which must not degrade."""
    from tidb_large_table_compare_spark.functions.fsutil import hadoop_fs

    return hadoop_fs(spark, path, "near-dup index maintenance")


def compact_neardup_index(
    spark: SparkSession,
    path: str,
    max_bucket_size: int | None = 10_000,
    target_file_bytes: int = 128 << 20,
) -> dict:
    """Rewrite the index from its own stored tables — O(index bytes),
    never corpus text (a full ``build_neardup_index`` re-run re-shingles
    the whole corpus, ~400× the bytes).

    Batch appends accumulate three kinds of debt, all repaid here:

    - **small files** — each append writes its own part files; compaction
      rewrites each sub-table into ~``target_file_bytes`` files,
    - **exact re-appends** — a retried append duplicates rows; compaction
      drops exact duplicates (same-id-different-text conflicts are the
      caller's contract to prevent, as with any append-only store),
    - **cap escapes** — ``append_to_neardup_index`` documents that the
      hot-bucket cap is not re-evaluated per batch, so a bucket can grow
      past it between compactions; the cap is re-applied over the merged
      band table.

    The rewrite lands in a side directory first and swaps in with two FS
    renames per sub-table. A crash inside the two-rename window leaves the
    canonical path briefly absent (old data intact under ``<sub>.old``) —
    the next ``compact_neardup_index`` run heals it before doing anything
    else: a missing sub-table with a ``.old`` sibling is renamed back, and
    stale ``.compacting`` side dirs are discarded. Run compaction under the
    same lock as probes (the CLI keys its run lock on the index path) so a
    reader can't observe the window.

    Returns a stats dict (rows and file counts per sub-table).
    """
    fs, _ = _hadoop_fs(spark, path)
    stats: dict = {}
    for sub in ("docs", "bands"):
        src = f"{path}/{sub}"
        # crash recovery from a previous interrupted swap
        _, jsrc0 = _hadoop_fs(spark, src)
        _, jold0 = _hadoop_fs(spark, f"{path}/{sub}.old")
        _, jside0 = _hadoop_fs(spark, f"{path}/{sub}.compacting")
        if not fs.exists(jsrc0) and fs.exists(jold0):
            if not fs.rename(jold0, jsrc0):
                raise IOError(f"could not restore {src} from its .old sibling")
        if fs.exists(jside0):
            fs.delete(jside0, True)
        df = spark.read.parquet(src).dropDuplicates()
        if sub == "bands":
            df = cap_hot_buckets(df, max_bucket_size)
        _, jsrc = _hadoop_fs(spark, src)
        bytes_before = fs.getContentSummary(jsrc).getLength()
        files_before = sum(
            1 for f in fs.listStatus(jsrc) if f.getPath().getName().startswith("part-")
        )
        n_files = max(1, -(-int(bytes_before) // target_file_bytes))
        side = f"{path}/{sub}.compacting"
        if sub == "docs":
            # restore the id range-clustering the probe's verify-scan
            # pushdown relies on (appends interleave id ranges over time);
            # the id column is whatever the build used — the one that
            # isn't the shingle payload
            id_c = next(c for c in df.columns if c != "shingles")
            df = df.repartitionByRange(n_files, id_c).sortWithinPartitions(id_c)
        else:
            df = df.repartition(n_files)
        df.write.mode("overwrite").parquet(side)
        rows = spark.read.parquet(side).count()
        _, jside = _hadoop_fs(spark, side)
        old = f"{path}/{sub}.old"
        _, jold = _hadoop_fs(spark, old)
        fs.delete(jold, True)
        if not fs.rename(jsrc, jold):
            raise IOError(f"compaction swap failed: could not move {src} aside")
        if not fs.rename(jside, jsrc):
            # restore the original so the index stays queryable
            fs.rename(jold, jsrc)
            raise IOError(f"compaction swap failed: could not move {side} into place")
        fs.delete(jold, True)
        files_after = sum(
            1 for f in fs.listStatus(jsrc) if f.getPath().getName().startswith("part-")
        )
        stats[sub] = {
            "rows": rows,
            "files_before": files_before,
            "files_after": files_after,
        }
    return stats
