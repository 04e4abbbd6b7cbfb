"""Small-file compaction planning from catalog metadata.

At 100 TB the classic operational debt is the long tail of small files that
incremental jobs append (the admission index grows them too — its own
``compact_neardup_index`` is the executed fix for that one store). This
operator is the *planning* half for arbitrary parquet datasets: given a
file inventory (path, bytes), assign each under-target file to a compaction
bin such that bins approximate ``target_bytes``, per directory (compaction
never merges across tables/partitions).

The assignment is the deterministic first-fit-in-path-order rule: walking a
directory's eligible files in path order, a file joins the bin its
cumulative start offset falls in (``floor(start / target)``) — pure
window-function algebra, no driver loop, SQL-expressible (oracle-checked as
``compaction_plan_bins``). Files already ≥ target are marked ``keep`` and
excluded from the running sum.

Scale: inventories are metadata — one row per FILE, not per data row
(millions of rows for a 100 TB lake, a few hundred MB) — and the only
shuffle partitions by directory, so each table's plan is independent and
skew is bounded by the largest single directory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tidb_large_table_compare_spark.functions.fsutil import hadoop_fs
from tidb_large_table_compare_spark.functions.localframe import local_frame

__all__ = [
    "compaction_plan",
    "file_inventory",
    "execute_compaction",
    "swap_compacted",
    "heal_tree",
    "CompactionError",
]

# Transient protocol-dir suffixes reserved by swap_compacted (a user table
# directory may not end in these — the inventory skips them as in-flight
# swap state and heal_tree reclaims them).
_PROTOCOL_SUFFIXES = (".old", ".compacting")


class CompactionError(RuntimeError):
    """A partially-failed compaction run. Carries the full state a
    scheduler needs to resume programmatically — the message alone only
    previews the first failures:

    - ``manifest``: the partial manifest (same shape as the success
      return), listing every bin that DID complete,
    - ``failures``: the complete list of per-bin failure strings.
    """

    def __init__(self, message: str, manifest: dict, failures: list[str]):
        super().__init__(message)
        self.manifest = manifest
        self.failures = failures


def _dest_suffixes(dirs: list[str]) -> dict[str, str]:
    """Map each source directory to a collision-free dest suffix.

    Uses the path relative to the deepest common ancestor of all source
    dirs, so two dirs sharing a basename (e.g. ``.../orders/date=2020`` and
    ``.../lineitem/date=2020`` in one inventory) land in distinct dest
    subtrees instead of silently overwriting each other. Components are
    sanitized to filesystem-safe chars; a one-dir inventory keeps its plain
    basename.
    """
    split = {d: [c for c in d.rstrip("/").split("/") if c] for d in dirs}
    parts = list(split.values())
    common = 0
    if len(parts) > 1:
        for vals in zip(*parts):
            if len(set(vals)) != 1:
                break
            common += 1
        # never swallow a dir entirely: the shallowest dir keeps >=1 component
        common = min(common, min(len(p) for p in parts) - 1)
    out = {}
    for d, comps in split.items():
        rel = comps[common:] if len(parts) > 1 else comps[-1:]
        out[d] = "/".join(
            "".join(ch if ch.isalnum() or ch in "._=-" else "_" for ch in c)
            for c in rel
        )
    if len(set(out.values())) != len(out):
        raise ValueError(f"compaction dest suffixes collide: {sorted(out.items())}")
    return out


def compaction_plan(
    files: DataFrame,
    target_bytes: int,
    path_col: str = "path",
    bytes_col: str = "bytes",
) -> DataFrame:
    """Plan compaction bins for a (path, bytes) inventory.

    Returns ``(path, bytes, dir, action, bin)``: ``action='keep'`` (file
    already ≥ target; ``bin`` NULL), ``action='unknown'`` (NULL size —
    unplannable, surfaced instead of silently dropped), or
    ``action='compact'`` with the
    0-based bin index within the file's directory. Bins respect path order
    and hold ≥1 file; bin *b* collects the files whose cumulative start
    offset falls in window ``[b·target, (b+1)·target)``, so every bin's
    span is < 2×target and the prefix through each closed bin reaches its
    window end (a single bin can undershoot the target when the previous
    file straddles into its window — window algebra, no splitting; the
    invariants are property-tested).
    """
    if target_bytes <= 0:
        raise ValueError("target_bytes must be positive")
    dir_col = F.regexp_extract(F.col(path_col), r"^(.*)/[^/]+$", 1)
    base = files.select(
        F.col(path_col).alias("path"),
        F.col(bytes_col).cast("bigint").alias("bytes"),
        dir_col.alias("dir"),
    )
    keep = base.filter(
        (F.col("bytes") >= target_bytes) | F.col("bytes").isNull()
    ).select(
        "path", "bytes", "dir",
        F.when(F.col("bytes").isNull(), F.lit("unknown"))
        .otherwise(F.lit("keep"))
        .alias("action"),
        F.lit(None).cast("bigint").alias("bin"),
    )
    w = (
        Window.partitionBy("dir")
        .orderBy("path")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    compact = (
        base.filter(F.col("bytes") < target_bytes)
        .withColumn("__start", F.sum("bytes").over(w) - F.col("bytes"))
        .select(
            "path", "bytes", "dir",
            F.lit("compact").alias("action"),
            F.floor(F.col("__start") / target_bytes).cast("bigint").alias("bin"),
        )
    )
    return keep.unionByName(compact)


def _file_inventory_distributed(spark: SparkSession, dir_path: str) -> DataFrame:
    """(path, bytes) via Spark's own file index instead of a driver walk.

    The ``binaryFile`` source with only ``path``/``length`` selected never
    opens a file — the format materializes just the requested status
    fields — so this is a pure distributed listing: Spark's
    InMemoryFileIndex lists in parallel and switches to a listing JOB
    above ``spark.sql.sources.parallelPartitionDiscovery.threshold``
    paths, and the resulting inventory stays a DataFrame end to end (no
    py4j row conversion, no driver list). Hidden-entry semantics are
    pinned to the driver walk's: Spark's own index skips most ``_``/
    ``.``-prefixed entries but KEEPS ``_name=value`` directories (the
    partition-dir exception in ``shouldFilterOutPathName``), which the
    driver walk excludes — and the swap step is destructive, so the two
    listings drifting on a ``_staging=1/`` dir would rewrite files the
    walk deliberately treated as hidden. The explicit relative-path
    filter below closes that gap; the root is FS-qualified so the filter
    never inspects segments of ``dir_path`` itself.
    """
    fs, jpath = hadoop_fs(
        spark, dir_path, "compaction maintenance (file inventory)"
    )
    # both Spark's FileIndex and this qualification funnel through Hadoop
    # Path.toString, so the returned `path` column is prefix-stable — an
    # assumption VALIDATED per row below (raise_error inside the filter:
    # zero extra jobs), because the substr slice feeds the hidden-segment
    # filter that guards the DESTRUCTIVE swap step: a renderer divergence
    # (URL-encoded path columns, scheme normalization drift across Spark
    # versions) would silently mis-slice and un-hide protocol dirs.
    root = fs.makeQualified(jpath).toString()
    prefix = root.rstrip("/") + "/"
    prefix_ok = F.col("path").startswith(F.lit(prefix))
    rel = F.col("path").substr(F.lit(len(prefix) + 1), F.lit(1 << 30))
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .load(dir_path)
        .filter(
            F.when(prefix_ok, F.lit(True)).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            "distributed inventory prefix mismatch: "
                            "binaryFile path column does not start with "
                            f"the FS-qualified root '{prefix}' — got "
                        ),
                        F.col("path"),
                    )
                )
            )
        )
        # same protocol-dir exclusion as the driver walk: files under an
        # interrupted swap's X.old / X.compacting are in-flight state, not
        # inventory (pattern derived from _PROTOCOL_SUFFIXES so the two
        # listing paths cannot drift)
        .filter(~F.col("path").rlike(
            "(" + "|".join(s.replace(".", r"\.") for s in _PROTOCOL_SUFFIXES)
            + ")/"
        ))
        # driver-walk hidden semantics: no segment below the root may start
        # with '_' or '.' (covers the _name=value partition-dir exception)
        .filter(~rel.rlike(r"(^|/)[_.]"))
        .select(F.col("path"), F.col("length").alias("bytes"))
    )


def file_inventory(
    spark: SparkSession, dir_path: str, recursive: bool = True,
    parallelism: int = 16,
    distributed: bool | None = None,
    max_driver_files: int = 1_000_000,
) -> DataFrame:
    """(path, bytes) for every parquet part file under ``dir_path``.

    Listed through the Hadoop FileSystem API (any supported filesystem,
    driver-side — file listings are metadata-sized), skipping hidden/
    metadata entries the way Spark's own scans do. Discovered directories
    feed a shared work QUEUE drained by up to ``parallelism`` concurrent
    workers (py4j gives each thread its own gateway connection): on an
    object store every listStatus is a network round-trip, so a serial
    walk of a many-partition lake is latency-bound — and a per-level
    barrier would degrade a deep narrow hierarchy (y=/m=/d= chains, one
    subdir per level) back to that serial walk, so each directory is its
    own task the moment it is discovered.

    The driver walk is bounded: past ``max_driver_files`` entries the
    accumulating driver-side row conversion — not the listing itself —
    becomes the cost (the Arrow batch path used below converts 100k rows
    in ~1.3 s and 1M in ~5 s, vs ~6 s/100k for per-row py4j — measured;
    a 10M-file lake would still spend ~a minute marshaling plus hold
    every entry in driver memory),
    and with ``recursive=True`` the walk abandons and delegates to
    :func:`_file_inventory_distributed`, Spark's own parallel/distributed
    file index. ``distributed=True`` skips straight to that path (it
    requires ``recursive=True`` — the binaryFile index always recurses);
    ``distributed=False`` pins the driver walk regardless of size.
    """
    if distributed and not recursive:
        raise ValueError("distributed listing is always recursive")
    if distributed:
        return _file_inventory_distributed(spark, dir_path)

    from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait

    fs, jpath = hadoop_fs(
        spark, dir_path, "compaction maintenance (file inventory)"
    )

    def _list_one(cur) -> tuple[list, list[tuple[str, int]]]:
        subdirs, files = [], []
        for status in fs.listStatus(cur):
            name = status.getPath().getName()
            if name.startswith(("_", ".")):
                continue
            if status.isDirectory():
                # never inventory in-flight swap state: an interrupted
                # swap's X.old holds retired duplicates of X — listing it
                # as an independent table would resurrect them; heal the
                # tree first (heal_tree / the maintenance CLI does)
                if recursive and not name.endswith(_PROTOCOL_SUFFIXES):
                    subdirs.append(status.getPath())
            elif name.endswith(".parquet"):
                files.append((status.getPath().toString(), status.getLen()))
        return subdirs, files

    rows: list[tuple[str, int]] = []
    with ThreadPoolExecutor(max_workers=max(1, parallelism)) as pool:
        pending = {pool.submit(_list_one, jpath)}
        while pending:
            done, pending = wait(pending, return_when=FIRST_COMPLETED)
            for fut in done:
                subdirs, files = fut.result()
                rows.extend(files)
                for d in subdirs:  # each dir is its own task — no barrier
                    pending.add(pool.submit(_list_one, d))
            if (
                distributed is None
                and recursive
                and len(rows) > max_driver_files
            ):
                # extreme file count: stop marshaling rows through py4j
                # and let Spark's distributed index redo the listing —
                # the walk so far is repaid by never driver-converting
                # millions of rows
                for fut in pending:
                    fut.cancel()
                return _file_inventory_distributed(spark, dir_path)
    # Arrow, not per-row py4j (list-of-tuples createDataFrame marshals
    # row-by-row: measured 6.0 s vs 1.3 s per 100k rows)
    return local_frame(spark, rows, "path string, bytes bigint")


def execute_compaction(
    spark: SparkSession, plan: DataFrame, out_dir: str, parallelism: int = 8
) -> dict:
    """Materialize a :func:`compaction_plan`: one merged parquet file per
    (directory, bin) under ``out_dir``, mirroring each source directory by
    its path relative to the inventory's common root (basename alone would
    collide for same-named partition dirs under different tables).

    Deliberately NON-destructive: sources are only read. Swapping merged
    files in over the originals is the operator's explicit final step —
    :func:`swap_compacted` below, the generalization of the admission
    index's side-dir + two-renames + crash-healing protocol
    (``dedup_index.compact_neardup_index``). 'keep' and
    'unknown' rows are untouched and reported in the manifest.

    Each bin is one small job (read its few files, coalesce(1), write).
    Bins are independent, so up to ``parallelism`` of them run as
    CONCURRENT Spark jobs (submission is thread-safe; each coalesce(1) job
    occupies one task slot, so a serial driver loop would leave the
    cluster idle — with thousands of bins on a real lake the driver loop,
    not the data, is otherwise the bottleneck). A bin that fails does not
    stop the others; failures are re-raised together after the loop so a
    partial maintenance run is visible, resumable (outputs are
    idempotent overwrites), and never silently half-reported.

    The ``plan.collect()`` is driver-bound by design: execution IS driver
    work (each bin is a driver-submitted job), so the bin→paths map must
    live there — the collect is the inventory walk's conversion cost in
    reverse (PERFORMANCE.md). On a lake big enough for that to
    matter, scope the plan (filter to one table/partition subtree) and
    run several maintenance processes; the run lock is per-tree.
    """
    from concurrent.futures import ThreadPoolExecutor

    rows = plan.collect()  # metadata-sized: one row per file
    by_bin: dict[tuple[str, int], list[str]] = {}
    kept = skipped = 0
    for r in rows:
        if r.action == "compact":
            by_bin.setdefault((r.dir, int(r.bin)), []).append(r.path)
        elif r.action == "keep":
            kept += 1
        else:
            skipped += 1
    manifest: dict = {"bins": 0, "files_merged": 0, "kept": kept,
                      "unknown": skipped, "outputs": []}
    suffixes = _dest_suffixes(sorted({d for d, _ in by_bin}))

    def _merge(item: tuple[tuple[str, int], list[str]]) -> tuple[str, int]:
        (src_dir, bin_id), paths = item
        dest = f"{out_dir}/{suffixes[src_dir]}/bin={bin_id:05d}"
        spark.read.parquet(*paths).coalesce(1).write.mode(
            "overwrite"
        ).parquet(dest)
        return dest, len(paths)

    items = sorted(by_bin.items())
    failures: list[str] = []
    with ThreadPoolExecutor(max_workers=max(1, parallelism)) as pool:
        futures = [(key, pool.submit(_merge, (key, paths)))
                   for key, paths in items]
        for (src_dir, bin_id), fut in futures:
            try:
                dest, n = fut.result()
            except Exception as exc:
                failures.append(f"{src_dir} bin={bin_id}: {exc}")
                continue
            manifest["bins"] += 1
            manifest["files_merged"] += n
            manifest["outputs"].append(dest)
    manifest["outputs"].sort()
    if failures:
        raise CompactionError(  # full failure list + partial manifest attached
            f"{len(failures)}/{len(items)} compaction bins failed "
            f"({manifest['bins']} succeeded; outputs are idempotent — "
            f"re-run to resume): " + "; ".join(failures[:5]),
            manifest=manifest,
            failures=failures,
        )
    return manifest


_MERGED_PREFIX = "compacted-"


def _jpath(spark: SparkSession, path: str):
    return spark._jvm.org.apache.hadoop.fs.Path(path)


def _heal_swap(spark: SparkSession, fs, src_dir: str) -> bool:
    """Repair an interrupted :func:`swap_compacted` of ``src_dir``; returns
    True if anything was healed. Safe to call on a healthy directory.

    The three crash windows and their repairs (order matters):

    1. canonical dir absent, ``.old`` present (crash between the two
       renames) — rename ``.old`` back: the original files are intact.
    2. a ``.compacting`` side dir present (crash while staging) — drain
       every entry NOT carrying the merged-file prefix back into the
       canonical dir (those are the carried keep/unplanned entries that
       were MOVED out of it), then discard the side dir. The discarded
       merged files are re-creatable: re-run ``execute_compaction``
       (its outputs are idempotent overwrites).
    3. canonical and ``.old`` both present (crash after the swap, before
       the cleanup delete) — the swap completed; delete ``.old``.

    A side dir with NO canonical sibling and no ``.old`` to restore it
    from is unreachable under the protocol (the canonical is absent only
    between the two renames, when ``.old`` exists) — it means someone
    deleted state by hand. If that orphan holds only re-creatable
    merged files (or nothing), it is still discarded; if it holds
    carried entries — possibly their only copy — healing raises instead
    of discarding them.
    """
    jsrc = _jpath(spark, src_dir)
    jold = _jpath(spark, src_dir + ".old")
    jside = _jpath(spark, src_dir + ".compacting")
    healed = False
    if not fs.exists(jsrc) and fs.exists(jold):
        if not fs.rename(jold, jsrc):
            raise IOError(f"could not restore {src_dir} from its .old sibling")
        healed = True
    if fs.exists(jside):
        for status in fs.listStatus(jside):
            name = status.getPath().getName()
            if name.startswith(_MERGED_PREFIX):
                continue  # re-creatable: execute_compaction overwrites
            if not fs.exists(jsrc):
                # unreachable under the protocol (see docstring): this
                # carried entry may be its own last copy — refuse to
                # discard state we cannot prove is a duplicate
                raise IOError(
                    f"refusing to discard {src_dir}.compacting: it holds "
                    f"carried entry {name} but no canonical dir or .old "
                    f"sibling exists — manual intervention left an "
                    f"undefined state"
                )
            if not fs.rename(status.getPath(), _jpath(spark, f"{src_dir}/{name}")):
                raise IOError(
                    f"heal failed: could not move {name} back into {src_dir}"
                )
        fs.delete(jside, True)
        healed = True
    if fs.exists(jsrc) and fs.exists(jold):
        fs.delete(jold, True)
        healed = True
    return healed


def heal_tree(
    spark: SparkSession, dir_path: str, parallelism: int = 16
) -> list[str]:
    """Find and repair every interrupted swap under ``dir_path``; returns
    the sorted canonical dirs that needed healing.

    :func:`swap_compacted` heals the dirs in ITS plan, but a crashed swap
    can leave debris for a directory no later plan revisits — e.g. a crash
    after the swap but before the ``.old`` cleanup: the re-planned dir now
    holds only healthy merged files (all 'keep', so no future swap touches
    it) while ``X.old`` still holds the retired small files, which an
    unsuspecting inventory would list as an independent table and
    resurrect. The maintenance CLI therefore heals the whole tree, under
    its run lock, BEFORE inventorying (``file_inventory`` additionally
    skips protocol dirs outright, so even an unhealed tree never
    double-counts). Walks with the same work-queue concurrency as the
    inventory; never descends into protocol dirs themselves.
    """
    from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait

    fs, jroot = hadoop_fs(
        spark, dir_path, "compaction maintenance (heal_tree)"
    )
    if not fs.exists(jroot):
        return []

    def _scan_one(cur) -> tuple[list, set[str]]:
        subdirs, debris = [], set()
        for status in fs.listStatus(cur):
            name = status.getPath().getName()
            if not status.isDirectory() or name.startswith(("_", ".")):
                continue
            if name.endswith(_PROTOCOL_SUFFIXES):
                full = status.getPath().toString()
                debris.add(full[: full.rindex(".")])
            else:
                subdirs.append(status.getPath())
        return subdirs, debris

    canonicals: set[str] = set()
    with ThreadPoolExecutor(max_workers=max(1, parallelism)) as pool:
        pending = {pool.submit(_scan_one, jroot)}
        while pending:
            done, pending = wait(pending, return_when=FIRST_COMPLETED)
            for fut in done:
                subdirs, debris = fut.result()
                canonicals |= debris
                for d in subdirs:
                    pending.add(pool.submit(_scan_one, d))
        # heal concurrently too: each repair is a couple of FS renames —
        # network round-trips on an object store, so a serial loop over
        # many debris dirs would be latency-bound like the listing. Safe:
        # distinct canonicals touch disjoint paths (a canonical inside
        # another's .old tree is never scanned, so never in the set).
        # Collected per-future rather than pool.map: one raising repair
        # (e.g. the orphan .compacting refusal) must not discard the
        # report of every heal that DID complete.
        futs = {c: pool.submit(_heal_swap, spark, fs, c)
                for c in sorted(canonicals)}
    healed, failures = [], []
    for c, fut in futs.items():
        try:
            if fut.result():
                healed.append(c)
        except Exception as exc:  # noqa: BLE001 — reported, not swallowed
            failures.append(f"{c}: {exc}")
    if failures:
        raise CompactionError(
            f"{len(failures)}/{len(canonicals)} heals failed "
            f"({len(healed)} succeeded): " + "; ".join(failures[:5]),
            manifest={"healed": healed},
            failures=failures,
        )
    return healed


def swap_compacted(
    spark: SparkSession, plan: DataFrame, out_dir: str, parallelism: int = 8,
    _before_op=None,
) -> dict:
    """Swap :func:`execute_compaction`'s merged files in over the small
    originals — the deliberate, destructive final step of the maintenance
    loop (plan → execute → swap), kept separate so a run can stop at the
    non-destructive mirror and be inspected.

    Per source directory that planned ≥1 compact bin, the admission
    index's crash-healing protocol (``dedup_index.compact_neardup_index``)
    generalized to arbitrary directories:

    1. heal any interrupted previous swap (:func:`_heal_swap`),
    2. verify every planned bin's merged output exists under ``out_dir``
       (raise BEFORE touching the source if not — e.g. after a partial
       ``execute_compaction``),
    3. stage the directory's NEW contents in a ``<dir>.compacting`` side
       dir: the merged bin files move in under a ``compacted-<bin>-``
       prefix (renamed out of ``out_dir`` — metadata ops, no data copy),
       and every source entry that is NOT a planned-compact file (keep/
       unknown files, subdirectories, markers like ``_SUCCESS``) moves
       across unchanged,
    4. two renames: ``<dir>`` → ``<dir>.old``, side dir → ``<dir>`` —
       the retired small files leave with ``.old``, which is then deleted.

    A crash anywhere leaves a state :func:`_heal_swap` restores on the
    next run (the canonical dir is briefly absent only between the two
    renames, exactly as in the index protocol). Run under the same lock
    as readers of the tree (the maintenance CLI keys its run lock on the
    tree) so no reader observes the window. Directories whose files all
    planned 'keep' are untouched.

    Directories swap as up to ``parallelism`` concurrent workers (each
    dir's protocol is a handful of independent metadata renames — network
    round-trips on an object store, so a serial loop over thousands of
    planned dirs would be latency-bound). A planned ancestor dir briefly
    renames its whole subtree aside, so nested planned dirs are scheduled
    deepest-first in waves. A dir whose swap fails does not stop its
    siblings; failures are collected and re-raised together as
    :class:`CompactionError` with the partial manifest attached — every
    failure state is healable on the next run.

    Returns ``{"dirs_swapped", "files_swapped_in", "files_retired",
    "carried", "healed": [dirs]}``.

    ``_before_op`` is the crash-injection seam for the healing tests: a
    callable invoked with a label before every mutating FS operation
    (``stage-merged``/``carry``/``rename-aside``/``rename-in``/
    ``delete-old``); raising from it simulates a crash at exactly that
    protocol step. Production callers leave it None.
    """
    from concurrent.futures import ThreadPoolExecutor

    fs, _ = hadoop_fs(
        spark, out_dir, "compaction maintenance (swap_compacted)"
    )  # named Connect seam BEFORE any work — the protocol is destructive
    rows = plan.collect()  # metadata-sized: one row per file
    by_dir: dict[str, set[int]] = {}
    planned: dict[str, set[str]] = {}
    for r in rows:
        if r.action == "compact":
            by_dir.setdefault(r.dir, set()).add(int(r.bin))
            planned.setdefault(r.dir, set()).add(r.path)
    suffixes = _dest_suffixes(sorted(by_dir))  # same derivation as execute
    # The protocol is pure renames, which cannot cross filesystems: a
    # mismatched out_dir (merged files on local disk, tree on s3a://)
    # would otherwise fail mid-protocol with Hadoop's bare rename-false
    # AFTER the side dir exists. Refuse up front, before any mutation.
    conf = spark._jsc.hadoopConfiguration()
    out_fs_uri = fs.getUri().toString()
    for d in sorted(by_dir):
        d_uri = _jpath(spark, d).getFileSystem(conf).getUri().toString()
        if d_uri != out_fs_uri:
            raise ValueError(
                f"swap_compacted is rename-based and cannot cross "
                f"filesystems: out_dir is on {out_fs_uri} but planned "
                f"directory {d} is on {d_uri} — write the merged files "
                f"(execute_compaction out_dir) to the same filesystem "
                f"as the tree"
            )
    manifest: dict = {
        "dirs_swapped": 0, "files_swapped_in": 0, "files_retired": 0,
        "carried": 0, "healed": [],
    }

    def _data_files(dir_path: str) -> list:
        return [
            s for s in fs.listStatus(_jpath(spark, dir_path))
            if not s.getPath().getName().startswith(("_", "."))
        ]

    def _swap_one(src_dir: str) -> dict:
        out = {"swapped_in": 0, "retired": 0, "carried": 0, "healed": False}
        out["healed"] = _heal_swap(spark, fs, src_dir)
        # verify the mirror is complete before touching the source
        bin_files: list[tuple[int, object]] = []
        for bin_id in sorted(by_dir[src_dir]):
            dest = f"{out_dir}/{suffixes[src_dir]}/bin={bin_id:05d}"
            files = (
                _data_files(dest) if fs.exists(_jpath(spark, dest)) else []
            )
            if not files:
                raise IOError(
                    f"no merged output for {src_dir} bin={bin_id} under "
                    f"{dest} — re-run execute_compaction before swapping"
                )
            bin_files.extend((bin_id, s) for s in files)
        side = src_dir + ".compacting"
        fs.mkdirs(_jpath(spark, side))
        for bin_id, status in bin_files:
            if _before_op:
                _before_op("stage-merged")
            name = f"{_MERGED_PREFIX}{bin_id:05d}-{status.getPath().getName()}"
            if not fs.rename(status.getPath(), _jpath(spark, f"{side}/{name}")):
                raise IOError(f"could not stage merged file {name} into {side}")
            out["swapped_in"] += 1
        for status in fs.listStatus(_jpath(spark, src_dir)):
            name = status.getPath().getName()
            if status.getPath().toString() in planned[src_dir] or (
                not status.isDirectory()
                and f"{src_dir}/{name}" in planned[src_dir]
            ):
                out["retired"] += 1  # stays behind, leaves with .old
                continue
            if _before_op:
                _before_op("carry")
            if not fs.rename(status.getPath(), _jpath(spark, f"{side}/{name}")):
                raise IOError(f"could not carry {name} into {side}")
            out["carried"] += 1
        jsrc = _jpath(spark, src_dir)
        jold = _jpath(spark, src_dir + ".old")
        if _before_op:
            _before_op("rename-aside")
        if not fs.rename(jsrc, jold):
            raise IOError(f"swap failed: could not move {src_dir} aside")
        if _before_op:
            _before_op("rename-in")
        if not fs.rename(_jpath(spark, side), jsrc):
            fs.rename(jold, jsrc)  # restore so the tree stays readable
            raise IOError(f"swap failed: could not move {side} into place")
        if _before_op:
            _before_op("delete-old")
        fs.delete(jold, True)
        return out

    # Each directory's protocol is independent metadata work (a handful of
    # renames — on an object store each is a network round-trip), so dirs
    # swap as CONCURRENT workers, like execute_compaction's bins and
    # file_inventory's listings. The one ordering constraint: a planned
    # ancestor briefly renames its WHOLE subtree aside, so it must not run
    # while a planned descendant is mid-protocol — dirs are scheduled in
    # waves, a dir eligible only once no pending dir lies beneath it
    # (nested planned dirs are rare; the common flat case is one wave).
    remaining = sorted(by_dir)
    failures: list[str] = []
    failed_dirs: list[str] = []
    with ThreadPoolExecutor(max_workers=max(1, parallelism)) as pool:
        while remaining:
            wave = [
                d for d in remaining
                if not any(
                    o != d and o.startswith(d.rstrip("/") + "/")
                    for o in remaining
                )
            ]
            remaining = [d for d in remaining if d not in wave]
            # never swap an ancestor of a failed dir: its subtree state is
            # whatever the failed protocol left (healable, but not here)
            held = [
                d for d in wave
                if any(f.startswith(d.rstrip("/") + "/") for f in failed_dirs)
            ]
            for d in held:
                failures.append(f"{d}: skipped — descendant swap failed")
                failed_dirs.append(d)
            wave = [d for d in wave if d not in held]
            for src_dir, fut in [
                (d, pool.submit(_swap_one, d)) for d in wave
            ]:
                try:
                    res = fut.result()
                except Exception as exc:
                    failures.append(f"{src_dir}: {exc}")
                    failed_dirs.append(src_dir)
                    continue
                manifest["dirs_swapped"] += 1
                manifest["files_swapped_in"] += res["swapped_in"]
                manifest["files_retired"] += res["retired"]
                manifest["carried"] += res["carried"]
                if res["healed"]:
                    manifest["healed"].append(src_dir)
    manifest["healed"].sort()
    if failures:
        raise CompactionError(
            f"{len(failures)}/{len(by_dir)} directory swaps failed "
            f"({manifest['dirs_swapped']} succeeded; every failure is "
            f"healable — re-run execute_compaction then swap again): "
            + "; ".join(failures[:5]),
            manifest=manifest,
            failures=failures,
        )
    return manifest
