"""Deduplication operators — BASELINE.json LLM-pipeline extensions.

Not present in the reference (SURVEY.md §2.C marks distinct/dedup **ext**);
designed for the 100 TB regime the north-star mandates:

- exact dedup: hash-groupBy on content — one shuffle of (key, id) pairs only;
- MinHash + LSH near-dup: per-doc signatures (map-side, no shuffle), banded
  bucket join so candidate generation shuffles band keys (bytes ∝ docs ×
  n_bands), then exact Jaccard verification **only on candidate pairs** —
  never the quadratic pair space;
- SimHash: 64-bit signed-projection fingerprint, bit-arithmetic built-ins.

All JVM-side built-ins (split/transform/aggregate/xxhash64); no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tidb_large_table_compare_spark.functions.hashing import quote_name
from tidb_large_table_compare_spark.functions.materialize import materialize

__all__ = [
    "exact_dedup_groups",
    "word_ngrams",
    "minhash_signature_oph_np",
    "lsh_candidate_pairs_from_array",
    "jaccard_verified_pairs",
    "prefix_filtered_candidates",
    "simhash",
    "cap_hot_buckets",
]


def cap_hot_buckets(bands: DataFrame, max_bucket_size: int | None) -> DataFrame:
    """Drop every (band, bucket) holding more than ``max_bucket_size`` rows.

    The one cap shared by the inline LSH pair generation, the admission
    index build, and the index compaction — a single definition so a
    future change to the cap semantics (e.g. counting distinct ids
    instead of rows) cannot silently diverge across the three paths. A
    hot bucket is a degenerate hash collision (boilerplate shingles, near-
    constant signatures); its members pair quadratically, so at corpus
    scale one bucket can dominate the whole candidate join.

    Assumes non-null (band, bucket) keys — true for every current caller
    (band is a literal, bucket an xxhash64). A row with a NULL key would
    be KEPT by this anti-join (NULL matches nothing), whereas the
    pre-round-12 semi-join form dropped it; a future caller with nullable
    keys must filter them explicitly before relying on the cap.
    """
    if max_bucket_size is None:
        return bands
    sizes = bands.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("__sz"))
    # join against the HOT set (anti), not the OK set (semi): oversized
    # buckets are rare by construction — the hot set is bounded by
    # rows/max_bucket_size, i.e. at least cap× smaller than the OK set
    # (which is ~every distinct (band, bucket) and grows ∝ corpus). The
    # small side of the filtering join should be the one that stays
    # broadcastable at 100 TB; identical output — dropping hot-bucket rows
    # is exactly keeping non-hot-bucket rows. Measured round 12 at sf0.1:
    # the OK-set broadcast build was three ~55 ms driver-gap jobs at the
    # head of the curation pipeline.
    hot = sizes.filter(F.col("__sz") > max_bucket_size).select("band", "bucket")
    return bands.join(hot, ["band", "bucket"], "left_anti")


def exact_dedup_groups(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Duplicate groups by exact content: (keep_id = min id, n_copies)."""
    return (
        df.groupBy(*key_cols)
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") > 1)
        .select("keep_id", "n_copies")
    )


def word_ngrams(text: Column, n: int) -> Column:
    """Distinct word n-gram shingles of a single-space-tokenized text.

    Guarded for short texts: Spark's ``sequence(1, 0)`` counts *down* to
    ``[1, 0]`` rather than yielding an empty array, so texts with fewer than
    ``n`` tokens are mapped to an explicit empty shingle set. The text is
    split once per row (see :func:`hashed_word_ngrams`).
    """

    def grams(toks: Column) -> Column:
        windows = F.transform(
            F.sequence(F.lit(1), F.size(toks) - n + 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
        return F.when(F.size(toks) >= n, F.array_distinct(windows)).otherwise(
            F.array().cast("array<string>")
        )

    return F.transform(F.array(F.split(text, " ")), grams)[0]


def hashed_word_ngrams(text: str, n: int) -> Column:
    """Distinct word n-gram shingles of column ``text``, hashed to int64
    at creation.

    Identical set semantics to :func:`word_ngrams` (modulo 2^-64 hash
    collisions), but every downstream stage — minhash binning, LSH band
    keys, exact-Jaccard verification — carries 8-byte longs instead of
    ~n-word strings: smaller persisted intermediates, cheaper
    array_intersect/array_union, same Jaccard values.

    Built as one ``F.expr``, ~2× cheaper to construct than the same tree
    through the Column API (as for ``signature_band_buckets``); hashes
    pinned by ``test_hashed_ngrams_expr_matches_column_form``.

    The token array is bound ONCE per row, as the lambda variable of a
    one-element ``transform``: Catalyst does not share a repeated
    ``split`` across the per-window lambda, so writing ``split(text)``
    inside it re-split the whole text for every window — O(tokens²) per
    document. On 4 cores, over 2000 documents of 560 tokens on average,
    that form took 53.5 s warm and this one takes 1.5 s (PERFORMANCE.md
    "Linear shingling").
    """
    # the lambda variables shadow columns of the same names inside the
    # lambda bodies, so they take names no text column is expected to have
    return F.expr(
        f"transform(array(split({quote_name(text)}, ' ')), __t -> "
        f"CASE WHEN size(__t) >= {n} THEN array_distinct(transform("
        f"sequence(1, size(__t) - {n} + 1), "
        f"__i -> xxhash64(concat_ws(' ', slice(__t, __i, {n}))))) "
        f"ELSE CAST(array() AS array<bigint>) END)[0]"
    )


def jaccard_verified_pairs(
    candidates: DataFrame,
    shingle_sets: DataFrame,  # (id, shingles array)
    id_col: str,
    threshold: float,
) -> DataFrame:
    """Exact Jaccard on candidate pairs only: (id_a, id_b, jaccard ≥ t)."""
    sa = shingle_sets.select(
        F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a")
    )
    sb = shingle_sets.select(
        F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b")
    )
    joined = candidates.join(sa, "id_a").join(sb, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        joined.withColumn("jaccard", inter.cast("double") / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def prefix_filtered_candidates(
    shingle_sets: DataFrame,  # (id, shingles array)
    id_col: str,
    threshold: float,
    shingle_col: str = "shingles",
) -> DataFrame:
    """Exact Jaccard candidate pairs via prefix filtering (AllPairs/PPJoin;
    Bayardo et al., WWW'07; Xiao et al., WWW'08) — candidate-COMPLETE for
    Jaccard >= ``threshold``, so verifying candidates on the full sets gives
    byte-identical results to the naive every-shared-shingle join.

    Why not join on every shared shingle: one hot shingle with document
    frequency d generates d²/2 candidate rows inside a single join
    partition — output-size skew AQE cannot see (the INPUT partition is
    tiny), measured as a lone straggler task pinning the r11 sf10 sweep
    for ~40 minutes on `neardup_ngram_jaccard`. Prefix filtering joins
    only on each set's first ``|s| - ceil(t*|s|) + 1`` shingles under a
    global rarest-first order (ascending document frequency), so a hot
    shingle enters the join only for documents with almost no rarer
    shingle — d_prefix(g) << d(g) exactly for the shingles that explode.

    Exactness: J(A,B) >= t implies |A∩B| >= t*union >= t*max(|A|,|B|),
    and two sets sharing >= ceil(t*|s|) elements under a common total
    order must collide inside these prefixes (the prefix-filtering
    principle) — so no qualifying pair is dropped, only non-qualifying
    candidates. The ceil() is computed with a 1e-9 slack so float noise
    can only ENLARGE a prefix, never shrink it below the exact bound.

    On top of the prefix join, two more PPJoin filters prune candidates
    pair-locally, both recall-lossless:

    - size filter: J(A,B) >= t implies min(|A|,|B|) >= |A∩B| >= t*max, so
      mismatched sizes cannot qualify;
    - positional filter: all common elements sort at-or-after the FIRST
      shared prefix gram (an earlier common element would itself be a
      shared prefix gram — contradiction), so |A∩B| <= 1 +
      min(|A|-pos_A, |B|-pos_B); the pair must clear the exact overlap
      bound alpha = ceil(t/(1+t)*(|A|+|B|)) at at least one joined gram,
      and the first shared gram (smallest positions) always clears it for
      a true pair.

    Cost shape: +1 shuffle for the df table and a per-document window
    sort (documents are small; the window never sees more than one
    document's shingles). Candidate volume drops from sum_g df(g)^2 to
    sum_g df_prefix(g)^2, then again by the pair-local filters — measured
    at the sf10 replica: 35.2M prefix-only candidates for 81.7k true
    pairs, each candidate shipping two ~50-element arrays into the
    verify join.
    """
    from pyspark.sql import window as W

    eg = shingle_sets.select(
        F.col(id_col), F.size(shingle_col).alias("__sz"),
        F.explode(shingle_col).alias("__gram"),
    )
    df_tbl = eg.groupBy("__gram").agg(F.count(F.lit(1)).alias("__df"))
    w = W.Window.partitionBy(id_col).orderBy(F.asc("__df"), F.asc("__gram"))
    pref = (
        eg.join(df_tbl, "__gram")
        .withColumn("__pos", F.row_number().over(w))
        .filter(
            F.col("__pos")
            <= F.col("__sz")
            - F.ceil(F.lit(threshold) * F.col("__sz") - F.lit(1e-9))
            + 1
        )
        .select(id_col, "__gram", "__pos", "__sz")
    )
    a = pref.select(
        F.col(id_col).alias("id_a"), "__gram",
        F.col("__pos").alias("__pa"), F.col("__sz").alias("__sza"),
    )
    b = pref.select(
        F.col(id_col).alias("id_b"), "__gram",
        F.col("__pos").alias("__pb"), F.col("__sz").alias("__szb"),
    )
    t = F.lit(threshold)
    alpha = F.ceil(
        t / (F.lit(1.0) + t) * (F.col("__sza") + F.col("__szb")) - F.lit(1e-9)
    )
    overlap_ub = F.lit(1) + F.least(
        F.col("__sza") - F.col("__pa"), F.col("__szb") - F.col("__pb")
    )
    return (
        a.join(b, "__gram")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            (F.col("__szb") >= t * F.col("__sza") - F.lit(1e-9))
            & (F.col("__sza") >= t * F.col("__szb") - F.lit(1e-9))
        )
        .filter(overlap_ub >= alpha)
        .select("id_a", "id_b")
        .distinct()
    )


def simhash(
    tokens_exploded: DataFrame,
    id_col: str,
    token_col: str,
    hash_expr: Column | None = None,
) -> DataFrame:
    """64-bit SimHash per document from exploded tokens.

    For each bit j, sum +1/-1 according to bit j of the token hash; the
    fingerprint sets bit j when the sum is positive. 64 conditional sums in
    one aggregation — no UDFs, no per-row Python.

    ``hash_expr`` overrides the token hash (default ``xxhash64``, the fast
    JVM path). A cross-engine hash (e.g. md5-derived) makes the fingerprint
    value-checkable against another SQL engine at the cost of hash speed.
    """
    h = hash_expr if hash_expr is not None else F.xxhash64(F.col(token_col))
    sums = [
        F.sum(
            F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(64)
    ]
    agg = tokens_exploded.groupBy(id_col).agg(*sums)
    fingerprint = None
    for j in range(64):
        bit = F.when(F.col(f"b{j}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, j)
        fingerprint = term if fingerprint is None else fingerprint.bitwiseXOR(term)
    return agg.select(F.col(id_col), fingerprint.alias("simhash"))


_MERSENNE_31 = (1 << 31) - 1


def minhash_signature_oph_np(
    shingle_sets: DataFrame,
    id_col: str,
    shingles_col: str = "shingles",
    n_hashes: int = 128,
) -> DataFrame:
    """Map-only OPH MinHash over pre-hashed (int64) shingles.

    One-Permutation Hashing: each shingle's hash picks a bin (the one
    permutation split into n ranges) and the per-bin minimum forms the
    sketch — O(shingles) work, not O(shingles × n) (Li, Owen & Zhang
    2012). An empty bin borrows from the circularly-next non-empty bin,
    offset-encoded by the distance (rotation densification, Shrivastava
    2014); a shared sentinel for empty bins would be doc-independent, so
    sparse docs would collide in bands en masse. Computed per document
    inside an Arrow batch: a per-doc-local computation needs ZERO
    shuffles. The bin is taken from the logical (unsigned) top bits and
    the value from the low 31 bits of the already-hashed shingle, so no
    re-hash either, and the offsets cannot overflow ANSI-mode bigint
    arithmetic. Docs with empty shingle sets produce no signature row:
    an all-empty sketch would put every such doc into one shared bucket
    in every band and blow the band self-join up quadratically.
    """
    import numpy as np

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            ids, sigs = [], []
            for doc_id, arr in zip(pdf[id_col], pdf[shingles_col]):
                h = np.asarray(arr, dtype=np.int64)
                if h.size == 0:
                    continue
                bins = ((h.view(np.uint64) >> np.uint64(33)).astype(np.int64)
                        % n_hashes)
                vals = h & _MERSENNE_31
                order = np.lexsort((vals, bins))
                b_sorted, v_sorted = bins[order], vals[order]
                present, first = np.unique(b_sorted, return_index=True)
                mins = v_sorted[first]  # per-bin minima, bins ascending
                # rotation densification: bin i borrows from the circularly
                # next non-empty bin, offset-encoded by the distance
                i = np.arange(n_hashes)
                nxt = np.searchsorted(present, i)
                wrap = nxt == present.size
                nxt[wrap] = 0
                dist = (present[nxt] - i) % n_hashes
                sig = mins[nxt] + dist * np.int64(1 << 31)
                ids.append(doc_id)
                sigs.append(sig.tolist())
            if ids:  # an empty frame's float64 columns can't cast to the
                yield pd.DataFrame({id_col: ids, "sig": sigs})  # arrow schema

    return shingle_sets.mapInPandas(gen, f"{id_col} long, sig array<long>")


def signature_band_buckets(
    signatures: DataFrame,
    id_col: str,
    n_hashes: int = 128,
    n_bands: int = 32,
) -> DataFrame:
    """Exploded banded-LSH bucket table: (id, band, bucket) — one row per
    (doc, band), bucket = xxhash64 of that band's signature slice. The
    shared primitive behind the self-join candidate generator below and the
    persisted admission index (`operators/dedup_index.py`).

    The band array is ONE ``F.expr`` SQL fragment rather than ``n_bands``
    Column-built structs: the Column form cost ~130 py4j round trips plus a
    wide eager analysis per build (~0.3 s of driver time per invocation,
    round-13 profile) — parsed JVM-side into the identical Catalyst nodes
    (``xxhash64`` seed 42, same ``slice`` bounds; value-identity pinned by
    ``tests/test_extensions.py::test_band_buckets_expr_matches_column_form``).
    """
    rows = n_hashes // n_bands
    structs = ", ".join(
        f"struct({b} AS band, "
        f"xxhash64(slice(sig, {b * rows + 1}, {rows})) AS bucket)"
        for b in range(n_bands)
    )
    return signatures.select(
        F.col(id_col), F.expr(f"explode(array({structs})) AS bb")
    ).select(
        id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def lsh_candidate_pairs_from_array(
    signatures: DataFrame,
    id_col: str,
    n_hashes: int = 128,
    n_bands: int = 32,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Banded LSH over an array-form signature (see :func:`minhash_signature_oph_np`).

    ``max_bucket_size`` guards the 100 TB failure mode of banded LSH: one
    boilerplate-heavy ``(band, bucket)`` shared by k documents self-joins
    into k² candidate pairs — a single hot bucket with 10⁶ members would
    emit 10¹² pairs. Capping drops buckets larger than the bound *before*
    the self-join (one extra narrow aggregation over the exploded band
    table). Recall cost is small by construction: a true near-dup pair
    (Jaccard ≥ threshold) collides in many of the ``n_bands`` bands, so
    losing its hottest shared bucket still leaves the other collisions;
    buckets that big are boilerplate clusters, not near-dup families.
    Default ``None`` preserves exact parity with the all-candidates oracle.
    """
    # materialize ONCE, before the cap and the self-join: the cap's size
    # aggregation and its anti-join, and then both join sides, each read
    # the band table — left lazy, every read re-derives it and, when the
    # caller hands an unpersisted signature frame (the common shape), the
    # full Python OPH signature pass from source. Measured at the sf10
    # replica: 29.2 s → ~12 s for the candidate stage when the self-join
    # sides stopped re-deriving it; checkpointing before the cap rather
    # than after it then left one OPH (MapInPandas) stage per curation run
    # instead of two (PERFORMANCE.md "Linear shingling"). Default is
    # localCheckpoint, not persist: no unpersist hook exists after the
    # return (same discipline as dedup_index's batch shingles), and the
    # table is narrow — (id, band, bucket), three longs per row.
    # Preemptible clusters flip the seam's session conf to persist
    # (functions/materialize.py).
    exploded = materialize(
        signature_band_buckets(signatures, id_col, n_hashes, n_bands)
    )
    exploded = cap_hot_buckets(exploded, max_bucket_size)
    a = exploded.withColumnRenamed(id_col, "id_a")
    b = exploded.withColumnRenamed(id_col, "id_b")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
