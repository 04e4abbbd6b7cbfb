"""Embedding similarity search — BASELINE.json extension (array<float> column).

Cross-engine determinism trick: components are quantized to integers
(``round(x * 1e6)`` as bigint) before any arithmetic, so dot products and
norms are *exact* in both Spark and the DuckDB oracle; the final cosine is a
double computed from identical integers → identical bits → hash-stable.

Scale design:
- brute-force top-k: the query set is broadcast, each executor scans its
  partition of the corpus and emits pairs; the only shuffle is the final
  per-query top-k (rows ∝ queries × corpus — exact but quadratic; the
  baseline path for small query sets);
- sign-LSH bucketing: a deterministic coarse signature (component signs)
  prunes the pair space before the exact cosine — the 100 TB path, where the
  join key is (label, sign-bits) and only same-bucket pairs are scored.

Column expressions are built-ins (`transform`/`zip_with`/`aggregate`); the
one Python surface is :func:`topk_cells` — an Arrow-batched numpy matmul for
the broadcast-argmax-over-centroids step, where a dense integer GEMM beats
per-element Catalyst higher-order functions by ~10× while producing
bit-identical scores (int64 dots are exact below 2^53; the float64 cosine
follows the same IEEE operation order as the SQL expression).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import window as W

from tidb_large_table_compare_spark.functions.localframe import local_frame
from tidb_large_table_compare_spark.functions.materialize import materialize

__all__ = [
    "quantize", "dot_q", "norm_q", "cosine_q", "brute_force_topk",
    "sign_bucket", "band_ids", "topk_cells",
]

_SCALE = 1_000_000


def quantize(vec: Column) -> Column:
    """float array → exact bigint array (×1e6, rounded)."""
    return F.transform(vec, lambda x: F.round(x.cast("double") * _SCALE).cast("long"))


def dot_q(a: Column, b: Column) -> Column:
    """Exact integer dot product of two quantized vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def norm_q(a: Column) -> Column:
    return F.sqrt(dot_q(a, a).cast("double"))


def cosine_q(a: Column, b: Column) -> Column:
    """Cosine from quantized vectors — bit-identical across engines."""
    return dot_q(a, b).cast("double") / (norm_q(a) * norm_q(b))


def topk_cells(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[tuple[int, list[int]]],
    k: int = 1,
    metric: str = "cosine",
    out_col: str = "cell",
) -> DataFrame:
    """Nearest-``k`` centroids per vector via an Arrow-batched numpy GEMM.

    The centroid set is tiny driver-side state (k-means/IVF keep it that way
    by construction: O(cells × dims)); every executor batch computes
    ``V @ C.T`` — through the float64 BLAS GEMM when every partial sum
    provably fits float64's exact-integer range (4·d·max² < 2^53, true for
    ~1.1e6-bounded quantized components up to ~1,800 dims: the result is
    then the IDENTICAL integers in any summation order), falling back to
    the exact-but-BLAS-less int64 loop beyond the gate — then ranks per
    row. Scores match the
    SQL formulation bit-for-bit:

    - cosine: float64 ``dot / (sqrt(vv) * sqrt(cc))``, the identical IEEE
      operation order as :func:`cosine_q` and the DuckDB oracle;
    - l2: exact integer ``vv + cc - 2*dot`` (== sum((x-y)^2)).

    Ties break toward the smallest centroid id: centroids are sorted by id
    and the per-row argsort is stable. Output: one row per (vector, ranked
    cell) — ``(id_col, vec_col, out_col)``.
    """
    import numpy as np

    rows = sorted(centroids, key=lambda r: r[0])
    cent_ids = np.array([r[0] for r in rows], dtype=np.int64)
    C = np.stack([np.asarray(r[1], dtype=np.int64) for r in rows])
    cc = (C * C).sum(axis=1)
    cnorm = np.sqrt(cc.astype(np.float64))
    if metric not in ("cosine", "l2"):
        raise ValueError(f"unknown metric {metric!r}")

    schema = f"{id_col} long, {vec_col} array<long>, {out_col} long"

    C64 = C.astype(np.float64)
    c_absmax = int(np.abs(C).max()) if C.size else 0

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack([np.asarray(v, dtype=np.int64) for v in pdf[vec_col]])
            # numpy's int64 matmul has no BLAS kernel (it is a naive loop —
            # the dominant cost of this stage, profiled at the sf10
            # replica). When every partial sum provably fits in float64's
            # exact-integer range (4·d·max², covering dot, vv+cc−2·dot and
            # every prefix, < 2^53), the float64 BLAS GEMM returns the
            # IDENTICAL integers regardless of summation order, so the
            # exactness contract is preserved bit-for-bit. Quantized
            # components are ~1.1e6, so the gate holds up to ~1,800 dims;
            # wider/larger inputs keep the int64 loop (itself exact only
            # within int64's own d·max² range — the ×1e6 quantization
            # stays orders of magnitude inside both bounds).
            d = V.shape[1] if V.ndim == 2 else 0
            absmax = max(int(np.abs(V).max()) if V.size else 0, c_absmax)
            blas_exact = 4 * d * absmax * absmax < 2**53
            dots = (
                V.astype(np.float64) @ C64.T if blas_exact else V @ C.T
            )
            if metric == "cosine":
                vnorm = np.sqrt((V * V).sum(axis=1).astype(np.float64))
                scores = dots.astype(np.float64) / (
                    vnorm[:, None] * cnorm[None, :]
                )
                order = np.argsort(-scores, axis=1, kind="stable")[:, :k]
            else:
                # inputs inside the gate: float64 arithmetic on exact
                # integers, identical to int64; outside it, dots stayed
                # int64 above and so does the distance algebra
                vv = (V * V).sum(axis=1)
                d2 = (
                    vv.astype(np.float64)[:, None]
                    + cc.astype(np.float64)[None, :]
                    - 2 * dots
                    if blas_exact
                    else vv[:, None] + cc[None, :] - 2 * dots
                )
                order = np.argsort(d2, axis=1, kind="stable")[:, :k]
            n, kk = order.shape
            idx = np.repeat(np.arange(n), kk)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy()[idx],
                    vec_col: pdf[vec_col].to_numpy()[idx],
                    out_col: cent_ids[order.ravel()],
                }
            )

    return df.mapInPandas(gen, schema)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors per query (self excluded).

    Returns (query_id, neighbor_id, cosine, rank). The query side is
    broadcast — the corpus scan is map-side only.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), quantize(F.col(vec_col)).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), quantize(F.col(vec_col)).alias("cv")
    )
    pairs = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        cosine_q(F.col("qv"), F.col("cv")).alias("cosine"),
    )
    w = W.Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def sign_bucket(vec: Column, n_bits: int = 5) -> Column:
    """Deterministic coarse LSH bucket: sign bits of the first components.

    Identical/near-identical vectors land in the same bucket; the candidate
    join is equi-keyed on (bucket, …) so Spark never materializes the full
    pair space.

    F.get (0-based, null-safe), not element_at: under ANSI mode
    element_at RAISES past the array end, so one sub-``n_bits``-dim vector
    would crash the whole job. A missing component reads as NULL, whose
    comparison is NULL, so its bit deterministically lands in the
    ``otherwise`` 0 branch — short vectors bucket as if their missing
    components were negative.
    """
    bucket = F.lit(0).cast("long")
    for i in range(1, n_bits + 1):
        bit = F.when(F.get(vec, i - 1) >= 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        bucket = bucket + F.shiftleft(bit, i - 1)
    return bucket


def band_ids(vec: Column, n_bands: int = 4, band_bits: int = 16) -> Column:
    """``array<long>`` of per-band sign-bucket ids: band ``b`` packs the
    sign bits of components ``[b*band_bits, (b+1)*band_bits)`` (same
    missing-component-as-negative rule as :func:`sign_bucket`, via the
    null-safe ``F.get``). The banded generalization of the single coarse
    bucket — candidates agree on ALL bits of SOME band, the standard
    hyperplane-LSH OR-of-ANDs construction (here over the component signs
    themselves, which both engines can reproduce bit-for-bit without a
    seeded projection matrix)."""
    bands = []
    for b in range(n_bands):
        bucket = F.lit(0).cast("long")
        for i in range(band_bits):
            bit = F.when(
                F.get(vec, b * band_bits + i) >= 0, F.lit(1).cast("long")
            ).otherwise(F.lit(0).cast("long"))
            bucket = bucket + F.shiftleft(bit, i)
        bands.append(bucket)
    return F.array(*bands)


def bucketed_neardup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    threshold: float = 0.99,
    n_bands: int = 4,
    band_bits: int = 16,
) -> DataFrame:
    """Near-duplicate pairs (cosine ≥ threshold) via BANDED sign-LSH
    blocking: candidates are pairs sharing a (label, band, band-value)
    block for ANY of the ``n_bands`` bands; exact quantized cosine filters
    them. Returns (id_a, id_b, cosine).

    Banding is load-bearing on both axes — the round-10 sf10 rehearsal
    measured the previous single 5-bit bucket at 40× for 10× data:

    - **cost**: with one k-bit bucket the block population is N/2^k at
      FIXED k, so in-block pairing is quadratic in the corpus (2.4 s at
      sf1 → 97 s at sf10, candidates ~600× the true pairs). The default
      4×16 bands give 2^16 values per band — block sizes stay O(1) for
      any realistic corpus, candidate volume tracks the true near-dup
      count (plus the ~2^-16 random-collision floor per band).
    - **recall**: one bucket over the first 5 sign bits MISSES any true
      pair differing in one of those 5 signs (~10%% at a 2%% per-component
      flip rate). OR-of-bands over all 64 components misses only pairs
      differing in every band: (1-(1-p)^16)^4 ≈ 0.6%% at p=0.02.

    Candidate ids travel WITHOUT vector payloads (the band join carries
    two longs per side; vectors re-attach by id afterwards), so the extra
    band fan-out multiplies a narrow shuffle, not the embedding column.
    """
    prepped = corpus.select(
        F.col(id_col).alias("id"),
        F.col(label_col).alias("lbl"),
        quantize(F.col(vec_col)).alias("qv"),
        band_ids(F.col(vec_col), n_bands, band_bits).alias("bands"),
    )
    # materialize once: FOUR downstream derivations (both band-join sides
    # and both vector re-attach sides) otherwise each re-run the scan +
    # quantize + band computation. Interleaved A/B: 16-18 vs 21-27 s at
    # the sf10 replica, 1.3 vs 1.6 s at sf0.1. Default is localCheckpoint
    # (no unpersist hook exists after the return — dedup_index
    # discipline); preemptible clusters flip the seam's session conf to
    # persist (functions/materialize.py for the failure-domain trade).
    prepped = materialize(prepped)
    keyed = prepped.select(
        "id", "lbl", F.posexplode("bands").alias("band", "bval")
    )
    a = keyed.select(F.col("id").alias("id_a"), "lbl", "band", "bval")
    b = keyed.select(F.col("id").alias("id_b"), "lbl", "band", "bval")
    cand = (
        a.join(b, ["lbl", "band", "bval"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    va = prepped.select(F.col("id").alias("id_a"), F.col("qv").alias("qa"))
    vb = prepped.select(F.col("id").alias("id_b"), F.col("qv").alias("qb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", cosine_q(F.col("qa"), F.col("qb")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def ivf_topk(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_mod: int = 100,
    centroid_mod: int = 25,
    n_probe: int = 3,
    k: int = 5,
    centroids: list[tuple[int, list[int]]] | None = None,
    max_cells: int = 1024,
) -> DataFrame:
    """IVF-style ANN: coarse quantize → probe nearest cells → exact top-k.

    The inverted-file structure's coarse quantizer is either caller-supplied
    ``centroids`` — (cell_id, quantized-vector) rows, e.g. from
    :func:`..kmeans.trained_centroids` — or, by default, the ``max_cells``
    SMALLEST corpus ids with ``vec_id % centroid_mod == 0`` (a deterministic
    sampling stand-in that keeps the pipeline oracle-reproducible without
    unrolling the trainer). The cap is load-bearing for scale, not cosmetic:
    without it the sampled quantizer grows ∝ corpus (N/centroid_mod cells),
    which makes the per-vector assignment GEMM effectively QUADRATIC and the
    quantizer collect unbounded — measured at the 2M-vector sf10 replica as
    80k cells and a 17–265 s assignment vs ~1 s with the cap (the same
    bounded quality the trained path gets from a fixed k). Every vector is
    assigned to its nearest centroid; queries probe their ``n_probe``
    nearest cells and rank only those cells' members. At 100 TB the cell
    assignment is a map-side broadcast argmax against O(max_cells × dims)
    driver state and the probe join is equi-keyed on cell id — candidate
    volume ∝ corpus/n_cells × n_probe, never the full corpus per query.
    """
    from tidb_large_table_compare_spark.functions.partitioning import (
        ensure_min_partitions,
    )

    w = W.Window
    # spread single-row-group test inputs so the Arrow GEMM stage
    # parallelizes — size-capped: GEMM is cheap per row, so a tiny vector
    # table must not fan into sub-overhead tasks (no-op on real
    # multi-split corpora)
    prepped = ensure_min_partitions(corpus, bytes_per_partition=128 << 10).select(
        F.col(id_col).alias("id"), quantize(F.col(vec_col)).alias("qv")
    )
    # the inverted file's coarse quantizer is tiny driver-side state by
    # construction (O(max_cells × dims) — orderBy+limit plans as
    # TakeOrderedAndProject, so the collect is bounded BEFORE it reaches
    # the driver); one small collect feeds both the assignment and the
    # probe selection below
    cent_rows = centroids if centroids is not None else [
        (r["id"], r["qv"])
        for r in prepped.filter(F.col("id") % centroid_mod == 0)
        .orderBy("id")
        .limit(max_cells)
        .collect()
    ]
    # nearest-centroid assignment: Arrow-batched numpy argmax (map-side per
    # vector; bit-identical to the SQL cosine, ~10× the HOF throughput)
    assigned = topk_cells(prepped, "id", "qv", cent_rows, k=1, out_col="cell")
    # queries probe their n_probe nearest cells
    queries = prepped.filter(F.col("id") % query_mod == 0).select(
        F.col("id").alias("query_id"), F.col("qv").alias("query_v")
    )
    probes = topk_cells(
        queries, "query_id", "query_v", cent_rows, k=n_probe, out_col="cell"
    )
    # exact ranking within probed cells only
    cands = probes.join(assigned, "cell").filter(F.col("id") != F.col("query_id"))
    ranked = cands.select(
        "query_id",
        F.col("id").alias("neighbor_id"),
        cosine_q(F.col("query_v"), F.col("qv")).alias("cosine"),
    ).withColumn(
        "rank",
        F.row_number().over(
            w.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
        ),
    )
    return ranked.filter(F.col("rank") <= k).select(
        "query_id", "neighbor_id", "cosine", "rank"
    )


def derive_max_cells(corpus: DataFrame, floor: int = 1024) -> int:
    """Auto-size the IVF cell count toward √N — the standard inverted-file
    sizing (probe candidates ∝ N/cells × n_probe, quantizer cost ∝ cells;
    √N balances the two as the corpus grows; see e.g. the FAISS IVF
    guidelines). N comes from the same estimate ladder the comparison
    engine uses (`functions/partitioning.py::estimate_rows`): optimizer plan
    statistics first (zero Spark jobs for parquet scans — file sizes are
    known), one narrow count job as the last resort. Embeddings rows are
    dominated by the quantized vector (8 bytes per component + id/label
    overhead), hence 160 bytes per row for the size-based estimate. √ makes
    the estimate error-tolerant: a 2× row misestimate moves the cell count
    1.4×.

    ``floor`` keeps small corpora on the fixed default (1024): below
    floor² rows the derived value never binds, so driver-SF outputs are
    byte-identical to the fixed-cap path (at those SFs the modulo sample
    yields fewer than ``floor`` candidates and the LIMIT is a no-op).
    """
    import math

    from tidb_large_table_compare_spark.functions.partitioning import (
        estimate_rows,
    )

    rows = estimate_rows(corpus, bytes_per_row=160)
    return max(floor, math.isqrt(max(rows, 0)))


# On-disk IVF artifact schemas — fixed by construction (build_ivf_index
# always writes id/qv[/cell] under these names and types). Passing them
# explicitly on every read-back skips the per-read parquet footer-inference
# JOB (three of them per build+probe lifecycle, round-13 profile); the
# parquet reader still validates the requested schema against each file's
# footer at scan time, so a foreign/corrupt artifact fails loudly.
_CENTROIDS_SCHEMA = "id long, qv array<long>"
_ASSIGNMENTS_SCHEMA = "id long, qv array<long>, cell long"


def build_ivf_index(
    spark: SparkSession,
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_mod: int = 25,
    centroids: list[tuple[int, list[int]]] | None = None,
    max_cells: int | None = None,
) -> None:
    """Persist the IVF structure: build once, probe many (the ANN serving
    shape — the inline :func:`ivf_topk` recomputes assignments per call).

    Writes ``path/centroids`` (the coarse quantizer, tiny by construction)
    and ``path/assignments`` (every corpus vector with its nearest-cell id,
    quantized). The quantizer is caller-supplied ``centroids`` (e.g.
    :func:`..kmeans.trained_centroids`) or the sampling default — the
    ``max_cells`` smallest ids with ``id % centroid_mod == 0``, the same
    bounded rule as :func:`ivf_topk` (an uncapped modulo sample grows
    ∝ corpus and turns the assignment pass quadratic). ``max_cells=None``
    (the default) auto-sizes toward √N via :func:`derive_max_cells` with
    the 1024 floor — the serving shape is built once and probed many
    times, so it should take the IVF-practice cell count instead of the
    fixed differential-entry cap; pass an explicit value to pin the
    quantizer (the oracle-backed registry entries pin 1024 so the DuckDB
    CTE stays byte-identical at every SF). At 100 TB write the
    assignments ``bucketBy(cell)`` so
    probe joins co-locate; the layout here is the plain-parquet equivalent.
    Mirrors the incremental-compare digest snapshots
    (`operators/incremental.py`): a verified pipeline stage turned into a
    reusable on-disk artifact.
    """
    if max_cells is None:
        max_cells = derive_max_cells(corpus)
    from tidb_large_table_compare_spark.functions.partitioning import (
        ensure_min_partitions,
    )

    # same input-parallelism guard as the inline ivf_topk (and the same
    # size cap): a single-row-group corpus otherwise runs the whole
    # assignment GEMM — and the assignments write behind it — as ONE task
    # (profiled round 12: a 500 ms single-task write stage inside the
    # lifecycle entry). No-op on real multi-split corpora.
    prepped = ensure_min_partitions(corpus, bytes_per_partition=128 << 10).select(
        F.col(id_col).alias("id"), quantize(F.col(vec_col)).alias("qv")
    )
    if centroids is not None:
        # the caller's list IS the quantizer — write it for probers, use
        # it directly (no Spark roundtrip just to collect it back)
        cent_rows = [(int(i), list(v)) for i, v in centroids]
        local_frame(
            spark, cent_rows, "id long, qv array<long>"
        ).write.mode("overwrite").parquet(f"{path}/centroids")
    else:
        cents = (
            prepped.filter(F.col("id") % centroid_mod == 0)
            .orderBy("id")
            .limit(max_cells)
        )
        cents.write.mode("overwrite").parquet(f"{path}/centroids")
        # read the tiny written parquet back instead of collect()ing the
        # corpus-scan lineage a second time (same discipline as
        # build_neardup_index's re-read of its written docs/)
        cent_rows = [
            (r["id"], r["qv"])
            for r in spark.read.schema(_CENTROIDS_SCHEMA)
            .parquet(f"{path}/centroids")
            .collect()
        ]
    assigned = topk_cells(prepped, "id", "qv", cent_rows, k=1, out_col="cell")
    assigned.write.mode("overwrite").parquet(f"{path}/assignments")


def ivf_query_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 3,
    k: int = 5,
) -> DataFrame:
    """Probe a persisted IVF index (see :func:`build_ivf_index`) with a
    fresh query set. Same candidate bound as the inline path: per query,
    ``n_probe`` cells' members, never the full corpus."""
    cent_rows = [
        (r["id"], r["qv"])
        for r in spark.read.schema(_CENTROIDS_SCHEMA)
        .parquet(f"{path}/centroids")
        .collect()
    ]
    assigned = spark.read.schema(_ASSIGNMENTS_SCHEMA).parquet(f"{path}/assignments")
    qprep = queries.select(
        F.col(id_col).alias("query_id"), quantize(F.col(vec_col)).alias("query_v")
    )
    probes = topk_cells(
        qprep, "query_id", "query_v", cent_rows, k=n_probe, out_col="cell"
    )
    cands = probes.join(assigned, "cell").filter(F.col("id") != F.col("query_id"))
    ranked = cands.select(
        "query_id",
        F.col("id").alias("neighbor_id"),
        cosine_q(F.col("query_v"), F.col("qv")).alias("cosine"),
    ).withColumn(
        "rank",
        F.row_number().over(
            W.Window.partitionBy("query_id").orderBy(
                F.desc("cosine"), F.asc("neighbor_id")
            )
        ),
    )
    return ranked.filter(F.col("rank") <= k).select(
        "query_id", "neighbor_id", "cosine", "rank"
    )
