"""End-to-end training-corpus curation: the LLM-pipeline analog of the
reference's discover → plan → compare → report lifecycle (SURVEY.md §3).

One call chains the extension operators the registry verifies individually —
exact dedup, MinHash/LSH near-dup cluster resolution, composite quality
filtering, deterministic train/val hash split, concat-and-chunk packing —
and writes the surviving corpus as parquet partitioned by split, plus a
JSON manifest of per-stage attrition (the curation "report").

Every stage is the scale-safe formulation already used by its registry
entry: hash-groupBy exact dedup, banded-LSH candidates (never all-pairs),
label-propagation components over candidate edges only, map-only quality
and split expressions, one running-sum window for packing. The pipeline
adds no new shuffle shapes — it only sequences verified ones.

The attrition manifest is one-pass: stage counts are ``df.observe()``
metrics collected by the jobs the pipeline must run anyway (the exact-dedup
materialization and the corpus write, which also carries the per-split
counts) — no dedicated count() jobs and no read-back of the written
corpus, and the job total is regression-capped in
``tests/test_curate.py::test_curate_pipeline_job_count_bounded``.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from tidb_large_table_compare_spark.functions.materialize import observed_count
from tidb_large_table_compare_spark.operators.clustering import connected_components
from tidb_large_table_compare_spark.operators.dedup import (
    hashed_word_ngrams,
    jaccard_verified_pairs,
    lsh_candidate_pairs_from_array,
    minhash_signature_oph_np,
)
from tidb_large_table_compare_spark.operators.textops import quality_features

__all__ = ["curate_corpus"]


def _quality_keep(text_col: Column) -> Column:
    """Same rule chain as the oracle-checked ``quality_filter_verdicts``."""
    f = quality_features(text_col)
    return (
        (f["n_tokens"] >= 25)
        & (f["n_tokens"] <= 2000)
        & (f["punct_ratio"] <= 0.1)
        & (f["stopword_hits"] > 0)
    )


def curate_corpus(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    *,
    shingle_n: int = 5,
    jaccard_threshold: float = 0.8,
    lsh_max_bucket_size: int | None = 10_000,
    benchmark: DataFrame | None = None,
    contamination_min_shared: int = 2,
    val_permille: int = 100,
    chunk_cap: int = 2048,
    pack_shards: int = 1,
) -> dict:
    """Run the full curation pipeline over ``docs`` (doc_id, text, ...).

    ``benchmark`` (rows with a ``text`` column) enables the decontamination
    stage: any corpus document sharing ≥ ``contamination_min_shared``
    3-gram shingles with the benchmark set is dropped — a bucketed
    equi-join on the shingle, never an all-pairs scan (same shape as the
    oracle-checked ``contamination_check`` registry entry).

    ``pack_shards`` > 1 switches packing to the sharded scale path (the
    oracle-checked ``pack_training_chunks_sharded`` shape): the running-sum
    window partitions by (split, md5-prefix shard) so no window task spans
    a whole split, and chunk ids are shard-offset globally unique. The
    default of 1 keeps the exact single-window layout; at 100 TB set it to
    O(corpus tokens / executor memory).

    Returns the manifest dict (also written to ``out_dir/manifest.json``);
    the curated corpus lands in ``out_dir/corpus`` partitioned by ``split``.
    """
    # Stage counts ride df.observe() metrics on the jobs the pipeline runs
    # anyway (the exact-dedup materialization and the corpus write) —
    # no dedicated count() jobs for input / exact-dedup / decontamination.
    obs_input = Observation()
    obs_exact = Observation()
    obs_neardup = Observation()
    obs_decon = Observation()

    # 1. exact dedup: keep the lowest doc_id per identical text.
    # min(struct(doc_id, ...)) under groupBy(text), NOT a window: the
    # row_number window shuffled FULL rows keyed by the whole document
    # text with no partial aggregation, funneling every copy of a
    # boilerplate text into one sort task — at corpus scale that shuffle
    # is the dominant stage-1 cost. The struct-min compares by doc_id
    # first (unique), so it keeps exactly the same row, but map-side
    # combine collapses duplicates to one survivor per text per task
    # BEFORE the shuffle. (Requires orderable payload columns — no maps —
    # which the documents schema satisfies.)
    other_cols = ["doc_id"] + [c for c in docs.columns if c not in ("doc_id", "text")]
    exact = (
        docs.observe(obs_input, F.count(F.lit(1)).alias("n"))
        .groupBy("text")
        .agg(F.min(F.struct(*other_cols)).alias("__r"))
        .select("text", "__r.*")
        .select(*docs.columns)
        .observe(obs_exact, F.count(F.lit(1)).alias("n"))
    )
    # exact feeds TWO heavy consumers — the shingle/signature chain and the
    # near-dup junction the corpus write hangs off. Left lazy, BOTH re-ran
    # the full scan + groupBy(text) dedup (round-13 profile), and probing
    # its post-shuffle partition count for the spread below executed the
    # aggregation a third time as throwaway .rdd jobs. One eager
    # materialization through the seam bounds the dedup at one execution;
    # the checkpointed frame's partition count is then statically known
    # (RDD-backed), so the spread probe is free. persist() was measured
    # and rejected here: AQE cannot re-plan inside cached subtrees
    # (canChangeCachedPlanOutputPartitioning=false), so the cache
    # materialization ran the agg + spread shuffles uncoalesced — Σjob
    # +1.0 s at sf0.1. (The junction persist below stays: its observe()
    # node appears twice in the decontamination write plan, and the cache
    # boundary is what guarantees the metric cannot double-fire.)
    from tidb_large_table_compare_spark.functions.materialize import materialize
    from tidb_large_table_compare_spark.functions.partitioning import (
        ensure_min_partitions,
    )

    exact = materialize(exact)

    # 2. near-dup: OPH MinHash → banded LSH → exact-Jaccard verify →
    #    connected components → keep each cluster's representative (min id)
    # small single-row-group corpora otherwise serialize the Arrow OPH stage
    # on one core (no-op on real multi-split inputs)
    shingle_sets = ensure_min_partitions(exact).select(
        "doc_id", hashed_word_ngrams("text", shingle_n).alias("shingles")
    ).persist()
    sigs = minhash_signature_oph_np(shingle_sets, "doc_id")
    # the bucket cap guards against boilerplate clusters exploding the
    # candidate self-join quadratically (see lsh_candidate_pairs_from_array)
    cands = lsh_candidate_pairs_from_array(
        sigs, "doc_id", max_bucket_size=lsh_max_bucket_size
    )
    # persisted: above DRIVER_EDGE_THRESHOLD, connected_components reads
    # the pairs twice (its bounded probe, then its edge table)
    pairs = jaccard_verified_pairs(
        cands, shingle_sets, "doc_id", jaccard_threshold
    ).select("id_a", "id_b").persist()
    # the eager materialize(exact) above was the first full-scan action
    # over the observed input/exact nodes, so both metrics have latched
    n_input = observed_count(obs_input, "n", docs.count)
    n_exact = observed_count(obs_exact, "n", exact.count)
    clusters = connected_components(pairs)
    drop = clusters.filter(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias("doc_id")
    )
    # the junction every later stage (decontamination, quality, write) hangs
    # off — persisted so downstream branches don't recompute the dedup chain.
    # Its count rides an observe() on the corpus write (the first action over
    # this frame), like the decontamination count below — the former
    # dedicated count() action cost one full pipeline job per invocation
    # (round 12; the write materializes the persist either way).
    neardup_cached = (
        exact.join(drop, "doc_id", "left_anti")
        .observe(obs_neardup, F.count(F.lit(1)).alias("n"))
        .persist()
    )
    shingle_sets.unpersist()
    pairs.unpersist()

    # 3. decontamination: drop docs whose 3-gram shingles overlap the
    #    benchmark probe (equi-join on the shingle hash — candidates only)
    if benchmark is not None:
        probe = (
            benchmark.select(
                F.explode(hashed_word_ngrams("text", 3)).alias("gram")
            )
            .distinct()
        )
        grams = neardup_cached.select(
            "doc_id", F.explode(hashed_word_ngrams("text", 3)).alias("gram")
        ).distinct()
        contaminated = (
            grams.join(probe, "gram")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("__shared"))
            .filter(F.col("__shared") >= contamination_min_shared)
            .select("doc_id")
        )
        survivors = neardup_cached.join(contaminated, "doc_id", "left_anti")
    else:
        survivors = neardup_cached  # stage is a no-op without a benchmark
    # post-decontamination count observed on the write pass (fires there)
    survivors = survivors.observe(obs_decon, F.count(F.lit(1)).alias("n"))

    # 4. composite quality filter (map-only; its count is derived from the
    # written corpus below — one job instead of an extra pre-write count)
    quality = survivors.filter(_quality_keep(F.col("text")))

    # 5. deterministic content-independent split (md5-prefix hash of doc_id)
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long"),
        F.lit(1000),
    )
    splits = ("train", "val")
    split_col = (
        F.when(bucket < 1000 - val_permille, F.lit(splits[0])).otherwise(
            F.lit(splits[1])
        )
    )
    tagged = quality.withColumn("split", split_col)

    # 6. concat-and-chunk packing within each split — single window per
    #    split when pack_shards == 1 (exact layout), else the sharded scale
    #    path: (split, shard) windows + shard-offset global chunk ids (the
    #    pack_training_chunks_sharded registry shape)
    toks = F.size(F.filter(F.split("text", " "), lambda t: t != ""))
    if pack_shards > 1:
        shard = F.pmod(
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
            ).cast("long"),
            F.lit(pack_shards),
        )
        tagged = tagged.withColumn("__shard", shard)
        w_pack = Window.partitionBy("split", "__shard").orderBy("doc_id").rowsBetween(
            Window.unboundedPreceding, 0
        )
        chunk_id = (
            F.col("__shard") * F.lit(1 << 32)
            + F.floor(F.col("start_tok") / chunk_cap)
        ).cast("long")
    else:
        w_pack = Window.partitionBy("split").orderBy("doc_id").rowsBetween(
            Window.unboundedPreceding, 0
        )
        chunk_id = F.floor(F.col("start_tok") / chunk_cap).cast("long")
    packed = tagged.withColumn("n_toks", toks).withColumn(
        "start_tok", F.sum("n_toks").over(w_pack) - F.col("n_toks")
    ).withColumn("first_chunk", chunk_id).drop("__shard")

    # per-split manifest counts ride the corpus write too: the split column
    # takes the two literal values in ``splits``, so one conditional count
    # and sum per split replaces a read-back of the written corpus (schema
    # inference plus a two-job groupBy)
    split_metrics = [
        m
        for s in splits
        for m in (
            F.count(F.when(F.col("split") == s, 1)).alias(f"{s}_docs"),
            F.sum(F.when(F.col("split") == s, F.col("n_toks"))).alias(f"{s}_tokens"),
        )
    ]
    obs_split = Observation()
    corpus_path = str(Path(out_dir) / "corpus")
    packed.observe(obs_split, *split_metrics).write.mode("overwrite").partitionBy(
        "split"
    ).parquet(corpus_path)

    # the write above is the first action over the observed frames: the
    # packed corpus, the survivors and the near-dup junction they hang off
    per_split = obs_split.get
    split_counts = {
        s: {"n_docs": per_split[f"{s}_docs"], "n_tokens": per_split[f"{s}_tokens"]}
        for s in splits
        if per_split[f"{s}_docs"] > 0
    }
    n_quality = sum(s["n_docs"] for s in split_counts.values())
    n_neardup = observed_count(obs_neardup, "n", neardup_cached.count)
    n_decontaminated = observed_count(obs_decon, "n", survivors.count)
    # dedicated handle: unpersisted regardless of the decontamination branch
    # (rebinding `survivors` must not orphan the cached junction)
    neardup_cached.unpersist()
    manifest = {
        "stages": {
            "input": n_input,
            "after_exact_dedup": n_exact,
            "after_neardup_dedup": n_neardup,
            "after_decontamination": n_decontaminated,
            "after_quality_filter": n_quality,
        },
        "splits": split_counts,
        "params": {
            "shingle_n": shingle_n,
            "jaccard_threshold": jaccard_threshold,
            "lsh_max_bucket_size": lsh_max_bucket_size,
            "decontaminated": benchmark is not None,
            "contamination_min_shared": contamination_min_shared,
            "val_permille": val_permille,
            "chunk_cap": chunk_cap,
            "pack_shards": pack_shards,
        },
        "corpus_path": corpus_path,
    }
    Path(out_dir).mkdir(parents=True, exist_ok=True)
    (Path(out_dir) / "manifest.json").write_text(json.dumps(manifest, indent=2))
    return manifest
