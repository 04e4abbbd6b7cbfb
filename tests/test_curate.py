"""End-to-end corpus curation pipeline: attrition, determinism, layout."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from tidb_large_table_compare_spark.plans.curate import curate_corpus
from tidb_large_table_compare_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _corpus_with_dups(spark):
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    exact_copies = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    near_copies = docs.filter(F.col("doc_id") % 10 == 3).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" xtra xtra")).alias("text"),
    )
    return docs.unionByName(exact_copies).unionByName(near_copies)


def test_curate_corpus_end_to_end(spark, tmp_path):
    docs = _corpus_with_dups(spark)
    manifest = curate_corpus(spark, docs, str(tmp_path / "curated"))

    st = manifest["stages"]
    n_exact_copies = docs.groupBy("text").count().filter("count > 1").count()
    # every injected exact copy is dropped, nothing else at that stage
    assert st["after_exact_dedup"] == st["input"] - n_exact_copies
    # near-dup stage removes at least the injected near-copies' duplicates
    assert st["after_neardup_dedup"] < st["after_exact_dedup"]
    assert st["after_quality_filter"] <= st["after_neardup_dedup"]
    # split totals account for every surviving doc
    assert (
        sum(s["n_docs"] for s in manifest["splits"].values())
        == st["after_quality_filter"]
    )

    # written corpus layout: partitioned by split, packing columns present
    out = spark.read.parquet(manifest["corpus_path"])
    assert {"doc_id", "n_toks", "start_tok", "first_chunk", "split"} <= set(out.columns)
    # packing invariant per split: start_tok is the running sum of n_toks
    for split in manifest["splits"]:
        rows = sorted(
            (r.doc_id, r.n_toks, r.start_tok)
            for r in out.filter(F.col("split") == split).collect()
        )
        running = 0
        for _, n_toks, start in rows:
            assert start == running
            running += n_toks

    # manifest persisted and loadable
    on_disk = json.loads((tmp_path / "curated" / "manifest.json").read_text())
    assert on_disk["stages"] == st


def test_curate_manifest_split_counts_match_written_corpus(spark, tmp_path):
    """The manifest's per-split n_docs and n_tokens ride an observe() on the
    corpus write; they must equal a groupBy of what was written."""
    manifest = curate_corpus(
        spark, _corpus_with_dups(spark), str(tmp_path / "curated"), val_permille=300
    )
    written = {
        r["split"]: {"n_docs": r["n_docs"], "n_tokens": r["n_tokens"]}
        for r in spark.read.parquet(manifest["corpus_path"])
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("n_tokens"),
        )
        .collect()
    }
    assert set(written) == {"train", "val"}
    assert manifest["splits"] == written


def test_curate_pipeline_job_count_bounded(spark, tmp_path):
    """Stage counts ride df.observe() on jobs the pipeline runs anyway; the
    eager input/exact-dedup/decontamination count() jobs, the candidate-pair
    count, connected_components' separate size probe and the post-write
    read-back of the per-split counts are gone. Measured at this fixture
    (AQE splits actions into per-exchange jobs): 17 jobs, 18 when it is
    the session's first curation, against 23-24 with the pair count, the
    probe and the read-back. The cap fails if a dedicated count or a
    second signature pass creeps back in."""
    docs = _corpus_with_dups(spark)
    sc = spark.sparkContext
    sc.setJobGroup("curate-jobcount", "curate job-count bound")
    try:
        curate_corpus(spark, docs, str(tmp_path / "curated"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("curate-jobcount"))
    assert 0 < n_jobs <= 18, f"curation pipeline ran {n_jobs} jobs (cap 18)"


def test_curate_corpus_is_deterministic(spark, tmp_path):
    docs = _corpus_with_dups(spark)
    m1 = curate_corpus(spark, docs, str(tmp_path / "a"))
    m2 = curate_corpus(spark, docs, str(tmp_path / "b"))
    assert m1["stages"] == m2["stages"]
    assert m1["splits"] == m2["splits"]
    ids1 = sorted(r.doc_id for r in spark.read.parquet(m1["corpus_path"]).collect())
    ids2 = sorted(r.doc_id for r in spark.read.parquet(m2["corpus_path"]).collect())
    assert ids1 == ids2


def test_curate_cli_end_to_end(spark, tmp_path):
    """The CLI wrapper: reads parquet, writes the curated corpus + manifest,
    prints the manifest JSON, exits 0."""
    import json as _json

    from tidb_large_table_compare_spark import curate_cli

    src = str(tmp_path / "docs.parquet")
    _corpus_with_dups(spark).write.parquet(src)
    out_dir = str(tmp_path / "curated")

    rc = curate_cli.main(["--input", src, "--out", out_dir])
    assert rc == 0
    manifest = _json.loads((tmp_path / "curated" / "manifest.json").read_text())
    assert manifest["stages"]["after_quality_filter"] > 0
    assert (tmp_path / "curated" / "corpus").exists()


def test_curate_decontamination_drops_benchmark_overlap(spark, tmp_path):
    """Docs sharing shingles with the benchmark probe must not survive."""
    docs = _corpus_with_dups(spark)
    benchmark = (
        load_table(spark, SF, "documents")
        .filter(F.col("doc_id") % 50 == 0)
        .select("text")
    )
    contaminated_ids = {
        r.doc_id
        for r in load_table(spark, SF, "documents")
        .filter(F.col("doc_id") % 50 == 0)
        .select("doc_id")
        .collect()
    }
    manifest = curate_corpus(
        spark, docs, str(tmp_path / "curated"), benchmark=benchmark
    )
    st = manifest["stages"]
    assert st["after_decontamination"] < st["after_neardup_dedup"]
    out_ids = {
        r.doc_id for r in spark.read.parquet(manifest["corpus_path"]).collect()
    }
    assert out_ids.isdisjoint(contaminated_ids)


def test_curate_sharded_packing_same_corpus_and_invariant(spark, tmp_path):
    """pack_shards > 1 must keep the corpus membership identical to the
    single-window layout (packing is a layout choice, not a filter) and
    preserve the running-sum invariant within every (split, shard) window,
    with shard-offset chunk ids."""
    docs = _corpus_with_dups(spark)
    m1 = curate_corpus(spark, docs, str(tmp_path / "flat"))
    m8 = curate_corpus(spark, docs, str(tmp_path / "sharded"), pack_shards=8)
    assert m1["stages"] == m8["stages"]
    assert m8["params"]["pack_shards"] == 8

    flat = spark.read.parquet(m1["corpus_path"])
    sharded = spark.read.parquet(m8["corpus_path"])
    assert {r.doc_id for r in flat.select("doc_id").collect()} == {
        r.doc_id for r in sharded.select("doc_id").collect()
    }

    # per-(split, shard-of-chunk) running-sum invariant; shard = chunk >> 32
    rows = sorted(
        (r.split, r.first_chunk >> 32, r.doc_id, r.n_toks, r.start_tok)
        for r in sharded.collect()
    )
    running: dict = {}
    for split, shard, _doc, n_toks, start in rows:
        assert start == running.get((split, shard), 0)
        running[(split, shard)] = start + n_toks
    # more than one shard actually materialized
    assert len({s for _, s, _, _, _ in rows}) > 1


def test_curate_cli_build_index_and_admit(spark, tmp_path, capsys):
    """The incremental-admission workflow through the CLI: build the index
    over a standing corpus, then admit a batch containing one near-copy and
    one novel doc — the printed manifest accounts for every batch doc and
    the pairs land in parquet."""
    import json as _json

    from tidb_large_table_compare_spark import curate_cli

    base_text = "some standing corpus document with plenty of words here " * 6
    corpus = spark.createDataFrame(
        [(1, base_text), (2, "an entirely different standing document " * 7)],
        "doc_id bigint, text string",
    )
    src = str(tmp_path / "corpus.parquet")
    corpus.write.parquet(src)
    idx = str(tmp_path / "ndidx")

    rc = curate_cli.main(
        ["--mode", "build-index", "--input", src, "--index", idx, "--out", idx]
    )
    assert rc == 0
    built = _json.loads(capsys.readouterr().out)
    assert built["n_indexed"] == 2

    batch = spark.createDataFrame(
        [(101, base_text + "extra tail"), (102, "novel arrival nothing alike " * 8)],
        "doc_id bigint, text string",
    )
    bsrc = str(tmp_path / "batch.parquet")
    batch.write.parquet(bsrc)
    pairs_out = str(tmp_path / "pairs")

    rc = curate_cli.main(
        ["--mode", "admit", "--input", bsrc, "--index", idx,
         "--out", pairs_out, "--jaccard", "0.5"]
    )
    assert rc == 0
    admitted = _json.loads(capsys.readouterr().out)
    assert admitted["n_batch"] == 2
    assert admitted["n_batch_docs_with_neardup"] == 1
    assert admitted["n_clean_admissions"] == 1
    rows = spark.read.parquet(pairs_out).collect()
    assert {(r.id_a, r.id_b) for r in rows} == {(1, 101)}


def test_curate_cli_append_index_mode(spark, tmp_path, capsys):
    """The CLI covers the whole admission lifecycle: after append-index, a
    re-admit of a near-copy of the appended doc finds it."""
    import json as _json

    from tidb_large_table_compare_spark import curate_cli

    corpus = spark.createDataFrame(
        [(1, "standing corpus base document with plenty of words " * 6)],
        "doc_id bigint, text string",
    )
    src = str(tmp_path / "c.parquet")
    corpus.write.parquet(src)
    idx = str(tmp_path / "idx")
    assert curate_cli.main(["--mode", "build-index", "--input", src,
                            "--index", idx, "--out", idx]) == 0
    capsys.readouterr()

    day1_text = "newly admitted document about something else entirely " * 6
    spark.createDataFrame(
        [(101, day1_text)], "doc_id bigint, text string"
    ).write.parquet(str(tmp_path / "d1.parquet"))
    assert curate_cli.main(["--mode", "append-index",
                            "--input", str(tmp_path / "d1.parquet"),
                            "--index", idx, "--out", idx]) == 0
    appended = _json.loads(capsys.readouterr().out)
    assert appended["n_appended"] == 1 and appended["n_indexed"] == 2

    spark.createDataFrame(
        [(201, day1_text + "tail")], "doc_id bigint, text string"
    ).write.parquet(str(tmp_path / "d2.parquet"))
    assert curate_cli.main(["--mode", "admit",
                            "--input", str(tmp_path / "d2.parquet"),
                            "--index", idx, "--out", str(tmp_path / "pairs"),
                            "--jaccard", "0.5"]) == 0
    admitted = _json.loads(capsys.readouterr().out)
    assert admitted["n_batch_docs_with_neardup"] == 1


def test_curate_cli_compact_index_mode(spark, tmp_path, capsys):
    """compact-index needs no --input/--out: it rewrites the index in place
    (dup appends merged, file counts reported) and admits identically after."""
    import json as _json

    from tidb_large_table_compare_spark import curate_cli

    corpus = spark.createDataFrame(
        [(1, "standing corpus base document with plenty of words " * 6)],
        "doc_id bigint, text string",
    )
    src = str(tmp_path / "c.parquet")
    corpus.write.parquet(src)
    idx = str(tmp_path / "idx")
    assert curate_cli.main(["--mode", "build-index", "--input", src,
                            "--index", idx, "--out", idx]) == 0
    batch = str(tmp_path / "d1.parquet")
    spark.createDataFrame(
        [(101, "newly admitted document about something else entirely " * 6)],
        "doc_id bigint, text string",
    ).write.parquet(batch)
    assert curate_cli.main(["--mode", "append-index", "--input", batch,
                            "--index", idx, "--out", idx]) == 0
    assert curate_cli.main(["--mode", "append-index", "--input", batch,
                            "--index", idx, "--out", idx]) == 0  # retry dup
    capsys.readouterr()

    assert curate_cli.main(["--mode", "compact-index", "--index", idx]) == 0
    stats = _json.loads(capsys.readouterr().out)
    assert stats["mode"] == "compact-index"
    assert stats["docs"]["rows"] == 2  # 1 corpus + 1 batch; retry dedup'd
    assert stats["docs"]["files_after"] <= stats["docs"]["files_before"]

    spark.createDataFrame(
        [(201, "newly admitted document about something else entirely " * 6 + "tail")],
        "doc_id bigint, text string",
    ).write.parquet(str(tmp_path / "d2.parquet"))
    assert curate_cli.main(["--mode", "admit",
                            "--input", str(tmp_path / "d2.parquet"),
                            "--index", idx, "--out", str(tmp_path / "pairs"),
                            "--jaccard", "0.5"]) == 0
    admitted = _json.loads(capsys.readouterr().out)
    assert admitted["n_batch_docs_with_neardup"] == 1


def test_observed_counts_latch_before_read(spark, tmp_path, monkeypatch):
    """Invariant behind `observed_count`'s thread+timeout fallback (r10
    verdict, minor #3): by the time the pipeline reads any stage metric,
    the action carrying that Observation has already run, so `obs.get`
    returns from latched metrics — the recompute fallback must never fire
    on the pipeline's own action ordering. A reorder that parks an
    observed node behind a cache (metrics never surfacing) fails here
    loudly instead of silently costing one extra count job per stage."""
    import threading

    from tidb_large_table_compare_spark.plans import curate as C

    reads = {"n": 0}

    def strict_observed_count(obs, metric, recount):
        box = {}

        def _grab():
            box["v"] = int(obs.get[metric])

        t = threading.Thread(target=_grab, daemon=True)
        t.start()
        t.join(15.0)  # latched metrics return in ms; 15 s = hung, not slow
        assert "v" in box, (
            "observation metrics not latched before the pipeline read them "
            "— an action was reordered or cached away"
        )
        reads["n"] += 1
        return box["v"]

    monkeypatch.setattr(C, "observed_count", strict_observed_count)
    docs = _corpus_with_dups(spark)
    manifest = curate_corpus(spark, docs, str(tmp_path / "curated"))
    assert reads["n"] >= 3  # the stage counters actually went through it
    assert manifest["stages"]["input"] == docs.count()
