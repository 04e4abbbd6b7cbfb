"""Targeted tests for the LLM-pipeline extension operators (correctness
properties the oracle suite can't express: recall, hamming behavior,
streaming/batch agreement)."""

from __future__ import annotations

from pyspark.sql import functions as F

import pytest

from tidb_large_table_compare_spark.operators.dedup import (
    hashed_word_ngrams,
    lsh_candidate_pairs_from_array,
    minhash_signature_oph_np,
    simhash,
    word_ngrams,
)
from tidb_large_table_compare_spark.registry import QUERIES, _near_dup_corpus
from tests.conftest import SF_SMALL


def test_word_ngrams_short_text_guard(spark):
    df = spark.createDataFrame([("a b",), ("a b c d e",)], "text string")
    out = df.select(F.size(word_ngrams(F.col("text"), 3)).alias("n")).collect()
    assert [r.n for r in out] == [0, 3]


def test_lsh_recall_on_constructed_dups(spark):
    """Every constructed near-dup pair must survive LSH banding in the
    production signature path, hashed shingles → OPH sketch → banded
    candidates (the verified output is oracle-checked elsewhere; this pins
    the recall property)."""
    corpus = _near_dup_corpus(spark, SF_SMALL)
    shingle_sets = corpus.select(
        "doc_id", hashed_word_ngrams("text", 5).alias("shingles")
    )
    sigs = minhash_signature_oph_np(shingle_sets, "doc_id")
    cands = lsh_candidate_pairs_from_array(sigs, "doc_id")
    expected = {
        (r.doc_id, r.doc_id + 100_000)
        for r in corpus.filter(F.col("doc_id") % 10 == 3)
        .filter(F.col("doc_id") < 100_000)
        .select("doc_id")
        .collect()
    }
    got = {(r.id_a, r.id_b) for r in cands.collect()}
    assert expected <= got, f"LSH missed {expected - got}"


def test_simhash_near_vs_far(spark):
    corpus = _near_dup_corpus(spark, SF_SMALL)
    toks = corpus.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    sh = simhash(toks, "doc_id", "token")
    vals = {r.doc_id: r.simhash for r in sh.collect()}

    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    pair_ids = sorted(d for d in vals if d >= 100_000)[:10]
    near = [hamming(vals[d], vals[d - 100_000]) for d in pair_ids]
    far = [hamming(vals[pair_ids[i]], vals[pair_ids[i + 1]]) for i in range(5)]
    assert max(near) <= 12, f"near-dup hamming too high: {near}"
    assert min(far) > max(near), f"no separation: near={near} far={far}"


def test_streaming_matches_batch(spark):
    stream_rows = sorted(
        tuple(r) for r in QUERIES["streaming_hourly_counts"](spark, SF_SMALL).collect()
    )
    batch_rows = sorted(
        tuple(r) for r in QUERIES["hourly_event_counts"](spark, SF_SMALL).collect()
    )
    assert stream_rows == batch_rows


def test_streaming_sessions_match_batch_gap_sensitive(spark):
    """Session counts are GAP-sensitive: a garbled time axis (e.g. timestamps
    silently shrunk 1000×) collapses every user's events into one session
    while gap-insensitive aggregates still pass. Round 2 proved the hazard —
    ``streaming_session_counts`` was the only hash-fail while its sibling
    entries passed on a broken axis — so the batch formulation here is the
    independent lag-and-cumsum sessionization, not the streaming oracle SQL.
    """
    from pyspark.sql import window as W

    from tidb_large_table_compare_spark.sources.tables import load_table
    from tidb_large_table_compare_spark.streaming.events import (
        streaming_session_counts,
    )

    stream = {
        (r.user_id): (r.n_sessions, r.n_events)
        for r in streaming_session_counts(spark, SF_SMALL).collect()
    }

    ev = load_table(spark, SF_SMALL, "events").withColumn(
        "ts_us", F.unix_micros(F.col("ts").cast("timestamp"))
    )
    w = W.Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gap_us = 30 * 60 * 1_000_000
    batch_df = (
        ev.withColumn("prev_us", F.lag("ts_us").over(w))
        .withColumn(
            "new_session",
            (
                F.col("prev_us").isNull()
                | (F.col("ts_us") - F.col("prev_us") > F.lit(gap_us))
            ).cast("int"),
        )
        .groupBy("user_id")
        .agg(
            F.sum("new_session").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    batch = {r.user_id: (r.n_sessions, r.n_events) for r in batch_df.collect()}
    assert stream == batch
    # a real time axis has many sessions per user; the collapsed-axis failure
    # mode yields exactly one
    assert max(n for n, _ in batch.values()) > 1


def test_multimodal_metadata_values(spark):
    out = QUERIES["multimodal_binary_meta"](spark, SF_SMALL)
    row = out.orderBy("doc_id").first()
    assert row.n_bytes > 0 and 0 <= row.head_byte < 256
    assert row.media_format == "raw"


def test_ann_topk_shape(spark):
    out = QUERIES["ann_cosine_topk"](spark, SF_SMALL)
    rows = out.collect()
    per_query = {}
    for r in rows:
        per_query.setdefault(r.query_id, []).append(r.rank)
    for q, ranks in per_query.items():
        assert sorted(ranks) == [1, 2, 3, 4, 5], f"query {q}: {ranks}"
        assert all(-1.0 <= r.cosine <= 1.0000001 for r in rows)


def test_asof_join_preserves_matched_rows_null_payload(spark):
    """When the matched right row's payload is genuinely NULL, the as-of
    join must return that NULL (DuckDB ASOF semantics) — not backfill the
    value from an older right row."""
    from tidb_large_table_compare_spark.operators.asof import asof_join

    left = spark.createDataFrame([("u", 30, "p1")], "user string, t int, lid string")
    right = spark.createDataFrame(
        [("u", 10, "old-value"), ("u", 20, None)],
        "user string, t int, payload string",
    )
    out = asof_join(left, right, on="t", by=["user"], right_cols=["payload"])
    rows = out.collect()
    assert len(rows) == 1
    assert rows[0]["payload_asof"] is None  # matched row (t=20) has NULL


def test_asof_join_no_match_still_null(spark):
    from tidb_large_table_compare_spark.operators.asof import asof_join

    left = spark.createDataFrame([("u", 5, "p1")], "user string, t int, lid string")
    right = spark.createDataFrame([("u", 10, "x")], "user string, t int, payload string")
    out = asof_join(left, right, on="t", by=["user"], right_cols=["payload"])
    assert out.collect()[0]["payload_asof"] is None


def test_ivf_recall_vs_brute_force(spark):
    """The IVF path is the headline ANN design (bench) with brute-force as
    its exact verification twin: recall@k against the exact top-k must stay
    high for the default probe budget."""
    from tidb_large_table_compare_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )
    from tidb_large_table_compare_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    approx = {(r.query_id, r.neighbor_id) for r in ivf_topk(emb, k=5).collect()}
    assert exact, "exact top-k must be non-empty"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"IVF recall@5 collapsed: {recall:.2f}"


def test_ivf_sampled_quantizer_is_bounded(spark):
    """The sampled quantizer must be the ``max_cells`` SMALLEST qualifying
    ids — bounded driver state and a linear (never quadratic) assignment
    pass. With a binding cap, ivf_topk must equal the same call fed those
    centroids explicitly, and the k-means seed must respect the same rule
    (the sf10 rehearsal measured the uncapped modulo sample at 80k cells
    and a 17-265 s assignment — cells grew with the corpus)."""
    from tidb_large_table_compare_spark.operators.kmeans import trained_centroids
    from tidb_large_table_compare_spark.operators.similarity import (
        ivf_topk,
        quantize,
    )
    from tidb_large_table_compare_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    # the explicit-centroid twin: the 4 smallest ids with id % 25 == 0
    expected_cents = [
        (r["id"], r["qv"])
        for r in emb.select(
            F.col("vec_id").alias("id"), quantize(F.col("embedding")).alias("qv")
        )
        .filter(F.col("id") % 25 == 0)
        .orderBy("id")
        .limit(4)
        .collect()
    ]
    assert len(expected_cents) == 4
    capped = sorted(
        (r.query_id, r.rank, r.neighbor_id)
        for r in ivf_topk(emb, max_cells=4).collect()
    )
    explicit = sorted(
        (r.query_id, r.rank, r.neighbor_id)
        for r in ivf_topk(emb, centroids=expected_cents).collect()
    )
    assert capped == explicit and capped

    # the k-means seed obeys the same bound: ≤ max_cells clusters ever,
    # and every cluster id descends from a seed id in the capped set
    seed_ids = {i for i, _ in expected_cents}
    cents = trained_centroids(emb, iterations=2, max_cells=4)
    assert 0 < len(cents) <= 4
    assert {i for i, _ in cents} <= seed_ids


def test_ivf_trained_centroids_recall_at_least_modulo_baseline(spark):
    """k-means → IVF composition: feeding the trainer's centroids into the
    IVF index must not lose recall vs the `id % 25` sampling stand-in (the
    trained quantizer balances cells, so probes cover truer neighborhoods)."""
    from tidb_large_table_compare_spark.operators.kmeans import trained_centroids
    from tidb_large_table_compare_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )
    from tidb_large_table_compare_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    assert exact
    modulo = {(r.query_id, r.neighbor_id) for r in ivf_topk(emb, k=5).collect()}
    cents = trained_centroids(emb, iterations=3)
    trained = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(emb, k=5, centroids=cents).collect()
    }
    recall_modulo = len(exact & modulo) / len(exact)
    recall_trained = len(exact & trained) / len(exact)
    assert recall_trained >= recall_modulo, (
        f"trained-centroid IVF regressed recall: "
        f"{recall_trained:.2f} < {recall_modulo:.2f}"
    )


def test_hashed_word_ngrams_same_sets(spark):
    """hashed shingles are a bijective image of string shingles (modulo
    2^-64 collisions): same counts, same pairwise overlaps."""
    from tidb_large_table_compare_spark.operators.dedup import hashed_word_ngrams

    df = spark.createDataFrame(
        [("a b c d e",), ("a b c d e extra words here",), ("a b",)], "text string"
    )
    both = df.select(
        F.size(word_ngrams(F.col("text"), 3)).alias("ns"),
        F.size(hashed_word_ngrams("text", 3)).alias("nh"),
    ).collect()
    assert all(r.ns == r.nh for r in both)
    assert [r.nh for r in both] == [3, 6, 0]


def test_lsh_hot_bucket_cap_bounds_candidates(spark):
    """A boilerplate cluster (identical signatures) self-joins quadratically;
    max_bucket_size must drop the hot buckets while distinct near-dup pairs
    elsewhere in the corpus keep their candidates."""
    boiler = [(i, "lorem ipsum dolor sit amet " * 20) for i in range(200)]
    # two genuine near-dup pairs with distinct content
    a1 = " ".join(f"alpha{j}" for j in range(40))
    b1 = " ".join(f"beta{j}" for j in range(40))
    pairs = [
        (1000, a1), (1001, a1 + " tail tail"),
        (2000, b1), (2001, b1 + " tail tail"),
    ]
    docs = spark.createDataFrame(boiler + pairs, "doc_id long, text string")
    shingle_sets = docs.select(
        "doc_id", hashed_word_ngrams("text", 5).alias("shingles")
    ).persist()
    sigs = minhash_signature_oph_np(shingle_sets, "doc_id").persist()

    uncapped = lsh_candidate_pairs_from_array(sigs, "doc_id")
    capped = lsh_candidate_pairs_from_array(sigs, "doc_id", max_bucket_size=50)

    n_uncapped = uncapped.count()
    n_capped = capped.count()
    assert n_uncapped >= 200 * 199 // 2  # quadratic boilerplate blow-up
    assert n_capped < 200                # hot buckets gone
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert {(1000, 1001), (2000, 2001)} <= got  # true pairs survive the cap


def test_ivf_index_persistence_matches_inline(spark, tmp_path):
    """build_ivf_index + ivf_query_index over the persisted artifact must
    reproduce the inline ivf_topk results exactly (same quantizer, same
    tie-breaks), with the index reusable across query calls."""
    from tidb_large_table_compare_spark.operators.similarity import (
        build_ivf_index,
        ivf_query_index,
        ivf_topk,
    )
    from tidb_large_table_compare_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    inline = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in ivf_topk(emb).collect()
    }

    path = str(tmp_path / "ivf")
    build_ivf_index(spark, emb, path)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    from_index = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in ivf_query_index(spark, path, queries).collect()
    }
    assert from_index == inline

    # reuse: a second, different query set probes the same artifact
    second = emb.filter(F.col("vec_id") % 100 == 1)
    out2 = ivf_query_index(spark, path, second, k=3).collect()
    assert len(out2) > 0 and all(r.rank <= 3 for r in out2)


def test_ivf_index_persists_trained_centroids(spark, tmp_path):
    """The k-means → IVF composition survives the persisted-index path:
    build_ivf_index(centroids=trained_centroids(...)) + ivf_query_index
    reproduces the inline trained-quantizer ivf_topk exactly."""
    from tidb_large_table_compare_spark.operators.kmeans import trained_centroids
    from tidb_large_table_compare_spark.operators.similarity import (
        build_ivf_index,
        ivf_query_index,
        ivf_topk,
    )
    from tidb_large_table_compare_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    cents = trained_centroids(emb, iterations=3)
    inline = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in ivf_topk(emb, centroids=cents).collect()
    }

    path = str(tmp_path / "ivf_trained")
    build_ivf_index(spark, emb, path, centroids=cents)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    from_index = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in ivf_query_index(spark, path, queries).collect()
    }
    assert from_index == inline


def test_multimodal_features_feed_similarity_stack(spark):
    """binary payload → Arrow-batched feature vectors → ANN: identical
    payloads must be mutual nearest neighbors at cosine 1.0, and the
    features must compose with brute_force_topk unchanged."""
    from tidb_large_table_compare_spark.operators.multimodal import (
        attach_binary_payload,
        extract_features,
    )
    from tidb_large_table_compare_spark.operators.similarity import brute_force_topk
    from tidb_large_table_compare_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text").limit(50)
    copies = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 500_000).alias("doc_id"), "text"
    )
    corpus = attach_binary_payload(docs.unionByName(copies))
    feats = extract_features(corpus).persist()
    assert feats.schema["embedding"].dataType.simpleString() == "array<float>"

    queries = feats.filter(F.col("doc_id") >= 500_000)
    top1 = brute_force_topk(
        feats, queries, id_col="doc_id", vec_col="embedding", k=1
    )
    got = {(r.query_id, r.neighbor_id, round(r.cosine, 9)) for r in top1.collect()}
    expected = {
        (r.doc_id + 500_000, r.doc_id, 1.0)
        for r in docs.filter(F.col("doc_id") % 10 == 0).collect()
    }
    assert expected <= got, expected - got


def test_connected_components_driver_and_distributed_paths_agree(spark, monkeypatch):
    """The small-graph driver union-find and the distributed label
    propagation are the same operator at two scales — identical output on
    the same edges (chain, clique, singleton-pair, two components)."""
    from tidb_large_table_compare_spark.operators import clustering

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),        # chain -> component 1
         (10, 11), (10, 12), (11, 12),  # clique -> component 10
         (20, 21)],                     # pair  -> component 20
        "id_a bigint, id_b bigint",
    )
    via_driver = {
        (r.node, r.cluster_id) for r in clustering.connected_components(edges).collect()
    }
    monkeypatch.setattr(clustering, "DRIVER_EDGE_THRESHOLD", 0)
    via_dist = {
        (r.node, r.cluster_id) for r in clustering.connected_components(edges).collect()
    }
    expected = {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20),
    }
    assert via_driver == expected
    assert via_dist == expected


def test_connected_components_raises_on_non_convergence(spark, monkeypatch):
    """A dup-chain longer than max_iterations must FAIL, not silently
    return intermediate labels — a split cluster downstream means keeping
    multiple 'canonical' copies of one dup family."""
    import pytest as _pytest

    from tidb_large_table_compare_spark.operators import clustering

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "id_a bigint, id_b bigint"
    )
    monkeypatch.setattr(clustering, "DRIVER_EDGE_THRESHOLD", 0)
    with _pytest.raises(RuntimeError, match="did not converge"):
        clustering.connected_components(edges, max_iterations=3)
    # and the same chain converges when the budget covers the diameter
    got = {
        (r.node, r.cluster_id)
        for r in clustering.connected_components(edges, max_iterations=20).collect()
    }
    assert got == {(i, 0) for i in range(9)}


def test_band_buckets_expr_matches_column_form(spark):
    """The SQL-fragment band table (round-13 construction-cost rewrite)
    must be bit-identical to the Column-built definition of record —
    persisted admission indexes key on these bucket values, so any hash
    or slice-bound drift corrupts index probes silently."""
    from tidb_large_table_compare_spark.operators.dedup import (
        signature_band_buckets,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}x{j}" for j in range(30))) for i in range(40)],
        "doc_id long, text string",
    )
    sigs = minhash_signature_oph_np(
        docs.select(
            "doc_id", hashed_word_ngrams("text", 5).alias("shingles")
        ),
        "doc_id",
    ).persist()
    new = signature_band_buckets(sigs, "doc_id")
    rows = 128 // 32
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(F.slice("sig", b * rows + 1, rows)).alias("bucket"),
            )
            for b in range(32)
        ]
    )
    old = sigs.select(F.col("doc_id"), F.explode(bands).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    assert new.schema == old.schema
    assert new.exceptAll(old).count() == 0 and old.exceptAll(new).count() == 0
    assert new.count() == 40 * 32
    sigs.unpersist()


def test_minhash_from_sets_drops_empty_shingle_sets(spark):
    """Docs with empty shingle arrays must be dropped, not given a shared
    all-empty signature — every empty doc would then share one bucket in
    every band (quadratic pairs)."""
    sets = spark.createDataFrame(
        [(1, [7, 8, 9]), (2, [7, 8, 9]), (3, []), (4, []), (5, [])],
        "doc_id bigint, shingles array<bigint>",
    )
    sigs = minhash_signature_oph_np(sets, "doc_id")
    assert {r.doc_id for r in sigs.select("doc_id").collect()} == {1, 2}
    pairs = {
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs_from_array(sigs, "doc_id").collect()
    }
    assert pairs == {(1, 2)}  # no empty-doc mega-bucket pairs


def test_topk_cells_blas_gate_is_exact(spark):
    """The centroid GEMM's float64-BLAS fast path must rank IDENTICALLY to
    the int64 loop: inside the gate (4·d·max² < 2^53) every partial sum is
    an exactly-representable integer, so both paths compute the same
    numbers; values built to EXCEED the gate must take the int64 fallback
    and still rank correctly. Both regimes in one call set, for both
    metrics — same rows drive a small-component frame (BLAS path) and a
    2^26-component frame: past the gate (4·8·(2^26)² = 2^57 ≥ 2^53 →
    int64 path) yet safely inside int64's own range (d2 ≤ ~2^57), where
    centroid 1 is constructed nearest for ties."""
    from tidb_large_table_compare_spark.operators.similarity import topk_cells

    big = 1 << 26  # past the float64-exact gate, inside int64
    for scale, metric in [(1_000_000, "cosine"), (1_000_000, "l2"),
                          (big, "l2")]:
        rows = [(i, [scale - i - j for j in range(8)]) for i in range(6)]
        df = spark.createDataFrame(rows, "id long, v array<long>")
        cents = [(0, [scale] * 8), (1, [scale - 3] * 8), (2, [-scale] * 8)]
        got = {
            r["id"]: r["cell"]
            for r in topk_cells(df, "id", "v", cents, k=1, metric=metric).collect()
        }
        # exact nearest centroid, recomputed driver-side in python ints
        import math

        def score(v, c):
            dot = sum(a * b for a, b in zip(v, c))
            if metric == "l2":
                return sum((a - b) ** 2 for a, b in zip(v, c))
            return -dot / (
                math.sqrt(sum(a * a for a in v)) * math.sqrt(sum(b * b for b in c))
            )

        want = {
            i: min(cents, key=lambda cr: (score(v, cr[1]), cr[0]))[0]
            for i, v in rows
        }
        assert got == want, f"{metric}@{scale}: {got} != {want}"


def test_sign_bucket_handles_short_vectors(spark):
    """A vector shorter than n_bits must bucket deterministically (missing
    components read as negative), not raise under ANSI mode."""
    from tidb_large_table_compare_spark.operators.similarity import sign_bucket

    df = spark.createDataFrame(
        [(1, [1.0, -1.0]), (2, [1.0, -1.0, 1.0, 1.0, 1.0]), (3, [])],
        "id bigint, v array<double>",
    )
    rows = {r.id: r.b for r in df.select("id", sign_bucket(F.col("v")).alias("b")).collect()}
    assert rows[1] == 0b00001 and rows[2] == 0b11101 and rows[3] == 0


def _length_parity_encoder(payload: bytes) -> list[float]:
    """A toy custom encoder (module-level so cloudpickle ships it cleanly):
    8 dims from byte-length parity and simple byte stats."""
    n = len(payload)
    s = sum(payload[:16]) if n else 0
    return [float(n), float(n % 2), float(n % 3), float(s % 7),
            1.0, float(n % 5), float(s % 11), float(n % 13)]


def test_multimodal_custom_encoder_flows_through_similarity_stack(spark, tmp_path):
    """The encoder-injection seam: a caller-supplied bytes->vector callable
    must replace the byte-histogram stand-in and its output must feed
    brute_force_topk and build_ivf_index unchanged."""
    from tidb_large_table_compare_spark.operators.multimodal import (
        attach_binary_payload,
        extract_features,
    )
    from tidb_large_table_compare_spark.operators.similarity import (
        brute_force_topk,
        build_ivf_index,
        ivf_query_index,
    )
    from tidb_large_table_compare_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text").limit(40)
    corpus = attach_binary_payload(docs)
    feats = extract_features(corpus, encoder=_length_parity_encoder).persist()

    # the custom encoder's output is what actually lands in the column
    sample = feats.limit(5).collect()
    texts = {r.doc_id: r.text for r in docs.limit(40).collect()}
    for r in sample:
        expect = _length_parity_encoder(texts[r.doc_id].encode("utf-8"))
        assert [round(float(x), 5) for x in r.embedding] == [
            round(x, 5) for x in expect
        ]

    # and it composes with both ANN paths without modification
    queries = feats.limit(3)
    top = brute_force_topk(feats, queries, id_col="doc_id", vec_col="embedding", k=2)
    assert top.count() > 0
    path = str(tmp_path / "ivf_custom")
    build_ivf_index(spark, feats, path, id_col="doc_id", vec_col="embedding",
                    centroid_mod=7)
    out = ivf_query_index(spark, path, queries, id_col="doc_id",
                          vec_col="embedding", k=2)
    assert out.count() > 0
    feats.unpersist()


def test_connected_components_result_survives_pairs_unpersist(spark, monkeypatch):
    """The distributed path's result must be lineage-free: callers (the
    curation pipeline) unpersist the candidate-pair frame right after the
    junction is built, and Spark's non-cascading unpersist (SPARK-24596)
    re-registers dependent cache entries UNMATERIALIZED — with
    persist-chained rounds this silently degraded every downstream consumer
    to full-chain recompute (118 s -> 15 s on the 10x rehearsal). Rounds are
    localCheckpoint()ed now, so the result reads stored RDD blocks and has
    no plan dependency on the pairs cache."""
    from tidb_large_table_compare_spark.operators import clustering

    monkeypatch.setattr(clustering, "DRIVER_EDGE_THRESHOLD", 0)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a bigint, id_b bigint"
    ).persist()
    out = clustering.connected_components(pairs)
    pairs.unpersist()
    plan = out._jdf.queryExecution().executedPlan().toString()
    # checkpoint-backed scan, not a recompute through the (gone) pairs cache
    assert "ExistingRDD" in plan, plan
    assert {(r.node, r.cluster_id) for r in out.collect()} == {
        (1, 1), (2, 1), (3, 1), (10, 10), (11, 10)
    }


def test_decode_media_ppm_real_pixels(spark):
    """decode_media parses binary PPM (P6) for real: exact dimensions,
    per-channel means, and a genuine nearest-neighbor thumbnail — all
    through the Arrow-batched mapInPandas path."""
    import numpy as np

    from tidb_large_table_compare_spark.operators.multimodal import (
        decode_media,
        encode_ppm,
    )

    # 2x4 image with distinct channels: R ramps, G constant, B zero
    arr = np.zeros((2, 4, 3), dtype=np.uint8)
    arr[..., 0] = np.arange(8).reshape(2, 4) * 10
    arr[..., 1] = 200
    payload = encode_ppm(arr)
    # header comments must be tolerated
    commented = payload.replace(b"P6\n", b"P6\n# a comment\n", 1)

    df = spark.createDataFrame(
        [(1, bytearray(payload)), (2, bytearray(commented))],
        "doc_id bigint, payload binary",
    )
    rows = {r.doc_id: r for r in decode_media(df, "ppm", thumb_size=2).collect()}
    for r in rows.values():
        assert (r.width, r.height, r.n_channels) == (4, 2, 3)
        assert r.mean_r == float(arr[..., 0].mean())
        assert r.mean_g == 200.0
        assert r.mean_b == 0.0
        assert len(r.thumb) == 4  # 2x2 grayscale, flattened
        # nearest-neighbor at 2x2 picks pixels (0,0),(0,2),(1,0),(1,2)
        gray = arr.mean(axis=2)
        assert r.thumb == [gray[0, 0], gray[0, 2], gray[1, 0], gray[1, 2]]


def _pil_codecs_registered() -> bool:
    # check the PRODUCTION gate (the decoder registry), not a re-probe of
    # PIL importability — the two must never drift apart in tests
    from tidb_large_table_compare_spark.operators.multimodal import _DECODERS

    return "png" in _DECODERS


@pytest.mark.skipif(
    _pil_codecs_registered(),
    reason="jpeg/png decoders registered: no gate error to check",
)
def test_decode_media_compressed_codecs_named_gate(spark):
    """Without Pillow the compressed codecs stay behind the named
    NotImplementedError seam — same gate pattern as the Avro source."""
    from tidb_large_table_compare_spark.operators.multimodal import decode_media

    df = spark.createDataFrame([(1, bytearray(b"x"))], "doc_id bigint, payload binary")
    with pytest.raises(NotImplementedError, match="_DECODERS"):
        decode_media(df, "png")
    with pytest.raises(NotImplementedError, match="codec"):
        decode_media(df, "jpeg")


@pytest.mark.skipif(
    not _pil_codecs_registered(),
    reason="pip install pillow to exercise the jpeg/png decoders "
    "(gate documented in README's environment table)",
)
def test_decode_media_png_jpeg_via_pillow(spark):
    """With Pillow present, jpeg/png register in _DECODERS and run through
    the same Arrow-batched decode_media path: PNG roundtrips losslessly
    (exact channel means), JPEG decodes with correct dimensions."""
    from io import BytesIO

    import numpy as np
    from PIL import Image

    from tidb_large_table_compare_spark.operators.multimodal import decode_media

    arr = np.zeros((4, 6, 3), dtype=np.uint8)
    arr[..., 0] = np.arange(24).reshape(4, 6) * 10
    arr[..., 1] = 90

    def enc(fmt: str) -> bytes:
        buf = BytesIO()
        Image.fromarray(arr, "RGB").save(buf, format=fmt)
        return buf.getvalue()

    df = spark.createDataFrame(
        [(1, bytearray(enc("PNG")))], "doc_id bigint, payload binary"
    )
    r = decode_media(df, "png", thumb_size=2).collect()[0]
    assert (r.width, r.height, r.n_channels) == (6, 4, 3)
    assert r.mean_r == float(arr[..., 0].mean())
    assert r.mean_g == 90.0 and r.mean_b == 0.0

    jdf = spark.createDataFrame(
        [(2, bytearray(enc("JPEG")))], "doc_id bigint, payload binary"
    )
    jr = decode_media(jdf, "jpeg", thumb_size=2).collect()[0]
    assert (jr.width, jr.height) == (6, 4)  # lossy codec: dims only


def test_decode_media_bmp_padding_and_bgr(spark):
    """The BMP decoder honors row padding, bottom-up storage, and BGR
    channel order — the three classic BMP decode mistakes."""
    import struct

    from tidb_large_table_compare_spark.operators.multimodal import decode_media

    # 3x2 image (w=3 → 9 row bytes padded to 12), built by hand:
    # logical top row RGB:  (255,0,0) (0,255,0) (0,0,255)
    # logical bottom row:   (10,20,30) x3
    def bmp_row(pixels):
        raw = b"".join(bytes([b, g, r]) for r, g, b in pixels)  # BGR on disk
        return raw + b"\x00" * (-len(raw) % 4)

    raster = bmp_row([(10, 20, 30)] * 3) + bmp_row(  # bottom row stored first
        [(255, 0, 0), (0, 255, 0), (0, 0, 255)]
    )
    header = b"BM" + struct.pack("<IHHI", 54 + len(raster), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, 3, 2, 1, 24, 0, len(raster), 0, 0, 0, 0)
    payload = header + info + raster

    df = spark.createDataFrame([(7, bytearray(payload))], "doc_id bigint, payload binary")
    r = decode_media(df, "bmp", thumb_size=2).collect()[0]
    assert (r.width, r.height, r.n_channels) == (3, 2, 3)
    # top row has one pure-R, one pure-G, one pure-B pixel; bottom row is
    # (10,20,30)*3 → channel means are exact
    assert r.mean_r == (255 + 0 + 0 + 10 * 3) / 6
    assert r.mean_g == (0 + 255 + 0 + 20 * 3) / 6
    assert r.mean_b == (0 + 0 + 255 + 30 * 3) / 6


def test_decode_media_qoi_through_spark(spark):
    """The QOI decoder runs through the same Arrow-batched decode_media
    path as PPM/BMP: encode a known image, decode on executors, check the
    extracted features exactly."""
    import numpy as np

    from tidb_large_table_compare_spark.operators.multimodal import (
        decode_media,
        encode_qoi,
    )

    arr = np.array(
        [[[255, 0, 0], [0, 255, 0], [0, 0, 255]], [[10, 20, 30]] * 3],
        dtype=np.uint8,
    )
    df = spark.createDataFrame(
        [(11, bytearray(encode_qoi(arr)))], "doc_id bigint, payload binary"
    )
    r = decode_media(df, "qoi", thumb_size=2).collect()[0]
    assert (r.width, r.height, r.n_channels) == (3, 2, 3)
    assert r.mean_r == (255 + 10 * 3) / 6
    assert r.mean_g == (255 + 20 * 3) / 6
    assert r.mean_b == (255 + 30 * 3) / 6


def test_decode_qoi_rgba_chunk_and_index_state():
    """The 0xFF (RGBA) op — which the 3-channel encoder never emits — and
    the alpha-dependent index hashing, exercised by a hand-built stream:
    pixel 1 via RGBA (alpha 7), pixel 2 via RGB, pixel 3 re-referencing
    pixel 1 through QOI_OP_INDEX (its slot hash includes alpha=7)."""
    import numpy as np

    from tidb_large_table_compare_spark.operators.multimodal import _decode_qoi

    p1 = (200, 100, 50, 7)
    slot1 = (p1[0] * 3 + p1[1] * 5 + p1[2] * 7 + p1[3] * 11) % 64
    stream = (
        b"qoif"
        + (3).to_bytes(4, "big")  # width
        + (1).to_bytes(4, "big")  # height
        + bytes([4, 0])  # channels=4, colorspace
        + bytes([0xFF, *p1])  # QOI_OP_RGBA
        + bytes([0xFE, 1, 2, 3])  # QOI_OP_RGB (alpha stays 7)
        + bytes([slot1])  # QOI_OP_INDEX → back to p1's RGB
        + b"\x00" * 7
        + b"\x01"
    )
    out = _decode_qoi(stream)
    assert out.shape == (1, 3, 3)
    assert np.array_equal(
        out[0], np.array([[200, 100, 50], [1, 2, 3], [200, 100, 50]])
    )


def test_decode_media_unknown_format_still_raises(spark):
    import pytest

    from tidb_large_table_compare_spark.operators.multimodal import decode_media

    df = spark.createDataFrame([(1, bytearray(b"x"))], "doc_id bigint, payload binary")
    with pytest.raises(NotImplementedError, match="jpeg"):
        decode_media(df, "jpeg")


def test_decoded_thumbnails_drive_image_retrieval(spark):
    """Multimodal retrieval end-to-end on REAL decoded pixels: a PPM corpus
    is decoded, the nearest-neighbor thumbnails become embeddings, and the
    similarity stack ranks the duplicate image first — the decode → feature
    → ANN composition, no stand-in encoders involved."""
    import numpy as np

    from tidb_large_table_compare_spark.operators.multimodal import (
        decode_media,
        encode_ppm,
    )
    from tidb_large_table_compare_spark.operators.similarity import brute_force_topk

    rng = np.random.RandomState(7)
    images = {i: rng.randint(0, 256, (6, 6, 3)).astype(np.uint8) for i in range(8)}
    images[100] = images[3].copy()  # an exact duplicate of image 3
    df = spark.createDataFrame(
        [(i, bytearray(encode_ppm(arr))) for i, arr in images.items()],
        "doc_id bigint, payload binary",
    )
    decoded = decode_media(df, "ppm", thumb_size=4)
    emb = decoded.select(
        "doc_id", F.expr("transform(thumb, x -> cast(x as float))").alias("embedding")
    )
    corpus = emb.filter(F.col("doc_id") != 100).withColumnRenamed("doc_id", "vec_id")
    queries = emb.filter(F.col("doc_id") == 100).withColumnRenamed("doc_id", "vec_id")
    top = brute_force_topk(corpus, queries, k=1)
    r = top.collect()[0]
    assert (r.neighbor_id, round(r.cosine, 6)) == (3, 1.0)


def test_neardup_index_build_and_admission(spark, tmp_path):
    """Build-once/probe-many admission: a new near-copy of an indexed doc is
    found with its exact Jaccard; a novel doc admits clean. The probe never
    needs the corpus text — only the persisted shingle/band tables."""
    from tidb_large_table_compare_spark.operators.dedup_index import (
        build_neardup_index,
        query_neardup_index,
    )

    base_text = "the quick brown fox jumps over the lazy dog again and again " * 5
    corpus = spark.createDataFrame(
        [(1, base_text), (2, "completely different content about spark engines " * 6)],
        "doc_id bigint, text string",
    )
    path = str(tmp_path / "ndidx")
    build_neardup_index(corpus, path)

    arrivals = spark.createDataFrame(
        [(101, base_text + "tail tail"), (102, "unrelated novel arrival text " * 8)],
        "doc_id bigint, text string",
    )
    pairs = query_neardup_index(spark, path, arrivals, threshold=0.5).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 101)}
    assert 0.5 <= pairs[0].jaccard <= 1.0


def test_neardup_index_build_range_clusters_docs(spark, tmp_path):
    """docs/ must be range-clustered by id even when the input corpus is
    hash-distributed: the probe's verify-scan IN-list pushdown prunes via
    per-file min/max stats, which only help when files cover disjoint id
    ranges (sortWithinPartitions alone would leave every file spanning
    the whole range)."""
    import glob as _glob

    from tidb_large_table_compare_spark.operators.dedup_index import (
        build_neardup_index,
    )

    corpus = spark.createDataFrame(
        [(i, f"word{i} filler text content piece number {i} " * 6)
         for i in range(200)],
        "doc_id bigint, text string",
    ).repartition(4, "text")  # hash-distributed: ids interleaved per split
    path = str(tmp_path / "rangeidx")
    # AQE coalesces this tiny range shuffle to one partition (one file is
    # trivially disjoint) — pin the width so the invariant is observable;
    # AQE's coalescing merges ADJACENT range partitions, so disjointness
    # survives it at real scale
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        build_neardup_index(corpus, path)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        spark.conf.set("spark.sql.shuffle.partitions", parts)

    ranges = []
    for f in _glob.glob(f"{path}/docs/part-*.parquet"):
        ids = [r.doc_id for r in spark.read.parquet(f).collect()]
        if ids:
            ranges.append((min(ids), max(ids)))
    assert len(ranges) >= 2  # the claim needs >1 file to mean anything
    ranges.sort()
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi < lo, f"overlapping id ranges across files: {ranges}"


def test_neardup_index_probe_broadcast_is_conditional(spark, tmp_path, monkeypatch):
    """An oversized admission batch must NOT be force-broadcast: with the
    band-row budget shrunk below the batch size the probe resolves to the
    shuffle join, the plan carries no broadcast of the batch side, and the
    admitted pairs are identical to the broadcast path's."""
    from tidb_large_table_compare_spark.operators import dedup_index
    from tidb_large_table_compare_spark.operators.dedup_index import (
        build_neardup_index,
        query_neardup_index,
    )

    base_text = "the quick brown fox jumps over the lazy dog again and again " * 5
    corpus = spark.createDataFrame(
        [(1, base_text), (2, "completely different content about spark engines " * 6)],
        "doc_id bigint, text string",
    )
    path = str(tmp_path / "bigbatchidx")
    build_neardup_index(corpus, path)
    # arrival batches come from files in production — a file-backed batch
    # has a real Catalyst size estimate for the auto-broadcast decision
    # (an in-memory LogicalRDD estimates unknown→infinite and lands on the
    # safe shuffle side, also asserted below)
    spark.createDataFrame(
        [(101, base_text + "tail tail"), (102, "unrelated novel arrival text " * 8)],
        "doc_id bigint, text string",
    ).write.parquet(str(tmp_path / "arrivals"))
    arrivals = spark.read.parquet(str(tmp_path / "arrivals"))

    # no verify pushdown keeps candidate generation IN the plan so the
    # broadcast-vs-shuffle resolution is visible in the analyzed tree
    monkeypatch.setattr(dedup_index, "VERIFY_PUSHDOWN_MIN_STORE_BYTES", 1 << 62)
    small = query_neardup_index(spark, path, arrivals, threshold=0.5)
    with monkeypatch.context() as m:
        m.setattr(dedup_index, "BROADCAST_MAX_BATCH_BYTES", 1)
        big = query_neardup_index(spark, path, arrivals, threshold=0.5)
    unknown = query_neardup_index(
        spark,
        path,
        spark.createDataFrame([(103, "x")], "doc_id bigint, text string"),
        threshold=0.5,
    )
    # auto-resolution: tiny file-backed batch broadcasts; over-budget and
    # unknown-size batches do not
    assert "ResolvedHint" in small._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in big._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in unknown._jdf.queryExecution().analyzed().toString()
    want = {(1, 101)}
    assert {(r.id_a, r.id_b) for r in small.collect()} == want
    assert {(r.id_a, r.id_b) for r in big.collect()} == want


def test_neardup_index_cap_is_a_build_property(spark, tmp_path):
    """Hot buckets are dropped when the index is BUILT, so every future
    probe is protected: with a boilerplate triple capped out of the index,
    admitting a fourth identical doc yields no candidates at all."""
    from tidb_large_table_compare_spark.operators.dedup_index import (
        build_neardup_index,
        query_neardup_index,
    )

    boiler = "license boilerplate header repeated verbatim in every file " * 4
    corpus = spark.createDataFrame(
        [(i, boiler) for i in range(1, 4)], "doc_id bigint, text string"
    )
    path = str(tmp_path / "capidx")
    build_neardup_index(corpus, path, max_bucket_size=2)
    arrivals = spark.createDataFrame([(99, boiler)], "doc_id bigint, text string")
    assert query_neardup_index(spark, path, arrivals, threshold=0.5).count() == 0


def test_stable_ids_invariant_to_input_layout(spark):
    """The op's core claim: the 0..N-1 assignment depends only on the data,
    not on how the input happens to be partitioned when it arrives —
    rank-within-range-partition + offset equals the global rank under any
    boundary placement."""
    from tidb_large_table_compare_spark.registry import QUERIES

    base = {
        (r.seq_id, r.doc_id)
        for r in QUERIES["stable_sequential_ids"](spark, SF_SMALL).collect()
    }
    n = len(base)
    assert sorted(s for s, _ in base) == list(range(n))  # contiguous 0..N-1

    # same data, radically different incoming layout
    from tidb_large_table_compare_spark.sources import tables as T

    orig = T.load_table

    def skewed_load(spark_, sf_dir, name):
        df = orig(spark_, sf_dir, name)
        return df.repartition(7, "doc_id") if name == "documents" else df

    try:
        T.load_table = skewed_load
        import tidb_large_table_compare_spark.registry as R

        R.load_table = skewed_load
        again = {
            (r.seq_id, r.doc_id)
            for r in QUERIES["stable_sequential_ids"](spark, SF_SMALL).collect()
        }
    finally:
        T.load_table = orig
        R.load_table = orig
    assert again == base


def test_neardup_index_append_closes_the_loop(spark, tmp_path):
    """build → admit → append → the NEXT batch's near-copy of an appended
    doc is caught, proving admissions become part of the standing index."""
    from tidb_large_table_compare_spark.operators.dedup_index import (
        append_to_neardup_index,
        build_neardup_index,
        query_neardup_index,
    )

    corpus = spark.createDataFrame(
        [(1, "original standing corpus document with many words " * 6)],
        "doc_id bigint, text string",
    )
    path = str(tmp_path / "loopidx")
    build_neardup_index(corpus, path)

    day1_text = "a freshly admitted day-one document about engines " * 6
    day1 = spark.createDataFrame([(101, day1_text)], "doc_id bigint, text string")
    assert query_neardup_index(spark, path, day1, threshold=0.5).count() == 0
    append_to_neardup_index(day1, path)

    day2 = spark.createDataFrame(
        [(201, day1_text + "small tail")], "doc_id bigint, text string"
    )
    pairs = query_neardup_index(spark, path, day2, threshold=0.5).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(101, 201)}


def test_neardup_index_compaction(spark, tmp_path):
    """Compaction repays append debt from the index's own tables: exact
    re-appended rows dedup away, cap escapes are re-applied over the merged
    band table, file counts shrink — and probe results are unchanged for
    the surviving (uncapped) content."""
    from tidb_large_table_compare_spark.operators.dedup_index import (
        append_to_neardup_index,
        build_neardup_index,
        compact_neardup_index,
        query_neardup_index,
    )

    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    boiler = "license boilerplate header repeated verbatim in every file " * 4
    corpus = spark.createDataFrame(
        [(1, base), (2, "completely different content about spark engines " * 6)],
        "doc_id bigint, text string",
    )
    path = str(tmp_path / "cidx")
    build_neardup_index(corpus, path, max_bucket_size=2)

    # append debt: a batch, an exact retry of the same batch (dup rows), and
    # three boilerplate docs that grow a bucket past the build-time cap
    batch = spark.createDataFrame([(3, "novel appended doc " * 10)],
                                  "doc_id bigint, text string")
    append_to_neardup_index(batch, path)
    append_to_neardup_index(batch, path)  # retried append → exact dup rows
    boilers = spark.createDataFrame(
        [(i, boiler) for i in range(10, 13)], "doc_id bigint, text string"
    )
    append_to_neardup_index(boilers, path)

    arrivals = spark.createDataFrame(
        [(101, base + "tail tail"), (102, boiler)], "doc_id bigint, text string"
    )
    # pre-compaction: dup rows exist, and the boilerplate bucket (3 members
    # > cap 2) still collides
    docs_before = spark.read.parquet(f"{path}/docs")
    assert docs_before.count() > docs_before.dropDuplicates().count()
    pre = {(r.id_a, r.id_b)
           for r in query_neardup_index(spark, path, arrivals, threshold=0.5).collect()}
    assert (1, 101) in pre and any(b == 102 for _, b in pre)

    stats = compact_neardup_index(spark, path, max_bucket_size=2)
    # dup rows gone; file counts merged down
    docs_after = spark.read.parquet(f"{path}/docs")
    assert docs_after.count() == docs_after.dropDuplicates().count()
    assert docs_after.filter("doc_id = 3").count() == 1
    for sub in ("docs", "bands"):
        assert stats[sub]["files_after"] <= stats[sub]["files_before"]
        assert stats[sub]["files_after"] == 1  # tiny index → one file each
    # cap re-applied: the boilerplate collision is gone, true near-dup stays
    post = {(r.id_a, r.id_b)
            for r in query_neardup_index(spark, path, arrivals, threshold=0.5).collect()}
    assert (1, 101) in post
    assert not any(b == 102 for _, b in post)


def test_profile_table_stats_and_nulls(spark):
    from tidb_large_table_compare_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "a", None), (3, None, 2.5), (4, "b", 2.5)],
        "id bigint, s string, d double",
    )
    prof = {r.column_name: r for r in profile_table(df).collect()}
    assert set(prof) == {"id", "s", "d"}
    assert (prof["id"].n_rows, prof["id"].n_nulls, prof["id"].n_distinct) == (4, 0, 4)
    assert (prof["s"].n_nulls, prof["s"].n_distinct) == (1, 2)
    assert (prof["d"].n_nulls, prof["d"].n_distinct) == (1, 2)
    assert (prof["id"].min_value, prof["id"].max_value) == ("1", "4")
    assert (prof["s"].min_value, prof["s"].max_value) == ("a", "b")

    all_null = spark.createDataFrame([(None,), (None,)], "x string")
    row = profile_table(all_null).collect()[0]
    assert (row.n_rows, row.n_nulls, row.n_distinct) == (2, 2, 0)
    assert row.min_value is None and row.max_value is None

    # HLL scale path: same schema, counts within tolerance on small input
    approx = {r.column_name: r for r in profile_table(df, approx=True).collect()}
    assert approx["id"].n_distinct == 4

    # hostile column names: quotes/backticks/backslashes land in the
    # rendered stack() fragment as a literal AND inside identifiers —
    # both must be escaped (same bug class as quote_name's backtick fix)
    hostile = df.withColumnsRenamed({"s": "it's", "d": "a`b\\c"})
    hprof = {r.column_name: r for r in profile_table(hostile).collect()}
    assert set(hprof) == {"id", "it's", "a`b\\c"}
    assert (hprof["it's"].n_nulls, hprof["a`b\\c"].n_distinct) == (1, 2)

    import pytest as _pytest
    with _pytest.raises(ValueError, match="not in frame"):
        profile_table(df, ["nope"])
    with _pytest.raises(ValueError, match="at least one"):
        profile_table(df, [])


def test_profile_table_is_single_scan(spark):
    """All per-column statistics come from ONE aggregate over one scan —
    the plan must contain exactly one parquet scan node."""
    from tidb_large_table_compare_spark.operators.profile import profile_table

    df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    plan = profile_table(
        df, ["o_orderkey", "o_orderstatus"]
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1


def test_profile_table_approx_is_sketch_only(spark):
    """The approx=True path — the only affordable profile at lake scale —
    must keep the single scan AND drop the Expand node the exact
    per-column COUNT(DISTINCT) plan needs (k row-groups map-side): HLL
    sketches aggregate in fixed-size state with no expansion."""
    from tidb_large_table_compare_spark.operators.profile import profile_table

    df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    cols = ["o_orderkey", "o_orderstatus", "o_custkey"]
    exact = profile_table(df, cols)._jdf.queryExecution().executedPlan().toString()
    approx = profile_table(df, cols, approx=True)
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert "Expand" in exact  # the exact plan's multi-distinct expansion...
    assert "Expand" not in plan  # ...is gone on the sketch path
    assert "approx_count_distinct" in plan


def test_profile_table_map_column_uses_canonical_form(spark):
    from tidb_large_table_compare_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [(1, {"b": "2", "a": "1"}), (2, {"a": "1", "b": "2"}), (3, None)],
        "id bigint, m map<string,string>",
    )
    row = {r.column_name: r for r in profile_table(df).collect()}["m"]
    # the two equal maps (different insertion order) profile as ONE distinct
    # value via the sorted-entry JSON canonical form; NULL map stays a null
    assert (row.n_rows, row.n_nulls, row.n_distinct) == (3, 1, 1)


def test_neardup_index_compaction_heals_interrupted_swap(spark, tmp_path):
    """A crash between the two swap renames leaves the sub-table only under
    .old — the next compaction restores it before proceeding, and the index
    stays fully probeable afterwards."""
    from tidb_large_table_compare_spark.operators.dedup_index import (
        build_neardup_index,
        compact_neardup_index,
        query_neardup_index,
    )

    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    corpus = spark.createDataFrame(
        [(1, base)], "doc_id bigint, text string"
    )
    path = str(tmp_path / "healidx")
    build_neardup_index(corpus, path)

    # simulate the crash window: docs moved aside, canonical path absent,
    # plus a stale half-written side dir
    import os
    os.rename(f"{path}/docs", f"{path}/docs.old")
    os.makedirs(f"{path}/docs.compacting")

    stats = compact_neardup_index(spark, path)
    assert stats["docs"]["rows"] == 1
    assert os.path.isdir(f"{path}/docs")
    assert not os.path.exists(f"{path}/docs.old")
    assert not os.path.exists(f"{path}/docs.compacting")
    arrivals = spark.createDataFrame(
        [(101, base + "tail")], "doc_id bigint, text string"
    )
    assert query_neardup_index(spark, path, arrivals, threshold=0.5).count() == 1


def test_multimodal_stages_tolerate_null_payload(spark):
    """A NULL binary cell is in-contract for a parquet binary column: the
    metadata stage maps it to NULL fields (SQL semantics), the decode /
    frame / feature stages skip it — none of the four may die with a
    mid-stage Python TypeError."""
    from tidb_large_table_compare_spark.operators.multimodal import (
        binary_metadata,
        decode_media,
        extract_features,
        sample_frames,
    )

    docs = spark.createDataFrame(
        [(1, bytearray(b"hello world payload")), (2, None), (3, bytearray(b""))],
        "doc_id bigint, payload binary",
    )
    meta = {r.doc_id: r for r in binary_metadata(docs).collect()}
    assert meta[1].n_bytes == 19 and meta[1].media_format == "raw"
    assert meta[2].n_bytes is None and meta[2].head_byte is None
    assert meta[2].media_format is None
    assert meta[3].n_bytes == 0 and meta[3].head_byte == -1

    frames = sample_frames(docs).collect()
    assert {r.doc_id for r in frames} == {1}  # null and empty yield no frames

    feats = {r.doc_id for r in extract_features(docs).collect()}
    assert feats == {1, 3}  # null skipped; empty encodes to the zero vector

    # decode over a null-only frame: skips, returns empty, never raises
    ppm = spark.createDataFrame([(9, None)], "doc_id bigint, payload binary")
    assert decode_media(ppm, "ppm").count() == 0


def test_parse_summaries_malformed_and_flag_only_reports(spark, tmp_path):
    """One backticked prose line with no '|' fields must degrade to NULL
    counts (not an ANSI element_at crash), and a report with a verdict
    but no parsable data row must still appear with NULL fields (not be
    dropped by the join)."""
    from tidb_large_table_compare_spark.sources.reports import parse_summaries

    d1 = tmp_path / "main_users_20240101_090000"
    d1.mkdir()
    (d1 / "summary.txt").write_text("comparing `users` failed\n")
    d2 = tmp_path / "main_orders_20240102_090000"
    d2.mkdir()
    (d2 / "summary.txt").write_text("+----+\n| TABLE |\n+----+\ncheck pass!!!\n")

    rows = {r.run_ts: r for r in parse_summaries(
        spark, str(tmp_path / "*" / "summary.txt")
    ).collect()}
    assert set(rows) == {"20240101_090000", "20240102_090000"}
    r1 = rows["20240101_090000"]  # malformed data row -> NULL fields
    assert r1.table is None and r1.upcount is None and r1.downcount is None
    r2 = rows["20240102_090000"]  # no data row at all -> flag-only row kept
    assert r2.table is None and r2.upcount is None


def test_prefix_filtered_candidates_complete_vs_naive(spark):
    """prefix_filtered_candidates must be candidate-COMPLETE: verified pairs
    over its candidates are identical to verified pairs over the naive
    every-shared-shingle join. Corpus is adversarial: a hot 3-gram shared
    by every doc (the shape whose d^2 pair blowup stalled the r11 sf10
    sweep), tiny docs whose prefix is the whole set, and true near-dup
    pairs at several sizes around the 0.6 boundary."""
    from tidb_large_table_compare_spark.operators.dedup import (
        hashed_word_ngrams,
        jaccard_verified_pairs,
        prefix_filtered_candidates,
    )

    base = [
        "common phrase here alpha beta gamma delta epsilon zeta eta",
        "common phrase here alpha beta gamma delta epsilon zeta theta",
        "common phrase here iota kappa lam mu nu xi omicron",
        "common phrase here iota kappa lam mu nu xi pi",
        "short text one",
        "short text two",
        "common phrase here",  # exactly one 3-gram: the hot one
        "unrelated words entirely disjoint from everything else present",
    ]
    # 40 more docs all containing the hot phrase + mostly-unique tails
    rows = [(i, t) for i, t in enumerate(base)] + [
        (100 + i, f"common phrase here tail{i} word{i} extra{i % 3} pad{i % 5}")
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sets_ = docs.select(
        "doc_id", hashed_word_ngrams("text", 3).alias("shingles")
    ).persist()

    eg = sets_.select("doc_id", F.explode("shingles").alias("__gram"))
    naive = (
        eg.withColumnRenamed("doc_id", "id_a")
        .join(eg.withColumnRenamed("doc_id", "id_b"), "__gram")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    for t in (0.3, 0.6, 0.9):
        got = sorted(
            map(
                tuple,
                jaccard_verified_pairs(
                    prefix_filtered_candidates(sets_, "doc_id", t), sets_, "doc_id", t
                ).collect(),
            )
        )
        want = sorted(
            map(tuple, jaccard_verified_pairs(naive, sets_, "doc_id", t).collect())
        )
        assert got == want, f"threshold {t}: {len(got)} vs {len(want)} pairs"
    assert len(
        jaccard_verified_pairs(
            prefix_filtered_candidates(sets_, "doc_id", 0.6), sets_, "doc_id", 0.6
        ).collect()
    ) > 0, "corpus must actually contain near-dup pairs for the test to bite"
    # the hot gram must NOT pair every doc: candidate count strictly below
    # the naive join's (the entire point of the prefix)
    n_pref = prefix_filtered_candidates(sets_, "doc_id", 0.6).count()
    n_naive = naive.count()
    assert n_pref < n_naive, f"prefix gave {n_pref} >= naive {n_naive}"
    sets_.unpersist()


def test_hashed_ngrams_expr_matches_column_form(spark):
    """hashed_word_ngrams' hashes are pinned: persisted shingle sets and
    admission indexes key on them. The golden arrays were produced by the
    Column-built form this function used to keep as its definition of
    record. Covers the short-text empty-set branch, and column names
    holding a backtick (quoted, so it parses) or named like the
    expression's lambda variable."""
    from pyspark.sql import types as T

    golden = {
        3: {
            1: [-2167479932694485896, 6117671922678514684, -527395794716158111,
                1275397950698444913, -6814540328198212769, -606970198980039393],
            2: [], 3: [],
            4: [-9457663061986884, -735796498069460301, -1438552493079207489,
                3181214874642800428],
        },
        5: {
            1: [-1706306387128673947, -7055413412549296485,
                5130039190668232007, 6071042112327139208],
            2: [], 3: [],
            4: [-1558849947958070938, 8747853398255708588],
        },
    }
    rows = [(1, "a b c d e f g h"), (2, "a b"), (3, ""), (4, "x y z w v u")]
    for name in ("text", "te`xt", "i"):
        docs = spark.createDataFrame(
            rows, f"doc_id long, `{name.replace('`', '``')}` string"
        )
        for n in (3, 5):
            out = docs.select("doc_id", hashed_word_ngrams(name, n).alias("s"))
            assert out.schema["s"].dataType == T.ArrayType(T.LongType())
            assert {r.doc_id: r.s for r in out.collect()} == golden[n]


def _long_doc(n_tokens: int, seed: int = 7) -> str:
    """A document of ``n_tokens`` words from a 40-word vocabulary (so
    windows repeat and distinctness matters), with a few doubled spaces and
    space padding at both ends (empty tokens under a single-space split)."""
    import random

    rng = random.Random(seed)
    words = [f"w{rng.randrange(40)}" for _ in range(n_tokens)]
    for i in range(5, n_tokens, 997):
        words[i] = " " + words[i]
    return "  " + " ".join(words) + " "


# (doc_id, text): a 3000-token document, text shorter than n, empty, NULL
_WINDOW_DOCS = [(1, _long_doc(3000)), (2, "a b"), (3, ""), (4, None)]


def _windows(toks: list[str], n: int) -> list[str]:
    if len(toks) < n:
        return []
    return [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]


def test_sliding_window_forms_match_python_reference(spark):
    """Every sliding-window expression (word_ngrams, hashed_word_ngrams,
    position_ngrams, chunk_tokens) equals a pure-Python reference on a
    3000-token document, on text shorter than n, on empty text and on NULL
    text. The hashed form is checked against xxhash64 of the reference
    windows, order included."""
    import hashlib
    import re

    from tidb_large_table_compare_spark.operators.spans import (
        chunk_tokens,
        position_ngrams,
    )

    docs = spark.createDataFrame(_WINDOW_DOCS, "doc_id long, text string")
    n = 5

    def space_split(text):  # split(text, ' '); NULL has no shingles
        return [] if text is None else text.split(" ")

    def span_tokens(text):  # split(trim(text), ' +'); NULL chunks as empty
        return re.split(" +", (text or "").strip(" "))

    want_word = {
        i: list(dict.fromkeys(_windows(space_split(t), n))) for i, t in _WINDOW_DOCS
    }
    want_pos = {
        i: [] if t is None else _windows(span_tokens(t), n) for i, t in _WINDOW_DOCS
    }
    assert len(want_word[1]) > 100 and len(want_pos[1]) == 3000 - n + 1

    got = {
        r.doc_id: r
        for r in docs.select(
            "doc_id",
            word_ngrams(F.col("text"), n).alias("w"),
            hashed_word_ngrams("text", n).alias("h"),
            position_ngrams(F.col("text"), n).alias("p"),
        ).collect()
    }
    ref = spark.createDataFrame(
        [(i, g) for i, g in want_word.items()], "doc_id long, g array<string>"
    ).select("doc_id", F.transform("g", lambda x: F.xxhash64(x)).alias("h"))
    want_hash = {r.doc_id: r.h for r in ref.collect()}
    for i, _ in _WINDOW_DOCS:
        assert got[i].w == want_word[i], i
        assert got[i].h == want_hash[i], i
        assert got[i].p == want_pos[i], i

    size, stride = 64, 48
    want_chunks = set()
    for i, t in _WINDOW_DOCS:
        toks = span_tokens(t)
        n_chunks = 1 + -(-max(0, len(toks) - size) // stride)
        for k in range(n_chunks):
            part = toks[k * stride:k * stride + size]
            txt = " ".join(part)
            want_chunks.add(
                (i, k, k * stride + 1, len(part), hashlib.md5(txt.encode()).hexdigest())
            )
    got_chunks = {
        tuple(r) for r in chunk_tokens(docs, "doc_id", "text", size, stride).collect()
    }
    assert got_chunks == want_chunks


def test_sliding_window_forms_split_the_text_once(spark):
    """Each sliding-window expression tokenizes its text once per row: the
    token array is a lambda variable the per-window lambda slices. A
    ``split(`` inside the per-window lambda re-splits the whole text for
    every window — O(tokens²) per document."""
    from tidb_large_table_compare_spark.operators.spans import (
        chunk_tokens,
        position_ngrams,
    )

    for col in (
        word_ngrams(F.col("text"), 5),
        hashed_word_ngrams("text", 5),
        position_ngrams(F.col("text"), 8),
    ):
        assert str(col).count("split(") == 1, str(col)
    docs = spark.createDataFrame(_WINDOW_DOCS, "doc_id long, text string")
    plan = (
        chunk_tokens(docs, "doc_id", "text")._jdf.queryExecution().analyzed().toString()
    )
    assert plan.count("split(") == 1, plan


def test_lsh_candidates_run_the_signature_pass_once(spark, tmp_path):
    """The hot-bucket cap reads the band table twice (its size aggregation
    and its anti-join); the band table is materialized before the cap, so
    the signature frame is evaluated once per partition, and the returned
    plan reads the materialized table, not the Python signature pass."""
    import os
    import uuid

    calls = str(tmp_path / "calls")
    os.mkdir(calls)

    def counted(batches):
        open(os.path.join(calls, uuid.uuid4().hex), "w").close()
        yield from batches

    # 12 docs share one signature (a hot bucket in every band, over the
    # cap of 10); the other 28 fall into 4 groups of 7 by id
    base = spark.range(0, 40, numPartitions=2).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 12, F.lit(0)).otherwise(F.col("id") % 4 + 1).alias("g"),
    )
    sigs = base.select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(127)), lambda i: F.col("g") * 1000 + i
        ).cast("array<long>").alias("sig"),
    ).mapInPandas(counted, "doc_id long, sig array<long>")
    pairs = lsh_candidate_pairs_from_array(sigs, "doc_id", max_bucket_size=10)
    plan = pairs._jdf.queryExecution().optimizedPlan().toString()
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    want = {
        (a, b)
        for a in range(12, 40)
        for b in range(a + 1, 40)
        if a % 4 == b % 4
    }
    assert got == want
    assert "MapInPandas" not in plan, plan
    assert len(os.listdir(calls)) == 2, sorted(os.listdir(calls))
