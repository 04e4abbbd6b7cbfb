"""functions/materialize.py — the conf-gated localCheckpoint/persist seam
(ADVICE r10: preemptible/dynamic-allocation clusters need recomputable
blocks), plus similarity.derive_max_cells (√N IVF cell sizing)."""

import pytest
from pyspark.sql import functions as F

from tidb_large_table_compare_spark.functions.materialize import (
    MODE_CONF,
    materialize,
)


def _sample(spark):
    return spark.range(100).select(
        "id", (F.col("id") % 7).alias("k"), F.xxhash64("id").alias("h")
    )


def test_default_mode_is_localcheckpoint(spark):
    spark.conf.unset(MODE_CONF)
    out = materialize(_sample(spark))
    # localCheckpoint truncates lineage: the plan bottoms out in a scan of
    # existing RDD blocks (LogicalRDD), not the range source
    assert "LogicalRDD" in out._jdf.queryExecution().optimizedPlan().toString()
    assert out.count() == 100


def test_persist_mode_keeps_lineage_and_unpersists(spark):
    spark.conf.set(MODE_CONF, "persist")
    try:
        df = _sample(spark)
        out = materialize(df)
        # lineage preserved (executor loss → recompute, the point of the
        # mode) and the handle is storage-backed + droppable
        assert "LogicalRDD" not in out._jdf.queryExecution().optimizedPlan().toString()
        assert out.storageLevel.useMemory or out.storageLevel.useDisk
        assert out.count() == 100
        out.unpersist(blocking=True)
        assert not (out.storageLevel.useMemory or out.storageLevel.useDisk)
    finally:
        spark.conf.unset(MODE_CONF)


def test_modes_yield_identical_rows(spark):
    df = _sample(spark)
    a = sorted(map(tuple, materialize(df, mode="localCheckpoint").collect()))
    b = sorted(map(tuple, materialize(df, mode="persist").collect()))
    assert a == b


def test_unknown_mode_raises(spark):
    with pytest.raises(ValueError, match=MODE_CONF):
        materialize(_sample(spark), mode="checkpoint")


def test_operator_parity_under_persist_mode(spark):
    """An ADVICE-named consumer (the banded LSH candidate join) returns
    identical pairs under both modes — the seam must be invisible to
    results."""
    from tidb_large_table_compare_spark.operators.dedup import (
        hashed_word_ngrams,
        lsh_candidate_pairs_from_array,
        minhash_signature_oph_np,
    )

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog %d" % (i % 3),)
         for i in range(30)],
        "doc_id long, text string",
    )
    sets_ = docs.select(
        "doc_id", hashed_word_ngrams("text", 3).alias("shingles")
    )
    sigs = minhash_signature_oph_np(sets_, "doc_id")

    def pairs():
        return sorted(
            (r.id_a, r.id_b)
            for r in lsh_candidate_pairs_from_array(sigs, "doc_id").collect()
        )

    base = pairs()
    assert base  # the %3 texts collide — non-trivial candidate set
    spark.conf.set(MODE_CONF, "persist")
    try:
        assert pairs() == base
    finally:
        spark.conf.unset(MODE_CONF)


def test_derive_max_cells_floor_and_sqrt(spark):
    from tidb_large_table_compare_spark.operators.similarity import (
        derive_max_cells,
    )

    # small corpus: the 1024 floor binds (driver-SF oracles byte-identical)
    assert derive_max_cells(spark.range(100)) == 1024
    # large corpus: √N from plan statistics — spark.range carries an exact
    # optimizer row count, so this must cost zero jobs and return isqrt
    assert derive_max_cells(spark.range(4_000_000)) == 2000


def test_all_seamed_sites_parity_under_persist_mode(spark, monkeypatch):
    """VERDICT r11 #3: every eager-materialization site now routes through
    the seam — the previously hard-coded ones (clustering's label-prop
    rounds, kmeans' final assignment, dedup_index's batch shingles +
    candidates, the streaming drain) must be bit-identical under both
    modes, same pin the three ADVICE-named sites already carry."""
    from tidb_large_table_compare_spark.operators import clustering
    from tidb_large_table_compare_spark.operators.kmeans import (
        kmeans_assignments,
    )

    # ---- clustering (distributed label-prop path, forced) ----
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id_a long, id_b long",
    )
    monkeypatch.setattr(clustering, "DRIVER_EDGE_THRESHOLD", 0)

    def cc():
        return sorted(
            (r.node, r.cluster_id)
            for r in clustering.connected_components(edges).collect()
        )

    # ---- kmeans final assignment ----
    vecs = spark.createDataFrame(
        [(i, [float(i % 5), float((i * 7) % 11), 1.0]) for i in range(50)],
        "vec_id long, embedding array<double>",
    )

    def km():
        return sorted(
            map(tuple, kmeans_assignments(vecs, centroid_mod=10).collect())
        )

    base_cc, base_km = cc(), km()
    assert base_cc and base_km
    spark.conf.set(MODE_CONF, "persist")
    try:
        assert cc() == base_cc
        assert km() == base_km
    finally:
        spark.conf.unset(MODE_CONF)


def test_dedup_index_probe_parity_under_persist_mode(spark, tmp_path):
    from tidb_large_table_compare_spark.operators.dedup_index import (
        build_neardup_index,
        query_neardup_index,
    )

    corpus = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta eta theta %d" % (i % 4))
         for i in range(40)],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(100 + i, "alpha beta gamma delta epsilon zeta eta theta %d" % i)
         for i in range(4)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "ndidx")
    build_neardup_index(corpus, path, id_col="doc_id", shingle_n=3)

    def probe():
        return sorted(
            map(
                tuple,
                query_neardup_index(
                    spark, path, batch, id_col="doc_id", shingle_n=3
                ).collect(),
            )
        )

    base = probe()
    assert base  # the %4 texts collide with the batch — non-trivial
    spark.conf.set(MODE_CONF, "persist")
    try:
        assert probe() == base
    finally:
        spark.conf.unset(MODE_CONF)


@pytest.mark.parametrize("mode", ["localCheckpoint", "persist"])
def test_observation_latches_through_materialize(spark, mode):
    """The CC convergence probe (round 13) rides observe() metrics on the
    materialize job itself. That only removes the per-round count job if
    the metric actually LATCHES on the checkpoint/persist action in both
    seam modes — if it did not, observed_count's fallback would count
    the (empty) __moved filter and return 0 here, not the metric."""
    from pyspark.sql import Observation

    from tidb_large_table_compare_spark.functions.materialize import (
        observed_count,
    )

    obs = Observation()
    df = spark.range(100).observe(obs, F.sum("id").alias("n_changed"))
    out = materialize(df, mode=mode)
    moved = out.withColumn("__moved", F.lit(False)).filter(F.col("__moved"))
    assert observed_count(obs, "n_changed", moved.count) == 4950
