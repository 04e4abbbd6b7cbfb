"""Property-based tests (SURVEY.md §5): randomized master/perturbation pairs
must always produce exact golden diff counts from the compare engine."""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from tidb_large_table_compare_spark.operators.compare import (
    CompareOptions,
    compare_tables,
)

ROWS = st.integers(min_value=20, max_value=200)


@st.composite
def perturbation_plan(draw):
    n = draw(ROWS)
    pks = list(range(1, n + 1))
    missing = sorted(draw(st.sets(st.sampled_from(pks), max_size=min(10, n // 3))))
    remaining = [p for p in pks if p not in missing]
    modified = sorted(
        draw(st.sets(st.sampled_from(remaining), max_size=min(10, len(remaining) // 2)))
    )
    n_extra = draw(st.integers(min_value=0, max_value=10))
    return n, missing, modified, n_extra


def _master_rows(n):
    return [
        (pk, f"v{pk}" if pk % 7 else None, pk * 1.5 if pk % 5 else None)
        for pk in range(1, n + 1)
    ]


# The benign-widening chain the digests tolerate (functions/hashing.py
# round-9): any two types here must digest AND bucket equal values
# equally — this property pins the WHOLE contract, not just the pairs
# the unit tests enumerate, so a future canonical-form change cannot
# silently break one rung of the chain.
_WIDENING_CHAIN = [
    "tinyint", "smallint", "int", "bigint",
    "decimal(10,0)", "decimal(18,0)", "decimal(20,0)", "decimal(38,0)",
]


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    lt=st.sampled_from(_WIDENING_CHAIN),
    rt=st.sampled_from(_WIDENING_CHAIN),
    vals=st.lists(
        st.integers(min_value=-63, max_value=63),  # v*2 stays in tinyint
        min_size=1, max_size=40, unique=True,
    ),
    nb=st.sampled_from([4, 64]),
)
def test_equal_values_equivalent_across_any_widening_pair(spark, lt, rt, vals, nb):
    """For EVERY pair of types on the benign-widening chain and arbitrary
    (tinyint-range, so every type holds them) key/value data: the compare
    verdict must be fully equivalent — zero bad buckets, zero diff rows —
    regardless of which rung each side declares."""
    from decimal import Decimal

    def rows(t):
        conv = Decimal if t.startswith("decimal") else int
        return [(conv(v), conv(v * 2)) for v in sorted(vals)]

    left = spark.createDataFrame(rows(lt), f"pk {lt}, v {lt}")
    right = spark.createDataFrame(rows(rt), f"pk {rt}, v {rt}")
    cmp = compare_tables(
        spark, left, right, ["pk"], CompareOptions(n_buckets=nb), "widen"
    )
    assert cmp.mismatched_buckets().count() == 0
    row = cmp.summary().collect()[0]
    assert row.upcount == 0 and row.downcount == 0


def _reference_diff(master, slave):
    """(pk, diff_type) rows of a plain full-outer join on pk with
    null-safe column equality (a map as its sorted entries) — no digests,
    no bucket scope."""
    from functools import reduce

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    cols = [f for f in master.schema.fields if f.name != "pk"]

    def side(df, p):
        return df.select(
            "pk",
            *[
                (
                    F.array_sort(F.map_entries(f.name))
                    if isinstance(f.dataType, T.MapType)
                    else F.col(f.name)
                ).alias(f"{p}_{f.name}")
                for f in cols
            ],
            F.lit(True).alias(f"{p}_row"),
        )

    j = side(master, "l").join(side(slave, "r"), "pk", "full_outer")
    same = reduce(
        lambda a, b: a & b,
        [F.col(f"l_{f.name}").eqNullSafe(F.col(f"r_{f.name}")) for f in cols],
    )
    kind = (
        F.when(F.col("r_row").isNull(), "missing_in_right")
        .when(F.col("l_row").isNull(), "extra_in_right")
        .when(~same, "modified")
    )
    return j.select("pk", kind.alias("diff_type")).filter("diff_type IS NOT NULL")


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    plan=perturbation_plan(),
    nb=st.sampled_from([None, 8, 4096]),
)
# one pinned draw per scope kind — bitset (under half of 4096), skip (30
# drifted keys in 8 buckets), empty
@example(plan=(60, [1, 2, 3], [4, 5], 2), nb=4096)
@example(plan=(60, list(range(1, 11)), list(range(11, 21)), 10), nb=8)
@example(plan=(60, [], [], 0), nb=8)
def test_compare_counts_match_construction(spark, plan, nb):
    # nb spans every bucket-scope kind: 8 buckets pushes most
    # perturbations over the restriction-skip fraction (skip), 4096 keeps
    # them in the bitset; None exercises the chunk-size sizing path
    from tidb_large_table_compare_spark.functions.hashing import bucket_id

    n, missing, modified, n_extra = plan
    # every 11th d and every third map value is 0.0 on the master and
    # -0.0 on the slave (map entries also in reverse order): canonically
    # equal, never drift. A modified row drifts s (odd pk) or only its
    # map (even pk).
    schema = "pk bigint, s string, d double, m map<string, double>"
    master_rows = [
        (pk, s, 0.0 if pk % 11 == 0 else d,
         {"a": pk * 0.5, "z": 0.0 if pk % 3 == 0 else 1.0})
        for pk, s, d in _master_rows(n)
    ]
    master = spark.createDataFrame(master_rows, schema)
    slave_rows = []
    for pk, s, d, m in master_rows:
        if pk in missing:
            continue
        d = -0.0 if d == 0.0 else d
        m = {k: -0.0 if v == 0.0 else v for k, v in reversed(m.items())}
        if pk in modified and pk % 2:
            s = s + "_x" if s else "mod"
        elif pk in modified:
            m["a"] += 1.0
        slave_rows.append((pk, s, d, m))
    slave_rows += [
        (n + 1000 + i, f"extra{i}", float(i), {"a": float(i)})
        for i in range(n_extra)
    ]
    slave = spark.createDataFrame(slave_rows, schema)
    opts = (
        CompareOptions(chunk_size=16) if nb is None else CompareOptions(n_buckets=nb)
    )
    cmp = compare_tables(spark, master, slave, ["pk"], opts, "prop")
    row = cmp.summary().collect()[0]
    got = {(r.pk, r.diff_type) for r in cmp.diff_rows().collect()}
    scope = cmp.scope()
    cmp.close()
    assert row.upcount == len(missing) + len(modified)
    assert row.downcount == n_extra + len(modified)
    assert row.equivalent == (not missing and not modified and n_extra == 0)

    ref = _reference_diff(master, slave)
    ref = ref.withColumn("b", bucket_id(["pk"], scope.n_buckets, ref)).collect()
    assert got == {(r.pk, r.diff_type) for r in ref}
    n_bad = len({r.b for r in ref})
    assert scope.n_bad == n_bad
    if n_bad == 0:
        want = "empty"
    elif n_bad > scope.n_buckets / 2:
        want = "skip"
    else:
        want = "bitset"
    assert scope.kind == want


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    dup_fraction=st.integers(min_value=2, max_value=6),
    n_removed=st.integers(min_value=0, max_value=8),
    n_added=st.integers(min_value=0, max_value=8),
)
def test_multiset_counts_with_duplicate_keys(spark, dup_fraction, n_removed, n_added):
    """The keyless multiset path must report exact multiplicity deltas even
    when primary keys repeat arbitrarily."""
    base = [(pk % dup_fraction, f"p{pk % dup_fraction}") for pk in range(60)]
    slave = base[n_removed:] + [(999, f"new{i}") for i in range(n_added)]
    schema = "pk bigint, v string"
    m = spark.createDataFrame(base, schema)
    s = spark.createDataFrame(slave, schema)
    row = compare_tables(spark, m, s, None, table_name="ms").summary().collect()[0]
    assert row.upcount == n_removed
    assert row.downcount == n_added


# --- numpy kernels vs their SQL formulations --------------------------------

VEC = st.lists(st.integers(min_value=-1_000_000, max_value=1_000_000),
               min_size=4, max_size=4)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vecs=st.lists(VEC, min_size=1, max_size=12),
    cents=st.lists(VEC, min_size=1, max_size=6),
    metric=st.sampled_from(["cosine", "l2"]),
)
def test_topk_cells_matches_sql_argmax(spark, vecs, cents, metric):
    """The Arrow/numpy argmax must reproduce the SQL formulation exactly,
    including the (score, centroid-id ASC) tie-break — randomized vectors,
    duplicates and ties included."""
    from pyspark.sql import functions as F
    from pyspark.sql import window as W

    from tidb_large_table_compare_spark.operators.similarity import (
        cosine_q,
        topk_cells,
    )

    # avoid zero vectors for the cosine metric (norm 0 → NaN on both paths,
    # but NaN ordering is not the property under test)
    if metric == "cosine":
        vecs = [v if any(v) else [1, 0, 0, 0] for v in vecs]
        cents = [c if any(c) else [0, 1, 0, 0] for c in cents]
    vdf = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "id long, qv array<long>"
    )
    cent_rows = [(i, c) for i, c in enumerate(cents)]
    got = {
        (r["id"], r["cell"])
        for r in topk_cells(vdf, "id", "qv", cent_rows, k=1, metric=metric).collect()
    }
    cdf = spark.createDataFrame(cent_rows, "cent_id long, cv array<long>")
    if metric == "cosine":
        score = cosine_q(F.col("qv"), F.col("cv"))
        order = [F.desc("score"), F.asc("cent_id")]
    else:
        score = F.aggregate(
            F.zip_with("qv", "cv", lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        order = [F.asc("score"), F.asc("cent_id")]
    w = W.Window.partitionBy("id").orderBy(*order)
    want = {
        (r["id"], r["cent_id"])
        for r in vdf.join(F.broadcast(cdf))
        .withColumn("score", score)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    }
    assert got == want


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(st.integers(min_value=-(2**62), max_value=2**62),
                 min_size=0, max_size=40),
        min_size=1,
        max_size=8,
    )
)
def test_numpy_oph_matches_reference_formula(spark, docs):
    """minhash_signature_oph_np against a direct Python evaluation of the
    OPH + rotation-densification definition on the same pre-hashed longs."""
    n = 16
    from tidb_large_table_compare_spark.operators.dedup import (
        _MERSENNE_31,
        minhash_signature_oph_np,
    )

    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "doc_id long, shingles array<long>"
    )
    got = {
        r["doc_id"]: r["sig"]
        for r in minhash_signature_oph_np(df, "doc_id", n_hashes=n).collect()
    }
    for i, d in enumerate(docs):
        if not d:
            assert i not in got
            continue
        bins: dict[int, int] = {}
        for h in d:
            b = ((h & ((1 << 64) - 1)) >> 33) % n  # unsigned top bits
            v = h & _MERSENNE_31
            bins[b] = min(v, bins.get(b, v))
        want = []
        for j in range(n):
            dist = min((k - j) % n for k in bins)
            want.append(bins[(j + dist) % n] + dist * (1 << 31))
        assert got[i] == want, f"doc {i}"


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(plan=perturbation_plan())
def test_reconcile_always_restores_equivalence(spark, plan):
    """For ANY perturbation (deletes + modifies + inserts, incl. NULL fields),
    compare → apply_fixes → re-compare must land on the exact master multiset,
    and the drift-scoped re-verify (verify_repair) must return the same
    full-table summary as an unscoped second compare."""
    from tidb_large_table_compare_spark.operators.reconcile import (
        apply_fixes,
        verify_repair,
    )

    n, missing, modified, n_extra = plan
    schema = "pk bigint, s string, d double"
    master = spark.createDataFrame(_master_rows(n), schema)
    slave_rows = [
        (pk, (s + "_x" if s else "mod") if pk in modified else s, d)
        for pk, s, d in _master_rows(n)
        if pk not in missing
    ] + [(10_000 + i, "extra", None) for i in range(n_extra)]
    slave = spark.createDataFrame(slave_rows, schema)

    tc = compare_tables(spark, master, slave, ["pk"], table_name="t")
    repaired = apply_fixes(master, slave, ["pk"], tc.diff_rows())
    verdict = (
        compare_tables(spark, master, repaired, ["pk"], table_name="t")
        .summary()
        .collect()[0]
    )
    assert verdict.equivalent
    assert repaired.exceptAll(master).union(master.exceptAll(repaired)).count() == 0
    # the scoped re-verify is the full-table verdict (incl. the empty-diff
    # case, where the scope is empty and the summary must still be zeros)
    assert verify_repair(tc, repaired).collect() == [verdict]


# --- report rendering byte-width invariant (A24 printf parity) --------------

# characters spanning 1-4 UTF-8 bytes, mixed freely
_CELL_CHARS = st.sampled_from(list("ab_.`0一致差异表行汇总\U0001F600"))
_CELL_TEXT = st.text(alphabet=_CELL_CHARS, min_size=0, max_size=8)


@settings(max_examples=30, deadline=None)
@given(table=_CELL_TEXT, status=_CELL_TEXT,
       up=st.one_of(st.none(), st.integers(0, 9_999_999)),
       down=st.one_of(st.none(), st.integers(0, 999_999_999)))
def test_report_row_line_pads_by_bytes(table, status, up, down):
    """``report_row_line`` must reproduce bash printf's BYTE-counting padding
    for any unicode cell content: every line whose cells fit their widths is
    exactly 55 bytes (the reference's fixed table width), wider cells extend
    it by exactly their overflow, and NULL counts render as spaces."""
    from tidb_large_table_compare_spark.plans.report import report_row_line

    line = report_row_line(table, status, up, down)
    nbytes = len(line.encode("utf-8"))

    def overflow(text, width):
        return max(0, len(("" if text is None else str(text)).encode("utf-8")) - width)

    expected = 55 + overflow(table, 17) + overflow(status, 9) \
        + overflow(up, 7) + overflow(down, 9)
    assert nbytes == expected, (line, nbytes, expected)


@st.composite
def _cdc_plan(draw):
    n = draw(st.integers(min_value=10, max_value=80))
    pks = list(range(1, n + 1))
    deleted = sorted(draw(st.sets(st.sampled_from(pks), max_size=n // 2)))
    survivors = [p for p in pks if p not in deleted]
    modified = sorted(
        draw(st.sets(st.sampled_from(survivors), max_size=len(survivors) // 2))
        if survivors else set()
    )
    n_new = draw(st.integers(min_value=0, max_value=12))
    return n, deleted, modified, n_new


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(plan=_cdc_plan())
def test_cdc_digest_fold_equals_full_rescan(spark, plan):
    """Abelian-group property of the (cnt, xor_digest, sum_digest) triple
    under ANY change batch: folding deletes+inserts into a stored snapshot
    must reproduce bit-for-bit the digests of a fresh rescan of the changed
    table — including emptied buckets being dropped."""
    import tempfile

    from tidb_large_table_compare_spark.operators.incremental import (
        apply_changes_to_digests,
        write_digests,
    )

    n, deleted, modified, n_new = plan
    schema = "pk bigint, s string"
    base_rows = [(pk, f"v{pk}" if pk % 3 else None) for pk in range(1, n + 1)]
    base = spark.createDataFrame(base_rows, schema)
    final_rows = [
        (pk, (s + "_m" if s else "m") if pk in modified else s)
        for pk, s in base_rows
        if pk not in deleted
    ] + [(10_000 + i, f"new{i}") for i in range(n_new)]
    final = spark.createDataFrame(final_rows, schema)

    deletes = base.exceptAll(final)
    inserts = final.exceptAll(base)
    opts = CompareOptions(n_buckets=8)

    with tempfile.TemporaryDirectory() as d:
        write_digests(spark, base, ["pk"], f"{d}/base", opts)
        apply_changes_to_digests(
            spark, f"{d}/base", f"{d}/maintained", ["pk"],
            inserts=inserts, deletes=deletes, options=opts,
        )
        write_digests(spark, final, ["pk"], f"{d}/fresh", opts)
        maintained = {tuple(r) for r in spark.read.parquet(f"{d}/maintained").collect()}
        fresh = {tuple(r) for r in spark.read.parquet(f"{d}/fresh").collect()}
    assert maintained == fresh


# ---- multimodal decoders: pure-python properties (no Spark session) --------


@st.composite
def small_image(draw):
    h = draw(st.integers(min_value=1, max_value=9))
    w = draw(st.integers(min_value=1, max_value=9))
    flat = draw(
        st.lists(
            st.integers(min_value=0, max_value=255),
            min_size=h * w * 3,
            max_size=h * w * 3,
        )
    )
    import numpy as np

    return np.array(flat, dtype=np.uint8).reshape(h, w, 3)


@settings(deadline=None, max_examples=60)
@given(small_image())
def test_ppm_encode_decode_roundtrip(arr):
    """decode(encode(x)) == x for every image — the decoder really parses
    the container, it does not pattern-match the fixtures."""
    import numpy as np

    from tidb_large_table_compare_spark.operators.multimodal import (
        _decode_ppm,
        encode_ppm,
    )

    assert np.array_equal(_decode_ppm(encode_ppm(arr)), arr)


@settings(deadline=None, max_examples=60)
@given(small_image(), st.integers(min_value=1, max_value=6), st.integers(min_value=1, max_value=6))
def test_resize_nearest_selects_existing_pixels(arr, th, tw):
    """Nearest-neighbor output has the requested shape and every output
    pixel is an actual source pixel (no interpolation artifacts)."""
    from tidb_large_table_compare_spark.operators.multimodal import _resize_nearest

    out = _resize_nearest(arr, th, tw)
    assert out.shape == (th, tw, 3)
    src = {tuple(px) for row in arr for px in row}
    assert {tuple(px) for row in out for px in row} <= src


@settings(deadline=None, max_examples=60)
@given(small_image())
def test_bmp_encode_decode_roundtrip(arr):
    """decode(encode(x)) == x through padding, bottom-up rows, and BGR."""
    import numpy as np

    from tidb_large_table_compare_spark.operators.multimodal import (
        _decode_bmp,
        encode_bmp,
    )

    assert np.array_equal(_decode_bmp(encode_bmp(arr)), arr)


@settings(deadline=None, max_examples=60)
@given(small_image())
def test_qoi_encode_decode_roundtrip(arr):
    """decode(encode(x)) == x through the full QOI chunk state machine
    (RUN / INDEX / DIFF / LUMA / RGB) — hypothesis finds images whose
    encodings mix every op, so the decoder's running-pixel + index-table
    bookkeeping is exercised, not just the RGB fallback."""
    import numpy as np

    from tidb_large_table_compare_spark.operators.multimodal import (
        _decode_qoi,
        encode_qoi,
    )

    enc = encode_qoi(arr)
    assert enc[:4] == b"qoif" and enc[-8:] == b"\x00" * 7 + b"\x01"
    assert np.array_equal(_decode_qoi(enc), arr)


@settings(deadline=None, max_examples=30)
@given(small_image())
def test_qoi_compresses_runs_and_repeats(arr):
    """A constant image (maximal runs) must encode smaller than its raw
    raster — i.e. the encoder actually emits RUN chunks, it does not just
    spell out per-pixel RGB ops."""
    import numpy as np

    from tidb_large_table_compare_spark.operators.multimodal import encode_qoi

    flat = np.full_like(arr, arr[0, 0])
    n_px = arr.shape[0] * arr.shape[1]
    if n_px >= 8:  # tiny images have header > raster; no claim there
        assert len(encode_qoi(flat)) < 14 + 8 + 3 * n_px


@st.composite
def column_drift_plan(draw):
    n = draw(st.integers(min_value=10, max_value=80))
    pks = list(range(1, n + 1))
    drift_s = sorted(draw(st.sets(st.sampled_from(pks), max_size=n // 2)))
    drift_d = sorted(draw(st.sets(st.sampled_from(pks), max_size=n // 2)))
    missing = sorted(draw(st.sets(st.sampled_from(pks), max_size=n // 4)))
    return n, drift_s, drift_d, missing


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(plan=column_drift_plan())
def test_column_drift_reconciles_with_row_verdicts(spark, plan):
    """Invariant tying the two drill-downs together: per-column counts equal
    the constructed drift (restricted to surviving rows), each bounded by
    the modified-row count, and their union bound covers it."""
    n, drift_s, drift_d, missing = plan
    schema = "pk bigint, s string, d double"
    master = spark.createDataFrame(
        [(pk, f"v{pk}", pk * 1.5) for pk in range(1, n + 1)], schema
    )
    slave = spark.createDataFrame(
        [
            (
                pk,
                f"v{pk}_x" if pk in drift_s else f"v{pk}",
                pk * 1.5 + (1.0 if pk in drift_d else 0.0),
            )
            for pk in range(1, n + 1)
            if pk not in missing
        ],
        schema,
    )
    cmp = compare_tables(
        spark, master, slave, ["pk"], CompareOptions(chunk_size=16), "prop"
    )
    counts = {r.column_name: r.mismatch_rows for r in cmp.column_drift().collect()}
    surviving_s = [p for p in drift_s if p not in missing]
    surviving_d = [p for p in drift_d if p not in missing]
    assert counts == {"s": len(surviving_s), "d": len(surviving_d)}
    n_modified = (
        cmp.diff_rows().filter("diff_type = 'modified'").count()
    )
    assert n_modified == len(set(surviving_s) | set(surviving_d))
    assert max(counts.values(), default=0) <= n_modified <= sum(counts.values())


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    sizes=st.lists(st.integers(min_value=1, max_value=400), min_size=1, max_size=40),
    target=st.integers(min_value=50, max_value=300),
)
def test_compaction_plan_partition_invariants(spark, sizes, target):
    """Every file lands in exactly one bin or 'keep'; bins are contiguous in
    path order, start at 0, and every bin except possibly the last reaches
    the target (first-fit closes a bin only once it is full)."""
    from tidb_large_table_compare_spark.operators.compaction import compaction_plan

    inv = spark.createDataFrame(
        [(f"t/{i:04d}.parquet", b) for i, b in enumerate(sizes)],
        "path string, bytes bigint",
    )
    rows = sorted(compaction_plan(inv, target).collect(), key=lambda r: r.path)
    assert len(rows) == len(sizes)  # partition: nothing dropped or duplicated
    for r in rows:
        assert (r.action == "keep") == (r.bytes >= target)
    compact = [r for r in rows if r.action == "compact"]
    bins = [r.bin for r in compact]
    assert bins == sorted(bins)  # non-decreasing in path order
    if compact:
        assert bins[0] == 0
        assert set(bins) == set(range(max(bins) + 1))  # no skipped bins
        by_bin: dict[int, int] = {}
        for r in compact:
            by_bin[r.bin] = by_bin.get(r.bin, 0) + r.bytes
        # window algebra invariants: the PREFIX through every closed bin
        # reaches that bin's window end (a single bin can undershoot when
        # the previous file straddles into its window), and no bin spans
        # more than two windows
        last = max(by_bin)
        prefix = 0
        for b in range(last + 1):
            prefix += by_bin[b]
            if b != last:
                assert prefix >= (b + 1) * target
            assert by_bin[b] < 2 * target


@settings(max_examples=40, deadline=None)
@given(
    dirs=st.sets(
        st.lists(
            st.sampled_from(["lake", "t1", "t2", "date=2020-01-01", "p 1", "a:b"]),
            min_size=1,
            max_size=4,
        ).map(lambda cs: "/" + "/".join(cs)),
        min_size=1,
        max_size=8,
    )
)
def test_dest_suffixes_always_collision_free(dirs):
    """For ANY set of distinct source dirs the dest suffixes are pairwise
    distinct (or the function refuses loudly), never empty, and built only
    from filesystem-safe characters — the invariant that makes
    execute_compaction's output tree collision-free."""
    from tidb_large_table_compare_spark.operators.compaction import _dest_suffixes

    try:
        out = _dest_suffixes(sorted(dirs))
    except ValueError:
        return  # refusing loudly is the documented fallback, never silent
    assert set(out) == dirs
    assert len(set(out.values())) == len(dirs)
    for sfx in out.values():
        assert sfx
        assert all(c.isalnum() or c in "._=-/" for c in sfx)


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    sizes=st.lists(st.integers(min_value=1, max_value=400), min_size=1, max_size=40),
    target=st.integers(min_value=50, max_value=300),
)
def test_compaction_replan_converges_generally(spark, sizes, target):
    """The maintenance-loop invariant behind `compaction_replan_converges`,
    for ANY inventory: merge each planned bin into one file, re-plan, and
    (a) every merged file that reached the target is kept, (b) the number
    of under-target files strictly shrinks whenever any bin merged >1 file,
    so repeated passes reach a fixed point instead of churning."""
    from pyspark.sql import functions as F

    from tidb_large_table_compare_spark.operators.compaction import compaction_plan

    inv = spark.createDataFrame(
        [(f"t/{i:04d}.parquet", b) for i, b in enumerate(sizes)],
        "path string, bytes bigint",
    )
    plan1 = compaction_plan(inv, target).collect()
    keeps = [(r.path, r.bytes) for r in plan1 if r.action == "keep"]
    by_bin: dict[int, int] = {}
    n_files_per_bin: dict[int, int] = {}
    for r in plan1:
        if r.action == "compact":
            by_bin[r.bin] = by_bin.get(r.bin, 0) + r.bytes
            n_files_per_bin[r.bin] = n_files_per_bin.get(r.bin, 0) + 1
    merged = [(f"t/merged-{b:05d}.parquet", s) for b, s in sorted(by_bin.items())]
    inv2 = spark.createDataFrame(keeps + merged, "path string, bytes bigint")
    plan2 = compaction_plan(inv2, target).collect()

    merged_paths = {p for p, _ in merged}
    for r in plan2:
        if r.path in merged_paths and r.bytes >= target:
            assert r.action == "keep"
    under1 = sum(1 for r in plan1 if r.action == "compact")
    under2 = sum(1 for r in plan2 if r.action == "compact")
    if any(n > 1 for n in n_files_per_bin.values()):
        assert under2 < under1
    else:
        assert under2 <= under1


@given(
    st.datetimes(
        min_value=__import__("datetime").datetime(1902, 1, 1),
        max_value=__import__("datetime").datetime(2037, 12, 31),
    ),
    st.booleans(),
)
@settings(max_examples=300, deadline=None)
def test_render_sql_id_timestamp_literal_preserves_the_instant(dt, fold):
    """Driver-side pin of the r10 rendering math, no Spark needed: for an
    arbitrary naive datetime (either fold), the rendered TIMESTAMP
    literal's body re-parses to the SAME instant that datetime denotes
    under the OS-local interpretation collect() uses — i.e. rendering is
    exactly astimezone-inverse, fraction always 6 digits, charset pinned.
    The range stays inside the TZ database's well-defined era (the
    container is UTC, but the property must hold under any TZ)."""
    import datetime as _dt
    import re

    from pyspark.sql import types as T

    from tidb_large_table_compare_spark.functions.hashing import render_sql_id

    naive = dt.replace(fold=fold)
    lit = render_sql_id(naive, T.TimestampType())
    assert lit is not None
    m = re.fullmatch(
        r"TIMESTAMP '(\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}\.\d{6})\+00:00'", lit
    )
    assert m, lit
    reparsed = _dt.datetime.strptime(m.group(1), "%Y-%m-%d %H:%M:%S.%f").replace(
        tzinfo=_dt.timezone.utc
    )
    assert reparsed == naive.astimezone(_dt.timezone.utc)

    # NTZ is verbatim: the body equals the wall clock itself
    ntz = render_sql_id(naive, T.TimestampNTZType())
    m2 = re.fullmatch(
        r"TIMESTAMP_NTZ '(\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}\.\d{6})'", ntz
    )
    assert m2, ntz
    assert _dt.datetime.strptime(m2.group(1), "%Y-%m-%d %H:%M:%S.%f") == naive.replace(fold=0)

    # dtype-less datetimes must keep refusing (the r9 posture)
    assert render_sql_id(naive) is None
