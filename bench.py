#!/usr/bin/env python3
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The reference publishes no benchmark numbers (BASELINE.md) — its envelope is
"compare 1e9-row tables in 5000-row chunks, 8 threads, tables serially". The
headline metric here is total wall-clock for the engine's representative
query set at the given scale factor, dominated by the digest-compare path
(the reference's core operation).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from tidb_large_table_compare_spark.session import get_spark  # noqa: E402

# Representative slice of the registry: the compare path (the engine's reason
# to exist), heavy analytics, and one of each extension family. The headline
# ANN entry is the IVF path — the design that scales to 100 TB; brute-force
# cosine stays in the registry as its exact verification twin.
HEADLINE = [
    "cmp_summary_orders",
    "cmp_diff_rows_orders",
    "cmp_fix_sql_orders",
    "cmp_reconcile_orders",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_revenue_by_nation",
    "sessionize_events",
    "hourly_event_counts",
    "dedup_exact_docs",
    "neardup_minhash_lsh",
    "ann_ivf_topk",
    # round-11 surface: the persisted-IVF serving shape (build once →
    # probe a fresh query set) — the 100 TB ANN path, now oracle-backed;
    # benching it per-round keeps the build+probe cost visible alongside
    # the inline differential twin above
    "ann_ivf_index_lifecycle",
    "kmeans_cluster_sizes",
    "range_join_errors_busy_hours",
    "doc_fingerprints",
    "tfidf_top_terms",
    # round-6 surfaces: per-source weighted data mixing, the real image
    # build→decode chain, and the per-column drift histogram (all
    # plan-asserted scale shapes)
    "weighted_source_mix",
    "multimodal_decode_stats",
    "cmp_column_drift_orders",
    "fk_orphan_audit",
]


# Composite pipelines benched end-to-end (not registry entries: they write
# artifacts rather than return a DataFrame). Each factory does untimed setup
# and returns a zero-arg callable whose wall-clock is the measurement.
def _make_curation_bench(spark, sf_dir: str, workdir: str):
    """plans/curate.py end-to-end over the documents table: exact dedup →
    MinHash/LSH representatives → quality filter → hash split → packing →
    partitioned parquet + manifest."""
    from tidb_large_table_compare_spark.plans.curate import curate_corpus
    from tidb_large_table_compare_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def run() -> int:
        # pack_shards=8: the sharded scale path (oracle-backed by the
        # pack_training_chunks_sharded registry entry and pinned equivalent
        # to the single-window layout by tests/test_curate.py) — the
        # single-window default serialized the corpus write on one window
        # task per split (round-12 verdict item 1c). Corpus membership,
        # stage counts, and this bench's return value are identical; only
        # chunk-id layout differs (shard-offset ids).
        manifest = curate_corpus(spark, docs, f"{workdir}/curated", pack_shards=8)
        return sum(s["n_docs"] for s in manifest["splits"].values())

    return run


def _make_cdc_bench(spark, sf_dir: str, workdir: str):
    """operators/incremental.py::apply_changes_to_digests — the O(changes)
    CDC fold. Setup (untimed) snapshots the orders digests once; the
    measured callable folds an insert+delete batch into the snapshot and
    re-reads the maintained artifact."""
    from pyspark.sql import functions as F

    from tidb_large_table_compare_spark.operators.incremental import (
        apply_changes_to_digests,
        read_digests,
        write_digests,
    )
    from tidb_large_table_compare_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    base = f"{workdir}/digests_base"
    write_digests(spark, orders, ["o_orderkey"], base)
    inserts = orders.filter(F.col("o_orderkey") % 1000 == 7).withColumn(
        "o_orderkey", F.col("o_orderkey") + 1_000_000_000
    )
    deletes = orders.filter(F.col("o_orderkey") % 1000 == 13)
    state = {"i": 0}

    def run() -> int:
        state["i"] += 1
        out = f"{workdir}/digests_v{state['i']}"
        apply_changes_to_digests(
            spark, base, out, ["o_orderkey"], inserts=inserts, deletes=deletes
        )
        digests, _ = read_digests(spark, out)
        return digests.count()

    return run


EXTRA_BENCHES = {
    "curation_pipeline": _make_curation_bench,
    "cdc_digest_apply": _make_cdc_bench,
}



def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:  # label only — a replica dir like /tmp/sf1_r8 must not crash the run
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    except ValueError:
        sf = -1.0

    # -- cold start: session init + JVM + parquet reader + codegen warmup ----
    t_cold = time.monotonic()
    spark = get_spark("bench")

    from tidb_large_table_compare_spark.registry import QUERIES
    from tidb_large_table_compare_spark.sources.tables import (
        TABLES,
        _scoped_conf,
        load_table,
    )

    # JVM/codegen first touch
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    # Two independent warmups, overlapped (profiled serially at 2.9 s +
    # 2.2 s; concurrent they cost ~max of the two):
    # - parquet reader: file listing + footer reads for every table at the
    #   measured SF (count() reads no data pages thanks to parquet stats),
    #   the per-table counts themselves threaded (independent jobs);
    # - Python-worker pool (workers are reused session-wide): the first
    #   Arrow-batched stage otherwise pays ~2 s of interpreter spin-up.
    # nanosAsLong is pinned around the phase for the same reason as the
    # headline warmup below: load_table's scoped set/restore is not
    # thread-safe on its own.
    from concurrent.futures import ThreadPoolExecutor as _TPE

    def _touch_table(t: str) -> None:
        load_table(spark, sf_dir, t).count()

    def _touch_python_pool() -> None:
        try:
            spark.range(32).mapInPandas(lambda it: it, "id long").count()
        except Exception:
            pass

    with _scoped_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true"):
        with _TPE(max_workers=6) as _pool:
            # longest task FIRST: submitted last into an already-full
            # pool it would only start once a table slot freed, costing
            # its full ~2.2 s on top instead of overlapping
            _futs = [_pool.submit(_touch_python_pool)]
            _futs += [_pool.submit(_touch_table, t) for t in TABLES]
            for _f in _futs:
                _f.result()

    # Full codegen warmup: run every headline query and one pass of each
    # composite bench AT THE MEASURED SF, so whole-stage-codegen compilation
    # (the OPH/minhash shapes alone cost ~7 s of one-time JIT; the curation
    # pipeline's shapes ~16 s) lands in cold_start and the measured loop is
    # steady-state. The warmups run CONCURRENTLY (Spark job submission is
    # thread-safe; local[32] has idle cores during any single query's narrow
    # stages), which roughly halves cold-start wall-clock. load_table's
    # scoped nanosAsLong set/restore is not thread-safe on its own, so the
    # conf is pinned once around the whole phase — every inner scoped set
    # then writes the value it restores (idempotent under races).
    import shutil
    import tempfile
    from concurrent.futures import ThreadPoolExecutor

    workdir = tempfile.mkdtemp(prefix="bench_extra_")
    extra_runs = {}

    def _warm_query(name: str) -> None:
        try:
            QUERIES[name](spark, sf_dir).count()
        except Exception:
            pass  # warmup is best-effort; the measured loop still runs cold

    def _setup_extra(name: str, make) -> None:
        try:
            run = make(spark, sf_dir, workdir)
            run()  # codegen/warmup run, like the HEADLINE warmup
            extra_runs[name] = run
        except Exception as exc:  # pragma: no cover - bench resilience
            print(f"# {name}: setup failed: {exc}", file=sys.stderr)

    with _scoped_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true"):
        with ThreadPoolExecutor(max_workers=8) as pool:
            futures = [pool.submit(_warm_query, n) for n in HEADLINE]
            futures += [
                pool.submit(_setup_extra, n, make)
                for n, make in EXTRA_BENCHES.items()
            ]
            for f in futures:
                f.result()
    cold_start = round(time.monotonic() - t_cold, 3)
    print(f"# cold_start: {cold_start:.3f}s", file=sys.stderr)

    # One failing query must not zero out the whole round's numbers (round 2
    # lost its bench to a single shared loader defect): failures are recorded
    # per query and the JSON line still prints. Each query is measured
    # REPEATS times and the reported number is the median — a single noisy
    # host sample no longer becomes the committed per-query figure (the r5
    # one-shot numbers made two regressions unadjudicable); the raw samples
    # ship alongside so outliers stay visible.
    REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
    timings: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    steal_pct: dict[str, float] = {}

    # Hypervisor CPU steal, sampled around every measured run. Rounds 10-11
    # both hit the "uniform inflation across untouched entries" signature
    # (r10: +19% committed vs flat quiet-host; r11 in-session: 17 -> 28 ->
    # 50 s totals with /proc/stat showing 6-26% of all 32 CPUs stolen in
    # waves while this repo was the only tenant workload). Shipping the
    # steal fraction inside the artifact makes the noisy-host adjudication
    # falsifiable from the committed JSON alone instead of needing a
    # same-session re-run.
    def _cpu_stat() -> tuple[int, int] | None:
        try:
            with open("/proc/stat") as f:
                parts = f.readline().split()
            vals = [int(x) for x in parts[1:]]
            steal = vals[7] if len(vals) > 7 else 0
            return steal, sum(vals)
        except Exception:
            return None

    def measure(name, thunk):
        runs: list[float] = []
        steals: list[float] = []
        for _ in range(REPEATS):
            s0 = _cpu_stat()
            t0 = time.monotonic()
            try:
                n = thunk()
            except Exception as exc:
                errors[name] = str(exc).splitlines()[0][:200]
                print(f"# {name}: FAILED ({errors[name]})", file=sys.stderr)
                return
            runs.append(round(time.monotonic() - t0, 3))
            s1 = _cpu_stat()
            if s0 and s1 and s1[1] > s0[1]:
                steals.append(100.0 * (s1[0] - s0[0]) / (s1[1] - s0[1]))
        samples[name] = runs
        timings[name] = sorted(runs)[len(runs) // 2]
        if steals:
            steal_pct[name] = round(sorted(steals)[len(steals) // 2], 1)
        print(
            f"# {name}: {timings[name]:.3f}s median of "
            f"{[f'{s:.3f}' for s in runs]} ({n} rows)"
            + (f" steal={steal_pct[name]}%" if steals else ""),
            file=sys.stderr,
        )

    for name in HEADLINE:
        measure(name, lambda name=name: QUERIES[name](spark, sf_dir).count())
    for name, run in extra_runs.items():
        # The setup-phase warmup ran MINUTES ago, concurrently with 20 other
        # warmups — by now the headline measurements have churned the JVM
        # and page cache, so sample 1 of the largest composite could land
        # ~1.8x its siblings (r6: 4.41/5.54/8.05 s). One unmeasured pass
        # immediately before the measured loop gives sample 1 the same
        # warm footing samples 2-3 already enjoy.
        try:
            run()
        except Exception:
            pass  # the measured loop will surface the error
        measure(name, run)
    shutil.rmtree(workdir, ignore_errors=True)

    total = round(sum(timings.values()), 3)
    # The stdout contract line stays COMPACT (<1 KB): round 11's committed
    # bench artifact was front-truncated by the output-tail capture exactly
    # because the one-line JSON had grown to ~6 KB with per-query samples,
    # which cost that round its cross-round comparison. Bulky evidence
    # (raw samples, per-query steal) moves to a sidecar file + a stderr
    # comment line; the contract keys (metric/value/unit/queries/sf) and
    # the timing methodology are unchanged.
    out = {
        "metric": "headline_queries_total_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "cold_start_sec": cold_start,
        "sf": sf,
    }
    full = dict(out, samples=samples)
    if steal_pct:
        vals = sorted(steal_pct.values())
        out["host_steal_pct"] = {
            "median": vals[len(vals) // 2],
            "max": vals[-1],
        }
        full["host_steal_pct"] = dict(out["host_steal_pct"], per_query=steal_pct)
    if errors:
        out["errors"] = errors
        full["errors"] = errors
    # per-run default path: concurrent runs must not overwrite each
    # other's evidence
    sidecar = os.environ.get("SPARK_GRAFT_BENCH_SIDECAR") or os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_bench_sidecar_{os.getpid()}_{time.strftime('%Y%m%d_%H%M%S')}.json",
    )
    try:
        with open(sidecar, "w") as f:
            json.dump(full, f)
        out["samples_sidecar"] = sidecar
    except OSError:
        pass  # evidence only; never fail the bench over it
    print(f"# samples: {json.dumps(full)}", file=sys.stderr)
    print(json.dumps(out))
    if errors:
        sys.exit(1)  # numbers above are still recorded; the rc flags trouble


if __name__ == "__main__":
    main()
