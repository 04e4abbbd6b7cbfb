"""The three perfbench workloads: one iteration each, and its output checks.

An iteration goes through the engine's public entry points only:
``cli.main`` for the compare fleets, ``plans.curate.curate_corpus`` and
``operators.similarity.build_ivf_index`` / ``ivf_query_index`` for the LLM
path. The serial sequence (:func:`compare_serial`) makes the same public
calls as ``cli._run`` and ``plans.pipeline.run_jobs``, in the same order, one
table at a time, each inside a tracer span. Every result is reduced to one
observation dict per table (or per LLM stage) and checked against the
generator's expectations by a single check function per workload kind.
"""

from __future__ import annotations

import contextlib
import io
import re
import time
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

from gen import QUERY_ID_BASE, quantize

SCHEMA = "main"

WORKLOADS = {
    "compare_light_drift": {"kind": "compare", "column_drift": True,
                            "fix_sql": True, "reconcile": False},
    "compare_heavy_repair": {"kind": "compare", "column_drift": False,
                             "fix_sql": True, "reconcile": True},
    "llm_curate_ann": {"kind": "llm"},
}


def cli_args(exp: dict, spec: dict, inputs: Path, out: Path) -> list[str]:
    args = [
        "--left-dir", str(inputs / "master"),
        "--right-dir", str(inputs / "slave"),
        "--tables", ",".join(t["name"] for t in exp["tables"]),
        "--lock-file", str(out / "run.lock"),
        "--parallelism", "4",
    ]
    for t in exp["tables"]:
        if t["pk"]:
            args += ["--pk", f"{t['name']}={','.join(t['pk'])}"]
    if spec["column_drift"]:
        args.append("--column-drift")
    if spec["fix_sql"]:
        args += ["--fix-sql-out", str(out / "fix")]
    if spec["reconcile"]:
        args += ["--reconcile-out", str(out / "repaired"), "--verify-repaired"]
    return args


_PROGRESS = re.compile(r"\(\s*\d+/\s*\d+\) (\S+) \(([\d.]+)s\)$")


def parse_cli_output(stdout: str, stderr: str) -> tuple[dict, list[float]]:
    """Observations per table from the CLI's report, ``drift`` and
    ``repair-verify`` lines; per-table seconds from its progress lines."""
    obs: dict[str, dict] = {}
    for line in stdout.splitlines():
        if line.startswith(f"| {SCHEMA}."):
            name, status, up, down = (c.strip() for c in line.strip("|").split("|"))
            obs.setdefault(name, {}).update(
                structure_ok=status == "一致", upcount=int(up), downcount=int(down))
        elif line.startswith("drift "):
            _, name, col, n = line.split()
            obs.setdefault(name, {}).setdefault("column_drift", {})[col] = int(n)
        elif line.startswith("repair-verify "):
            m = re.match(r"repair-verify (\S+): equivalent=(\w+) upcount=(\d+) downcount=(\d+)", line)
            obs.setdefault(m[1], {})["verify"] = (m[2] == "True", int(m[3]), int(m[4]))
    secs = []
    for line in stderr.splitlines():
        m = _PROGRESS.search(line)
        if m:
            secs.append(float(m[2]))
    return obs, secs


def count_fix_sql(out: Path, obs: dict) -> None:
    """Fix-SQL statement count per table, from the files the run wrote."""
    for d in (out / "fix").glob(f"{SCHEMA}_*_fix"):
        name = f"{SCHEMA}.{d.name[len(SCHEMA) + 1:-len('_fix')]}"
        lines = 0
        for f in d.glob("part-*"):
            lines += sum(1 for ln in f.read_text().splitlines() if ln.strip())
        obs.setdefault(name, {})["fix_sql_lines"] = lines


def compare_cli(exp: dict, spec: dict, inputs: Path, out: Path) -> dict:
    """One fresh CLI run over the fleet: ``{table: observation}``, plus the
    exit code and the per-table seconds to verdict under ``_cli``."""
    from tidb_large_table_compare_spark import cli

    so, se = io.StringIO(), io.StringIO()
    with contextlib.redirect_stdout(so), contextlib.redirect_stderr(se):
        rc = cli.main(cli_args(exp, spec, inputs, out))
    obs, secs = parse_cli_output(so.getvalue(), se.getvalue())
    if spec["fix_sql"]:
        count_fix_sql(out, obs)
    obs["_cli"] = {"rc": rc, "verdict_s": secs}
    return obs


def compare_serial(spark, tracer, exp: dict, spec: dict, inputs: Path, out: Path) -> dict:
    """The CLI's call sequence, serially, with a span around each layer
    call. ``run_jobs`` compares every table (digest, then drill-down via
    ``summary``); the CLI then builds a second ``TableCompare`` per keyed
    table for its drill-down flags, which runs the digest pass again —
    recorded here as a second ``compare.digest`` span, not avoided."""
    from tidb_large_table_compare_spark.operators.compare import (
        CompareOptions,
        compare_tables,
    )
    from tidb_large_table_compare_spark.operators.fixsql import fix_sql
    from tidb_large_table_compare_spark.operators.reconcile import (
        apply_fixes,
        verify_repair,
    )
    from tidb_large_table_compare_spark.plans.report import (
        render_final_report,
        report_totals,
    )
    from tidb_large_table_compare_spark.sources.catalog import parquet_catalog

    names = [t["name"] for t in exp["tables"]]
    pks = {t["name"]: t["pk"] for t in exp["tables"]}
    master, slave = inputs / "master", inputs / "slave"
    with tracer.span("sources.catalog"):
        catalog = parquet_catalog(spark, str(master), names, schema_name=SCHEMA)
        catalog_rows = {r.table_name: r.table_rows for r in catalog.collect()}
    jobs = []
    for t in names:
        jobs.append((
            f"{SCHEMA}.{t}",
            spark.read.parquet(f"{master}/{t}.parquet"),
            spark.read.parquet(f"{slave}/{t}.parquet"),
            pks[t],
            # the CLI's defaults: 5000-row chunks, no range, no struct-only
            CompareOptions(chunk_size=5000, row_count_hint=catalog_rows[t]),
        ))
    obs: dict[str, dict] = {}
    rows, verdict_s = [], []
    for name, left, right, pk, opts in jobs:
        t0 = time.monotonic()
        cmp = compare_tables(spark, left, right, pk, opts, name)
        with tracer.span("compare.digest"):
            cmp.diff_rows()
        with tracer.span("compare.drilldown"):
            r = cmp.summary().collect()[0]
        verdict_s.append(time.monotonic() - t0)
        obs[name] = {"structure_ok": r.structure_ok, "upcount": r.upcount,
                     "downcount": r.downcount}
        rows.append(("run", name, r.structure_ok, r.upcount, r.downcount, 0.0))
    summaries = spark.createDataFrame(
        rows, "run_ts string, table string, structure_ok boolean, "
              "upcount bigint, downcount bigint, duration_s double")
    with tracer.span("plans.report"):
        render_final_report(summaries).collect()
        report_totals(summaries).collect()

    keyed = [j for j in jobs if j[3]]
    drill = {}

    def drill_cmp(name, left, right, pk, opts):
        # the CLI's _drill_cmp: one more TableCompare per keyed table,
        # whose first consumer runs its digest pass
        if name not in drill:
            drill[name] = compare_tables(spark, left, right, pk, opts, name)
            with tracer.span("compare.digest"):
                drill[name].diff_rows()
        return drill[name]

    if spec["column_drift"]:
        for job in keyed:
            cmp = drill_cmp(*job)
            with tracer.span("compare.column_drift"):
                got = cmp.column_drift().collect()
            obs[job[0]]["column_drift"] = {r.column_name: r.mismatch_rows
                                           for r in got if r.mismatch_rows}
    if spec["fix_sql"]:
        for job in keyed:
            cmp = drill_cmp(*job)
            with tracer.span("fixsql.fix_sql"):
                fix_sql(cmp).coalesce(1).write.mode("overwrite").text(
                    str(out / "fix" / f"{job[0].replace('.', '_')}_fix"))
        count_fix_sql(out, obs)
    if spec["reconcile"]:
        for job in keyed:
            name, left, right, pk, _ = job
            cmp = drill_cmp(*job)
            path = str(out / "repaired" / f"{name.replace('.', '_')}_repaired")
            with tracer.span("reconcile.apply_fixes"):
                apply_fixes(left, right, pk, cmp.diff_rows()).write.mode(
                    "overwrite").parquet(path)
            with tracer.span("reconcile.verify_repair"):
                v = verify_repair(cmp, spark.read.parquet(path)).collect()[0]
            obs[name]["verify"] = (v.equivalent, v.upcount, v.downcount)
    obs["_serial"] = {"verdict_s": verdict_s}
    return obs


def diff_rows(obs: dict) -> int:
    """Drifted row sides found by the compare: sum of up- and downcounts."""
    return sum(o["upcount"] + o["downcount"] for k, o in obs.items()
               if not k.startswith("_") and "upcount" in o)


def check_compare(exp: dict, spec: dict, obs: dict) -> tuple[int, dict[str, list[str]]]:
    """(tables attempted, {failed table: wrong results}). A table fails
    when any observed field differs from the generator's expectation; a
    nonzero CLI exit fails the run as one more unit."""
    wrong: dict[str, list[str]] = {}
    cli = obs.get("_cli")
    if cli is not None and cli["rc"] != 0:
        wrong["cli"] = [f"exit code {cli['rc']}"]
    for t in exp["tables"]:
        name = f"{SCHEMA}.{t['name']}"
        o = obs.get(name, {})
        want = {"structure_ok": t["structure_ok"], "upcount": t["upcount"],
                "downcount": t["downcount"]}
        if spec["fix_sql"] and t["pk"]:
            want["fix_sql_lines"] = t["fix_sql_lines"]
        if spec["column_drift"] and t["pk"]:
            want["column_drift"] = t["column_drift"]
        if spec["reconcile"] and t["pk"]:
            want["verify"] = (True, 0, 0)
        for k, v in want.items():
            got = o.get(k, {} if k == "column_drift" else None)
            if got != v:
                wrong.setdefault(name, []).append(f"{k}: got {got!r}, expected {v!r}")
    return len(exp["tables"]), wrong


def llm_vectors(inputs: Path) -> tuple[np.ndarray, np.ndarray]:
    """Corpus and query vectors as written, for checking returned cosines."""
    def load(name: str) -> np.ndarray:
        t = pq.read_table(inputs / "llm" / f"{name}.parquet", columns=["vec_id", "embedding"])
        ids = t.column("vec_id").to_numpy()
        flat = t.column("embedding").combine_chunks().flatten().to_numpy()
        v = flat.reshape(len(ids), -1)
        out = np.empty_like(v)
        out[ids - ids.min()] = v
        return out
    return load("embeddings"), load("queries")


def llm_iteration(spark, tracer, exp: dict, inputs: Path, out: Path) -> dict:
    """Curate the documents, build the IVF index, probe it with the query
    set: the public calls an LLM data pipeline makes, in order."""
    from tidb_large_table_compare_spark.operators.similarity import (
        build_ivf_index,
        ivf_query_index,
    )
    from tidb_large_table_compare_spark.plans.curate import curate_corpus

    llm = inputs / "llm"
    docs = spark.read.parquet(str(llm / "documents.parquet")).select("doc_id", "text")
    with tracer.span("curate.curate_corpus"):
        manifest = curate_corpus(spark, docs, str(out / "curated"), pack_shards=8)
    with tracer.span("similarity.build_ivf_index"):
        build_ivf_index(spark, spark.read.parquet(str(llm / "embeddings.parquet")),
                        str(out / "ivf"))
    queries = spark.read.parquet(str(llm / "queries.parquet"))
    with tracer.span("similarity.ivf_query_index"):
        rows = ivf_query_index(spark, str(out / "ivf"), queries,
                               n_probe=exp["n_probe"], k=exp["k"]).collect()
    return {"manifest": manifest,
            "topk": [(r.query_id, r.neighbor_id, r.cosine, r.rank) for r in rows]}


def check_llm(exp: dict, obs: dict, vectors) -> tuple[int, dict[str, list[str]], float]:
    """(units attempted, {failed unit: wrong results}, recall@k). Units
    are the curation run plus one per query. A query's top-k must hold k
    distinct corpus ids ranked 1..k by non-increasing cosine, each cosine
    equal to the exact quantized cosine of that pair."""
    wrong: dict[str, list[str]] = {}
    st = obs["manifest"]["stages"]
    got_split = sum(s["n_docs"] for s in obs["manifest"]["splits"].values())
    for k, got, want in (("input", st["input"], exp["n_docs"]),
                         ("after_exact_dedup", st["after_exact_dedup"], exp["distinct_texts"]),
                         ("split docs", got_split, st["after_quality_filter"])):
        if got != want:
            wrong.setdefault("curate", []).append(f"{k}: got {got}, expected {want}")

    corpus, queries = vectors
    cq, qq = quantize(corpus).astype(np.float64), quantize(queries).astype(np.float64)
    by_q: dict[int, list] = {}
    for q, n, cos, rank in obs["topk"]:
        by_q.setdefault(q, []).append((rank, n, cos))
    k = exp["k"]
    hits = 0
    for qs, truth in exp["exact_topk"].items():
        got = sorted(by_q.get(int(qs), []))
        ids = [n for _, n, _ in got]
        ok = ([r for r, _, _ in got] == list(range(1, k + 1))
              and len(set(ids)) == k
              and all(0 <= n < exp["n_vectors"] for n in ids)
              and all(a[2] >= b[2] for a, b in zip(got, got[1:])))
        if ok:
            qv = qq[int(qs) - QUERY_ID_BASE]
            for _, n, cos in got:
                cv = cq[n]
                exact = float(qv @ cv) / (np.sqrt(qv @ qv) * np.sqrt(cv @ cv))
                ok = ok and abs(exact - cos) <= 1e-9
        if not ok:
            wrong[f"query {qs}"] = [f"malformed top-{k}: {got[:3]}..."]
        hits += len(set(ids) & set(truth))
    recall = hits / (k * len(exp["exact_topk"]))
    return 1 + exp["n_queries"], wrong, recall
