"""Seeded input generator for the perfbench workloads.

Everything here is computed without the engine: base tables come from
DuckDB's TPC-H ``dbgen`` (deterministic for a given scale factor), the drift
applied to the slave side is chosen by a ``numpy`` generator seeded from
``--seed``, and the expectations the benchmark checks against are the
generator's own bookkeeping of that drift (plus DuckDB's distinct-text count
and a numpy brute-force top-k for the LLM workload).

Every table is written as a parquet directory of several files with several
row groups each, so scans split across the session's cores; a single
row-group file would measure a one-split artifact instead.

Usage (writes inputs and ``expectations.json`` under OUT):
    python3 perfbench/gen.py --workload compare_light_drift --seed 1 --out OUT
"""

from __future__ import annotations

import argparse
import collections
import decimal
import json
import math
from dataclasses import dataclass
from pathlib import Path

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Input sizes per scale. "bench" is what the benchmark measures; "tiny" is
# the sf0.001-derived input the self-tests run on.
SCALES = {
    "bench": {"light_sf": 0.001, "heavy_sf": 0.01, "docs": 2000, "vectors": 4000,
              "queries": 100},
    "tiny": {"light_sf": 0.001, "heavy_sf": 0.002, "docs": 300, "vectors": 600,
             "queries": 12},
}
HEAVY_DRIFT = 0.01  # share of rows deleted, inserted and updated, each
EMBED_DIM = 64
EMBED_CLUSTERS = 40
QUERY_ID_BASE = 10_000_000
ANN_K = 10
ANN_N_PROBE = 4


@dataclass
class TableSpec:
    """One master/slave pair: how to build the master and how to drift it."""

    name: str
    sql: str
    pk: list[str] | None
    n_del: int = 0
    n_ins: int = 0
    n_upd: int = 0
    upd_col: str | None = None
    # rows whose double column flips 0.0 -> -0.0: the engine's
    # canonicalization folds the sign, so these must NOT count as drift
    n_fold: int = 0
    fold_col: str | None = None
    extra_col: bool = False  # slave gains a column: structure drift
    drift_frac: float = 0.0  # if set, del/ins/upd are each this share of rows


_WIDE_SQL = """
SELECT l.*, o.o_custkey, o.o_orderstatus, o.o_totalprice, o.o_orderdate,
       o.o_orderpriority, o.o_clerk, o.o_shippriority, o.o_comment,
       CAST(l.l_discount AS DOUBLE) AS disc_d,
       l.l_extendedprice * (1 - l.l_discount) AS net_price,
       CAST(l.l_shipdate - o.o_orderdate AS INTEGER) AS ship_lag_days,
       l.l_quantity > 25 AS bulk,
       CAST(l.l_shipdate AS TIMESTAMP) AS ship_ts,
       CAST(year(o.o_orderdate) AS SMALLINT) AS order_year
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
ORDER BY l.l_orderkey, l.l_linenumber
"""


def light_fleet() -> list[TableSpec]:
    """The reference's steady state: a fleet of tables, few drifted rows
    each. 12 drifted keys over the 32-bucket minimum keep every keyed
    table in the IN-list drill-down regime (bad fraction <= 12/32).

    Four pairs cover every shape the compare path distinguishes: a bigint
    PK whose slave gained a column (structure drift), an identical pair, a
    keyless pair with duplicate rows (the multiset path), and a 30-column
    wide table (orders x lineitem columns plus typed expressions) with a
    composite PK and -0.0 rewrites the canonicalization must fold. Per-table
    cost is fixed-cost dominated, so more pairs would scale the iteration
    without exercising anything new, and would not fit the cold first
    iteration into the per-run time budget."""
    kd = dict(n_del=3, n_ins=3, n_upd=6)
    return [
        TableSpec("orders", "SELECT * FROM orders ORDER BY o_orderkey",
                  ["o_orderkey"], upd_col="o_totalprice", extra_col=True, **kd),
        TableSpec("nation", "SELECT * FROM nation ORDER BY n_nationkey",
                  ["n_nationkey"]),
        TableSpec("shipments",
                  "SELECT l_suppkey, l_shipmode, l_returnflag, l_linestatus "
                  "FROM lineitem ORDER BY ALL",
                  None, n_del=3, n_ins=3, n_upd=3, upd_col="l_shipmode"),
        TableSpec("orders_lineitem_wide", _WIDE_SQL,
                  ["l_orderkey", "l_linenumber"], upd_col="ship_lag_days",
                  n_fold=6, fold_col="disc_d", **kd),
    ]


def heavy_fleet(drift_frac: float) -> list[TableSpec]:
    """Restriction-skip regime: a few percent of rows drift, so nearly
    every bucket is bad and the full drill-down join runs."""
    return [
        TableSpec("lineitem_big",
                  "SELECT *, CAST(l_discount AS DOUBLE) AS disc_d FROM lineitem "
                  "ORDER BY l_orderkey, l_linenumber",
                  ["l_orderkey", "l_linenumber"], upd_col="l_extendedprice",
                  fold_col="disc_d", drift_frac=drift_frac),
    ]


def write_parquet(table: pa.Table, path: Path, n_files: int | None = None) -> None:
    """``path`` as a parquet directory: up to 4 files, ~4 row groups each."""
    n = table.num_rows
    if n_files is None:
        n_files = 4 if n >= 4000 else 1
    path.mkdir(parents=True, exist_ok=True)
    per_file = max(1, math.ceil(n / n_files))
    for i in range(n_files):
        part = table.slice(i * per_file, per_file)
        pq.write_table(part, path / f"part-{i:05d}.parquet",
                       row_group_size=max(256, math.ceil(part.num_rows / 4)))


def _modified(col: pa.ChunkedArray) -> pa.ChunkedArray:
    """A value guaranteed to differ from ``col`` under any canonicalization."""
    t = col.type
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return pc.binary_join_element_wise(col, pa.scalar("~drift"), "")
    if pa.types.is_decimal(t):
        return pc.add(col, pa.scalar(decimal.Decimal(1), pa.decimal128(1, 0))).cast(t)
    if pa.types.is_integer(t) or pa.types.is_floating(t):
        return pc.add(col, pa.scalar(1).cast(t))
    raise TypeError(f"no drift rule for {t}")


def _set_rows(table: pa.Table, col: str, mask: np.ndarray, new) -> pa.Table:
    i = table.schema.get_field_index(col)
    merged = pc.if_else(pa.array(mask), new, table.column(col))
    return table.set_column(i, table.schema.field(i), merged.cast(table.schema.field(i).type))


def _drift_keyed(spec: TableSpec, left: pa.Table, rng: np.random.Generator):
    n = left.num_rows
    n_del, n_ins, n_upd = spec.n_del, spec.n_ins, spec.n_upd
    if spec.drift_frac:
        n_del = n_ins = n_upd = max(1, int(n * spec.drift_frac))
    n_fold = spec.n_fold or (n_upd // 10 if spec.drift_frac else 0)
    fold_pool = np.array([], dtype=np.int64)
    if n_fold:
        zero = pc.equal(left.column(spec.fold_col), 0.0).to_numpy(zero_copy_only=False)
        fold_pool = rng.choice(np.flatnonzero(zero), size=n_fold, replace=False)
    rest = np.setdiff1d(np.arange(n), fold_pool)
    picked = rng.choice(rest, size=n_del + n_upd + n_ins, replace=False)
    idx_del, idx_upd, idx_ins = np.split(picked, [n_del, n_del + n_upd])

    right = left
    if n_upd:
        mask = np.zeros(n, bool)
        mask[idx_upd] = True
        right = _set_rows(right, spec.upd_col, mask, _modified(right.column(spec.upd_col)))
    if n_fold:
        mask = np.zeros(n, bool)
        mask[fold_pool] = True
        right = _set_rows(right, spec.fold_col, mask, pc.negate(right.column(spec.fold_col)))
    if n_ins:
        # copies of existing rows under fresh keys past the current maximum
        new = left.take(pa.array(np.sort(idx_ins)))
        key = spec.pk[0]
        base = pc.max(left.column(key)).as_py() + 1
        fresh = pa.array(np.arange(base, base + n_ins), type=left.schema.field(key).type)
        new = new.set_column(left.schema.get_field_index(key), left.schema.field(key), fresh)
    keep = np.ones(n, bool)
    keep[idx_del] = False
    right = right.filter(pa.array(keep))
    if n_ins:
        right = pa.concat_tables([right, new])
    exp = {
        "upcount": n_del + n_upd,
        "downcount": n_ins + n_upd,
        "fix_sql_lines": n_del + n_ins + n_upd,
        "column_drift": {spec.upd_col: n_upd} if n_upd else {},
        "folded_rows": n_fold,
    }
    return right, exp


def _drift_keyless(spec: TableSpec, left: pa.Table, rng: np.random.Generator):
    """Multiset drift: drop rows, duplicate rows, rewrite rows. The expected
    counts are computed from the row multisets themselves, so a deletion and
    a duplication of equal rows cancel exactly as they must."""
    n = left.num_rows
    picked = rng.choice(n, size=spec.n_del + spec.n_ins + spec.n_upd, replace=False)
    idx_del, idx_dup, idx_upd = np.split(picked, [spec.n_del, spec.n_del + spec.n_ins])
    mask = np.zeros(n, bool)
    mask[idx_upd] = True
    right = _set_rows(left, spec.upd_col, mask, _modified(left.column(spec.upd_col)))
    keep = np.ones(n, bool)
    keep[idx_del] = False
    right = pa.concat_tables([right.filter(pa.array(keep)),
                              left.take(pa.array(np.sort(idx_dup)))])

    def multiset(t: pa.Table) -> collections.Counter:
        return collections.Counter(zip(*(t.column(c).to_pylist() for c in t.column_names)))

    lc, rc = multiset(left), multiset(right)
    exp = {
        "upcount": sum((lc - rc).values()),
        "downcount": sum((rc - lc).values()),
        "fix_sql_lines": None,
        "column_drift": {},
        "folded_rows": 0,
    }
    return right, exp


def _dbgen(sf: float) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    con.execute(f"CALL dbgen(sf={sf})")
    return con


def _gen_compare(specs: list[TableSpec], sf: float, seed: int, out: Path) -> dict:
    con = _dbgen(sf)
    tables = []
    for i, spec in enumerate(specs):
        rng = np.random.default_rng([seed, i])
        left = con.execute(spec.sql).fetch_arrow_table()
        if spec.pk is None:
            right, exp = _drift_keyless(spec, left, rng)
        elif left.group_by(spec.pk).aggregate([]).num_rows != left.num_rows:
            raise ValueError(f"{spec.name}: primary key {spec.pk} is not unique")
        else:
            right, exp = _drift_keyed(spec, left, rng)
        if spec.extra_col:
            right = right.append_column("replica_note", pa.array(["r"] * right.num_rows))
        write_parquet(left, out / "master" / f"{spec.name}.parquet")
        write_parquet(right, out / "slave" / f"{spec.name}.parquet")
        tables.append({
            "name": spec.name,
            "pk": spec.pk,
            "structure_ok": not spec.extra_col,
            "rows_left": left.num_rows,
            "rows_right": right.num_rows,
            "n_columns": left.num_columns,
            **exp,
        })
    con.close()
    return {
        "tables": tables,
        "input_rows": sum(t["rows_left"] + t["rows_right"] for t in tables),
    }


_VOCAB = (
    "the and of a to in is data spark table row column key value hash scan "
    "join sort group filter window merge stream batch query order line part "
    "agg fast slow big small vector index cell probe digest bucket chunk "
    "replica master slave drift repair verify report corpus token shard"
).split()


def quantize(x: np.ndarray) -> np.ndarray:
    """The engine's quantization (round half-up of x * 1e6) in numpy."""
    v = x.astype(np.float64) * 1_000_000
    return (np.sign(v) * np.floor(np.abs(v) + 0.5)).astype(np.int64)


def exact_topk(corpus: np.ndarray, queries: np.ndarray, k: int) -> np.ndarray:
    """Exact cosine top-k ids over quantized vectors, one row per query,
    ties toward the smaller id. Quantized dots are exact in float64 here
    (64 * (1e6)^2 < 2^53)."""
    c = quantize(corpus).astype(np.float64)
    q = quantize(queries).astype(np.float64)
    cos = (q @ c.T) / (np.sqrt((q * q).sum(1))[:, None] * np.sqrt((c * c).sum(1))[None, :])
    return np.lexsort((np.broadcast_to(np.arange(c.shape[0]), cos.shape), -cos), axis=1)[:, :k]


def _gen_llm(scale: dict, seed: int, out: Path) -> dict:
    rng = np.random.default_rng([seed, 101])
    n_docs = scale["docs"]
    vocab = np.array(_VOCAB)
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.03:  # exact duplicate of an earlier document
            texts.append(texts[rng.integers(0, i)])
        elif i > 10 and r < 0.06:  # near duplicate: one word rewritten
            words = texts[rng.integers(0, i)].split(" ")
            words[rng.integers(0, len(words))] = str(rng.choice(vocab))
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(vocab, size=int(rng.integers(10, 101)))))
    langs = np.array(["en", "de", "fr", "es", "zh"])
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(langs[rng.integers(0, 5, n_docs)]),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    centers = rng.normal(size=(EMBED_CLUSTERS, EMBED_DIM))

    def vectors(n: int) -> tuple[np.ndarray, np.ndarray]:
        cl = rng.integers(0, EMBED_CLUSTERS, n)
        v = centers[cl] + 0.6 * rng.normal(size=(n, EMBED_DIM))
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        return v.astype(np.float32), cl

    def embed_table(ids: np.ndarray, v: np.ndarray, cl: np.ndarray) -> pa.Table:
        flat = pa.array(v.reshape(-1), pa.float32())
        return pa.table({
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, v.size + 1, EMBED_DIM), pa.int32()), flat),
            "label": pa.array((cl % 10).astype(np.int32)),
        })

    cv, ccl = vectors(scale["vectors"])
    qv, qcl = vectors(scale["queries"])
    qids = QUERY_ID_BASE + np.arange(scale["queries"])
    llm = out / "llm"
    write_parquet(docs, llm / "documents.parquet")
    write_parquet(embed_table(np.arange(len(cv)), cv, ccl), llm / "embeddings.parquet")
    write_parquet(embed_table(qids, qv, qcl), llm / "queries.parquet", n_files=1)

    con = duckdb.connect()
    distinct = con.execute(
        f"SELECT count(DISTINCT text) FROM read_parquet('{llm}/documents.parquet/*.parquet')"
    ).fetchone()[0]
    con.close()
    top_ids = exact_topk(cv, qv, ANN_K)
    return {
        "n_docs": n_docs,
        "distinct_texts": int(distinct),
        "n_vectors": len(cv),
        "n_queries": len(qv),
        "k": ANN_K,
        "n_probe": ANN_N_PROBE,
        "exact_topk": {str(int(q)): [int(i) for i in row] for q, row in zip(qids, top_ids)},
        "input_rows": n_docs + len(cv) + len(qv),
    }


def generate(workload: str, seed: int, out_dir: str, scale: str = "bench") -> dict:
    """Write ``workload``'s inputs under ``out_dir`` and return (and write
    as ``expectations.json``) what a correct run must produce."""
    sc = SCALES[scale]
    out = Path(out_dir)
    if workload == "compare_light_drift":
        exp = _gen_compare(light_fleet(), sc["light_sf"], seed, out)
    elif workload == "compare_heavy_repair":
        exp = _gen_compare(heavy_fleet(HEAVY_DRIFT), sc["heavy_sf"], seed, out)
    elif workload == "llm_curate_ann":
        exp = _gen_llm(sc, seed, out)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    exp = {"workload": workload, "seed": seed, "scale": scale, **exp}
    out.mkdir(parents=True, exist_ok=True)
    (out / "expectations.json").write_text(json.dumps(exp, indent=1, sort_keys=True))
    return exp


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--out", required=True)
    p.add_argument("--scale", choices=sorted(SCALES), default="bench")
    a = p.parse_args()
    exp = generate(a.workload, a.seed, a.out, a.scale)
    print(json.dumps({k: v for k, v in exp.items() if k != "exact_topk"})[:2000])


if __name__ == "__main__":
    main()
