"""Self-tests of the benchmark, on the tiny (TPC-H sf0.001-derived) input.

    python3 -m pytest perfbench/test_perfbench.py -q

The end-to-end tests start a Spark session per command and take a few
minutes in all.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
NAME = re.compile(r"[A-Za-z0-9_.-]+")


@pytest.fixture
def workdir():
    d = ROOT / ".perfbench_work" / f"tests-{os.getpid()}"
    d.mkdir(parents=True, exist_ok=True)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _digests(root: Path, side: str) -> dict[str, str]:
    return {
        str(p.relative_to(root)): hashlib.sha256(p.read_bytes()).hexdigest()
        for p in sorted((root / side).rglob("*.parquet")) if p.is_file()
    }


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_generator_is_deterministic_and_seeded(workload, workdir):
    a = gen.generate(workload, 7, str(workdir / "a"), "tiny")
    b = gen.generate(workload, 7, str(workdir / "b"), "tiny")
    c = gen.generate(workload, 8, str(workdir / "c"), "tiny")
    assert a == b
    side = "llm" if workload == "llm_curate_ann" else "slave"
    assert _digests(workdir / "a", side) == _digests(workdir / "b", side)
    # another seed drifts other keys (the master side is seed-independent)
    assert _digests(workdir / "a", side) != _digests(workdir / "c", side)
    if side == "slave":
        assert _digests(workdir / "a", "master") == _digests(workdir / "c", "master")


def _run(*args: str) -> tuple[int, dict, str]:
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--scale", "tiny", "--seconds", "1", *args],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    return p.returncode, json.loads(p.stdout.strip().splitlines()[-1]), p.stderr


def test_wrong_expectation_is_caught():
    rc, out, err = _run("--workload", "compare_light_drift", "--seed", "3",
                        "--corrupt-expectation")
    assert rc != 0
    assert out["correct"] is False and out["failed"] >= 1, err[-2000:]


def test_names_are_well_formed_and_unique():
    names = ([w["name"] for w in BENCH["workloads"]]
             + [m["name"] for m in BENCH["end_to_end"]]
             + [m["name"] for m in BENCH["per_layer"]])
    assert all(NAME.fullmatch(n) for n in names)
    assert len(set(names)) == len(names)


@pytest.mark.parametrize("trace,key", [(0, "end_to_end"), (1, "per_layer")])
def test_every_metric_is_reported(trace, key):
    rc, out, err = _run("--workload", "all", "--seed", "5", "--trace", str(trace))
    assert rc == 0 and out["correct"] is True, err[-2000:]
    assert out["attempted"] >= 1 and out["failed"] == 0
    for w in BENCH["workloads"]:
        for m in BENCH[key]:
            got = out["metrics"][f"{w['name']}.{m['name']}"]
            assert got["unit"] == m["unit"]
            assert isinstance(got["value"], (int, float))
