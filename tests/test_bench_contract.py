"""bench.py is part of the driver contract: it must print exactly one JSON
line with the documented shape. Run it as a real subprocess at sf0.001."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def test_bench_emits_one_json_line(tmp_path):
    # an explicit sidecar path: a concurrent bench run cannot overwrite the
    # file this test reads back
    sidecar_path = tmp_path / "sidecar.json"
    env = dict(os.environ, SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001")
    env["SPARK_GRAFT_BENCH_SIDECAR"] = str(sidecar_path)
    proc = subprocess.run(
        [sys.executable, str(REPO / "bench.py")],
        capture_output=True,
        text=True,
        env=env,
        timeout=540,
        cwd=str(REPO),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    json_lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    assert len(json_lines) == 1, proc.stdout
    payload = json.loads(json_lines[0])
    assert payload["unit"] == "sec" and payload["sf"] == 0.001
    assert payload["value"] > 0
    assert set(payload["queries"]) and all(
        v >= 0 for v in payload["queries"].values()
    )
    assert abs(sum(payload["queries"].values()) - payload["value"]) < 0.1
    # The contract line stays COMPACT (round 13): the round-11 artifact was
    # lost to output-tail truncation when the line carried every sample.
    # Bulk evidence (samples, per-query steal) lives in the sidecar file.
    assert len(json_lines[0]) < 1024, len(json_lines[0])
    assert "samples" not in payload
    # Host-steal telemetry (round 11): on any Linux host the block must be
    # present and self-consistent, so a committed BENCH artifact carries its
    # own noisy-neighbor adjudication. Shape only — the value is the host's.
    if "host_steal_pct" in payload:
        steal = payload["host_steal_pct"]
        assert set(steal) == {"median", "max"}
        assert 0 <= steal["median"] <= steal["max"] <= 100
    sidecar = payload.get("samples_sidecar")
    assert sidecar == str(sidecar_path) and sidecar_path.exists()
    full = json.loads(Path(sidecar).read_text())
    assert set(full["samples"]) == set(payload["queries"])
    assert full["queries"] == payload["queries"]
    if "host_steal_pct" in full:
        assert set(full["host_steal_pct"]["per_query"]) <= set(payload["queries"])
