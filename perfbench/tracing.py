"""Per-layer tracing from outside the engine.

Spans are recorded around the benchmark's own calls into each layer's
public functions; nothing inside the package is instrumented. Every Spark
job submitted inside a span carries the span name as its job description,
and the Spark event log (enabled for the traced session only) supplies the
job walls, task counts, shuffle bytes and input records that the spans are
then charged with. The parsing follows ``tools/profile_entries.py``.
"""

from __future__ import annotations

import contextlib
import json
import time
from pathlib import Path

PREFIX = "perfbench:"

# The layers the traced run attributes time to: one span per call into a
# layer's public entry point, named <module>.<function>.
SPANS = [
    "sources.catalog",
    "compare.digest",
    "compare.drilldown",
    "compare.column_drift",
    "fixsql.fix_sql",
    "reconcile.apply_fixes",
    "reconcile.verify_repair",
    "plans.report",
    "curate.curate_corpus",
    "similarity.build_ivf_index",
    "similarity.ivf_query_index",
]
SPAN_STATS = {
    "wall_s": "s",
    "jobs": "count",
    "tasks": "count",
    "driver_gap_s": "s",
    "shuffle_write_mb": "MB",
    "records_read": "count",
}


class NullTracer:
    """The untraced run: same call sequence, no descriptions, no clocks."""

    def span(self, name: str):
        return contextlib.nullcontext()


class Tracer:
    """Flat, serial spans: (name, start, end) in epoch seconds, kept in
    memory and charged with event-log jobs after the session stops.
    ``bookkeeping_s`` is the time the spans themselves cost the traced
    thread: setting and clearing the job description."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[tuple[str, float, float]] = []
        self.bookkeeping_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str):
        if name not in SPANS:
            raise ValueError(f"unknown span {name!r}")
        a = time.perf_counter()
        self.sc.setJobDescription(PREFIX + name)
        t0 = time.time()
        self.bookkeeping_s += time.perf_counter() - a
        try:
            yield
        finally:
            t1 = time.time()
            a = time.perf_counter()
            self.spans.append((name, t0, t1))
            self.sc.setJobDescription(None)
            self.bookkeeping_s += time.perf_counter() - a


def _event_files(evdir: Path) -> list[Path]:
    """Event-log files under ``evdir``: single-file logs and the rolling
    ``eventlog_v2_*/events_N_*`` layout alike."""
    out = []
    for p in sorted(evdir.iterdir()):
        out.extend(sorted(p.glob("events_*")) if p.is_dir() else [p])
    return out


def read_event_log(evdir: str) -> tuple[list[dict], list[dict]]:
    """(jobs, stages) from a stopped session's event log. Times are epoch
    milliseconds from the driver's clock, the clock ``time.time()`` reads."""
    jobs: dict[int, dict] = {}
    stage_desc: dict[tuple[int, int], str] = {}
    stages: list[dict] = []
    for path in _event_files(Path(evdir)):
        with open(path) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue  # a torn last line of an unclosed log
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "desc": (ev.get("Properties") or {}).get("spark.job.description"),
                        "t0": ev["Submission Time"],
                        "t1": None,
                    }
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"]
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    stage_desc[(info["Stage ID"], info["Stage Attempt ID"])] = (
                        ev.get("Properties") or {}
                    ).get("spark.job.description")
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    acc = {a.get("Name"): a.get("Value") for a in info.get("Accumulables", [])}
                    stages.append({
                        "desc": stage_desc.get((info["Stage ID"], info["Stage Attempt ID"])),
                        "t0": info.get("Submission Time") or 0,
                        "tasks": info.get("Number of Tasks", 0),
                        "shuffle_write": int(acc.get("internal.metrics.shuffle.write.bytesWritten") or 0),
                        "records_read": int(acc.get("internal.metrics.input.recordsRead") or 0),
                    })
    return [j for j in jobs.values() if j["t1"] is not None], stages


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def span_stats(spans: list[tuple[str, float, float]], jobs: list[dict],
               stages: list[dict]) -> dict[str, dict[str, float]]:
    """Per span name: totals over all recorded instances of ``SPAN_STATS``.

    A job or stage belongs to the span instance whose name it carries and
    whose interval contains its submission time; spans are serial, so the
    match is unique. ``driver_gap_s`` is the instance's wall minus the union
    of its jobs' walls: planning, py4j and scheduling time with no job
    running.
    """
    out = {name: dict.fromkeys(SPAN_STATS, 0.0) for name in SPANS}
    for name, t0, t1 in spans:
        lo, hi = t0 * 1000 - 1, t1 * 1000 + 1
        desc = PREFIX + name
        mine = [j for j in jobs if j["desc"] == desc and lo <= j["t0"] <= hi]
        st = [s for s in stages if s["desc"] == desc and lo <= s["t0"] <= hi]
        wall_ms = (t1 - t0) * 1000
        busy = _union_ms([(max(j["t0"], lo), min(j["t1"], hi)) for j in mine])
        o = out[name]
        o["wall_s"] += wall_ms / 1000
        o["jobs"] += len(mine)
        o["tasks"] += sum(s["tasks"] for s in st)
        o["driver_gap_s"] += max(0.0, wall_ms - busy) / 1000
        o["shuffle_write_mb"] += sum(s["shuffle_write"] for s in st) / 1e6
        o["records_read"] += sum(s["records_read"] for s in st)
    return out
