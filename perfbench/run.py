#!/usr/bin/env python3
"""perfbench: the repository benchmark. One process, one workload, one seed.

    python3 perfbench/run.py --workload compare_light_drift --seed 1 \\
        --seconds 1 --trace 0

Set-up (session start and, overlapped with it, seeded input generation) is
timed as ``setup_s``. Then a closed loop runs iterations, each starting
after the previous one finished, until ``--seconds`` have elapsed;
``run_s`` is the first, cold one: what one run of the program costs a user
once the JVM is up. Every iteration reads its inputs under a fresh path,
and the session-held state it leaves (persisted RDDs, cached frames,
output directories) is counted and released before the next one.

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` makes the same public calls serially, in a session with the
Spark event log on and a span around every layer call, and reports the
per-layer metrics of that one cold iteration. ``--workload all`` runs every
workload in one process. The last line of stdout is one JSON object; the
exit code is nonzero when any output check failed.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

T_START = time.monotonic()  # set-up is timed from here
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import gen  # noqa: E402
import tracing  # noqa: E402
import workloads as wl  # noqa: E402

CORES = min(4, len(os.sched_getaffinity(0)))
DRIVER_MEM = "2g"


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def cpu_stat() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def steal_pct(a: tuple[int, int], b: tuple[int, int]) -> float:
    return 100.0 * (b[0] - a[0]) / max(1, b[1] - a[1])


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


class Session:
    """The Spark session this process drives, started and stopped around
    each phase. Only the first start launches the JVM; memory, scratch and
    temp locations are fixed then and stay inside the work directory."""

    def __init__(self, work: Path) -> None:
        self.work = work
        self.spark = None
        self.event_dir: Path | None = None

    def start(self, event_log: bool = False):
        from tidb_large_table_compare_spark.session import get_spark

        conf = {
            "spark.local.dir": str(self.work / "spark-local"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData -Xms2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
        }
        self.event_dir = None
        if event_log:
            self.event_dir = self.work / f"eventlog-{time.time_ns()}"
            self.event_dir.mkdir(parents=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(self.event_dir),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark("perfbench", extra_conf=conf)
        return self.spark

    def context(self) -> dict:
        """The Spark settings actually in effect, for the host record."""
        sc = self.spark.sparkContext
        return {
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "shuffle_partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
            "driver_memory": sc.getConf().get("spark.driver.memory"),
        }

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError("VmHWM missing from /proc status")

    def eventlog_cpu_s(self) -> float:
        """CPU seconds the event-log writer thread has used so far."""
        jvm = self.spark.sparkContext._jvm
        mx = jvm.java.lang.management.ManagementFactory.getThreadMXBean()
        return sum(mx.getThreadCpuTime(t.getId()) for t in jvm.java.lang.Thread.getAllStackTraces().keySet()
                   if t.getName() == "spark-listener-group-eventLog") / 1e9

    def persisted(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()

    def release(self) -> None:
        """Drop what an iteration left registered in the session."""
        self.spark.catalog.clearCache()
        for rdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(False)

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None


class Runner:
    """One workload's set-up, iterations and checks."""

    def __init__(self, name: str, args, work: Path, session: Session, t0: float) -> None:
        self.name, self.args, self.session = name, args, session
        self.work = work / name
        self.spec = wl.WORKLOADS[name]
        self.t0 = t0
        self.n = 0  # iterations run; iteration i reads work/in/<i>
        self.attempted = 0
        self.failed: dict[str, list[str]] = {}
        self.vectors = None
        self.exp: dict = {}

    # -- set-up ---------------------------------------------------------
    def setup(self, event_log: bool = False) -> None:
        # input generation (DuckDB, numpy, Arrow: GIL-free) overlaps the
        # session's start
        with ThreadPoolExecutor(1) as pool:
            fut = pool.submit(gen.generate, self.name, self.args.seed,
                              str(self.work / "in" / "0"), self.args.scale)
            self.session.start(event_log)
            self.exp = fut.result()
        if self.args.corrupt_expectation:
            if self.spec["kind"] == "compare":
                self.exp["tables"][0]["upcount"] += 1
            else:
                self.exp["distinct_texts"] += 1
        if self.spec["kind"] == "llm":
            self.vectors = wl.llm_vectors(self.work / "in" / "0")

    # -- one iteration ----------------------------------------------------
    def iteration(self, tracer=None) -> dict:
        """Run once; returns the sample. ``tracer`` None is the program's
        own entry point (the CLI for compare fleets), otherwise the serial
        call sequence under that tracer."""
        prev = self.work / "in" / str(self.n)
        self.n += 1
        inputs = self.work / "in" / str(self.n)
        os.rename(prev, inputs)
        out = self.work / "out" / str(self.n)
        out.mkdir(parents=True)
        spark = self.session.spark
        before = self.session.persisted()
        s0 = cpu_stat()
        t = time.monotonic()
        obs, err = None, None
        try:
            if self.spec["kind"] == "llm":
                obs = wl.llm_iteration(spark, tracer or tracing.NullTracer(),
                                       self.exp, inputs, out)
            elif tracer is None:
                obs = wl.compare_cli(self.exp, self.spec, inputs, out)
            else:
                obs = wl.compare_serial(spark, tracer, self.exp, self.spec, inputs, out)
        except Exception:  # a failed iteration is counted, not fatal
            err = traceback.format_exc()
        wall = time.monotonic() - t
        sample = {
            "wall_s": wall,
            "steal_pct": steal_pct(s0, cpu_stat()),
            "persisted_rdds_left": self.session.persisted() - before,
            "write_bytes": dir_bytes(out),
        }
        self.session.release()
        shutil.rmtree(out, ignore_errors=True)
        if err is not None:
            log(f"{self.name} iteration {self.n} raised:\n{err}")
            units = (1 + self.exp["n_queries"] if self.spec["kind"] == "llm"
                     else len(self.exp["tables"]))
            self.attempted += units
            self.failed[f"iteration {self.n}"] = [err.strip().splitlines()[-1]]
            return sample
        if self.spec["kind"] == "llm":
            units, wrong, sample["recall"] = wl.check_llm(self.exp, obs, self.vectors)
        else:
            units, wrong = wl.check_compare(self.exp, self.spec, obs)
            sample["verdict_s"] = (obs.get("_cli") or obs["_serial"])["verdict_s"]
            sample["diff_rows"] = wl.diff_rows(obs)
        self.attempted += units
        for unit, msgs in wrong.items():
            self.failed[f"iteration {self.n} {unit}"] = msgs
        return sample

    def loop(self, seconds: float, tracer=None) -> list[dict]:
        """Closed loop: iterations back to back until ``seconds`` elapse."""
        samples = []
        t = time.monotonic()
        while not samples or time.monotonic() - t < seconds:
            samples.append(self.iteration(tracer))
            log(f"{self.name} iteration {self.n}: " + json.dumps(
                {k: v for k, v in samples[-1].items() if k != "verdict_s"}))
        return samples

    # -- the two modes --------------------------------------------------------
    def end_to_end(self) -> dict:
        self.setup()
        setup_s = time.monotonic() - self.t0
        log(f"{self.name} setup_s={setup_s:.3f} host={json.dumps(self.host())}")
        samples = self.loop(self.args.seconds)
        first = samples[0]  # the cold iteration: what one fresh run costs
        metrics = {
            "setup_s": (setup_s, "s"),
            "run_s": (first["wall_s"], "s"),
            "rows_per_s": (self.exp["input_rows"] / first["wall_s"], "rows/s"),
            "write_mb": (first["write_bytes"] / 1e6, "MB"),
        }
        info = {
            "jvm_peak_rss_mb": self.session.jvm_peak_rss_mb(),
            "iterations": len(samples),
            "persisted_rdds_left": first["persisted_rdds_left"],
            "steal_pct": first["steal_pct"],
        }
        if len(samples) > 1:
            info["warm_run_s"] = statistics.median(s["wall_s"] for s in samples[1:])
        if self.spec["kind"] == "compare":
            info["table_verdict_s"] = statistics.median(first["verdict_s"] or [0.0])
        else:
            info["ann_recall_at_k"] = first.get("recall", 0.0)
        log(f"{self.name} info {json.dumps(info)}")
        return metrics

    def traced(self) -> dict:
        """Per-layer metrics of the cold serial iteration, the one the
        end-to-end ``run_s`` times, in a session that writes the event log.

        The tracing overhead is the tracing's own work: the spans'
        bookkeeping on the traced thread plus the CPU time of the thread
        that writes the event log, against the iteration's wall. An
        untraced twin of a cold iteration would need a second JVM."""
        self.setup(event_log=True)
        tracer = tracing.Tracer(self.session.spark.sparkContext)
        cold = self.iteration(tracer)
        spans = tracer.spans
        log(f"{self.name} iteration 1: {json.dumps(cold)}")
        log(f"{self.name} host={json.dumps(self.host())}")
        rss = self.session.jvm_peak_rss_mb()
        eventlog_cpu_s = self.session.eventlog_cpu_s()
        self.session.stop()
        jobs, stages = tracing.read_event_log(str(self.session.event_dir))
        stats = tracing.span_stats(spans, jobs, stages)
        metrics = {}
        for span in tracing.SPANS:
            for stat, unit in tracing.SPAN_STATS.items():
                metrics[f"{span}.{stat}"] = (stats[span][stat], unit)
        metrics["compare.digest.calls"] = (
            sum(1 for s in spans if s[0] == "compare.digest"), "count")
        dd_read = stats["compare.drilldown"]["records_read"]
        metrics["compare.drilldown.useful_frac"] = (
            cold.get("diff_rows", 0) / dd_read if dd_read else 0.0, "ratio")
        results = self.exp.get("n_queries", 0) * self.exp.get("k", 0)
        q_read = stats["similarity.ivf_query_index"]["records_read"]
        metrics["similarity.probe_rows_read_per_result"] = (
            q_read / results if results else 0.0, "rows")
        metrics["trace.unattributed_s"] = (
            cold["wall_s"] - sum(b - a for _, a, b in spans), "s")
        metrics["trace.overhead_frac"] = (
            (tracer.bookkeeping_s + eventlog_cpu_s) / cold["wall_s"], "ratio")
        metrics["storage.persisted_rdds_left"] = (cold["persisted_rdds_left"], "count")
        metrics["table_verdict_s"] = (statistics.median(cold.get("verdict_s") or [0.0]), "s")
        metrics["ann_recall_at_k"] = (cold.get("recall", 0.0), "ratio")
        metrics["jvm.peak_rss_mb"] = (rss, "MB")
        return metrics

    def host(self) -> dict:
        """Host context logged beside the samples (which carry their own
        CPU steal): cores, and the Spark settings in effect."""
        return {"nproc": len(os.sched_getaffinity(0)), "cpu_count": os.cpu_count(),
                "spark_cores": CORES, **self.session.context()}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=[*wl.WORKLOADS, "all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=1)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=sorted(gen.SCALES), default="bench",
                   help="input size: bench (measured) or tiny (self-tests)")
    p.add_argument("--corrupt-expectation", action="store_true",
                   help="self-test: falsify one expectation, so the checks must fail")
    args = p.parse_args(argv)
    try:
        import tidb_large_table_compare_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable here: {exc}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{os.getpid()}-{time.time_ns()}"
    (work / "tmp").mkdir(parents=True)
    os.environ.update({
        # the launcher JVM that builds the driver command takes these
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}",
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": str(work / "tmp"),
    })
    tempfile.tempdir = str(work / "tmp")
    session = Session(work)
    names = list(wl.WORKLOADS) if args.workload == "all" else [args.workload]
    metrics: dict[str, dict] = {}
    attempted = failed = wrong = 0
    steal0 = cpu_stat()
    try:
        t0 = T_START
        for name in names:
            r = Runner(name, args, work, session, t0)
            got = r.traced() if args.trace else r.end_to_end()
            session.stop()
            prefix = f"{name}." if len(names) > 1 else ""
            for k, (v, unit) in got.items():
                metrics[prefix + k] = {"value": v, "unit": unit}
            attempted += r.attempted
            failed += len(r.failed)
            wrong += sum(len(m) for m in r.failed.values())
            for unit, msgs in r.failed.items():
                log(f"{name} WRONG {unit}: {'; '.join(msgs)}")
            t0 = time.monotonic()
    finally:
        session.shutdown()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            work.parent.rmdir()  # only when no other run is using it
    log(f"wrong_results={wrong} failed_frac={failed / max(1, attempted):.6f} "
        f"steal_pct={steal_pct(steal0, cpu_stat()):.2f}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
