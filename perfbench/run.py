"""Benchmark of the PySpark engine: one command per workload.

    python3 perfbench/run.py --workload sensor_etl --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Each run

1. builds a pinned session (``cpus`` and the driver heap passed to
   ``session.get_session``), stages seeded inputs into fresh
   directories and warms up; ``setup_s`` times the three together;
2. runs a fixed amount of work (a number of passes or micro-batches
   derived from ``--seconds``, the same on every host) with tracing off
   and measures the CPU time of the process tree over it (``cpu_s``;
   its wall times go to the sidecar), or, with ``--trace 1``, runs the
   same work under a job-tag ledger beside an untraced copy of it and
   reports the per-layer counters instead of the end-to-end metrics;
3. checks the outputs (DuckDB oracle or stream invariants), outside the
   timed window;
4. removes every directory it made, stops the JVM and waits for every
   process it started.

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. A sidecar with the host-noise
record, pass times and raw counters goes to ``perfbench/results/``.
See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import host  # noqa: E402
import workloads as wl  # noqa: E402
from ledger import Ledger, Tally, storage_bytes  # noqa: E402

MAX_CPUS = 2
HEAP = "1g"

# Per-workload sizing. ``unit_s`` is the nominal time of one unit of the
# timed work (a pass over the query set, or a micro-batch), about what a
# 4-vCPU x86 host takes; ``--seconds`` is turned into a unit count with
# it, so the work, not the wall time, is fixed for a given ``--seconds``.
WORKLOADS = {
    "sensor_etl": {
        "kind": "batch",
        "queries": wl.SENSOR_QUERIES,
        "tables": {"events": 100_000},
        "warm_passes": 3,
        "unit_s": 3.3,
        "min_units": 2,
    },
    "doc_ingest_stream": {
        "kind": "stream",
        "batch_docs": 250,
        "warm_batches": 2,
        "unit_s": 3.3,
        "min_units": 3,
    },
}

END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER_SCALARS = {
    "run_s": "s",
    "batch_p50_s": "s",
    "session.start_s": "s",
    "session.warm_s": "s",
    "session.warm_passes": "count",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "sources.scan_s": "s",
    "sources.input_bytes": "bytes",
    "sources.input_rows": "count",
    "sources.lake_write_s": "s",
    "sources.lake_bytes": "bytes",
    "operators.exec_s": "s",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.executor_run_ms": "ms",
    "operators.executor_cpu_ms": "ms",
    "operators.gc_ms": "ms",
    "operators.shuffle_read_bytes": "bytes",
    "operators.shuffle_write_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "cache.pinned_bytes": "bytes",
    "cache.residual_bytes": "bytes",
    "cache.release_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.trigger_overhead_s": "s",
    "streaming.jobs_per_batch": "count",
    "streaming.index_rows": "count",
    "streaming.bytes_written_per_doc": "bytes",
    "trace.overhead_s": "s",
}
PER_QUERY = {"build_s": "s", "exec_s": "s", "shuffle_bytes": "bytes"}


def per_layer_units() -> dict[str, str]:
    units = dict(PER_LAYER_SCALARS)
    for q in wl.SENSOR_QUERIES:
        for k, u in PER_QUERY.items():
            units[f"q.{q}.{k}"] = u
    return units


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--scale", type=float, default=1.0,
        help="multiply every input row count (the benchmark's own tests use a small scale)",
    )
    return p.parse_args(argv)


def engine_available() -> bool:
    try:
        import datapipeline_spike_spark.session  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        wl.log(f"the engine cannot be imported from {ROOT}: {e}")
        return False
    return os.path.exists(os.path.join(ROOT, "tools", "check_oracle.py"))


def cpus_and_heap() -> tuple[int, str]:
    return min(MAX_CPUS, len(os.sched_getaffinity(0))), HEAP


def make_workload(name: str, seconds: float, scale: float):
    spec = WORKLOADS[name]
    units = max(spec["min_units"], round(seconds / spec["unit_s"]))
    if spec["kind"] == "batch":
        tables = {t: max(50, int(n * scale)) for t, n in spec["tables"].items()}
        return wl.BatchWorkload(spec["queries"], tables, units, spec["warm_passes"])
    return wl.StreamWorkload(units, max(20, int(spec["batch_docs"] * scale)), spec["warm_batches"])


class Run:
    """One benchmark process: its directories, sessions and results."""

    def __init__(self, args: argparse.Namespace) -> None:
        self.args = args
        self.cpus, self.heap = cpus_and_heap()
        tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
        self.work = os.path.join(HERE, ".work", tag)
        self.dirs = {k: os.path.join(self.work, k) for k in ("local", "tmp", "warehouse")}
        self.spark = None
        self.ledger = None

    def prepare_env(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        for d in self.dirs.values():
            os.makedirs(d)
        # read when the JVMs and the Python workers start; the launcher
        # JVM that spark-submit runs first takes only SPARK_LAUNCHER_OPTS
        os.environ["SPARK_LOCAL_DIRS"] = self.dirs["local"]
        os.environ["TMPDIR"] = self.dirs["tmp"]
        os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={self.dirs['tmp']}"

    def new_session(self):
        from datapipeline_spike_spark.session import get_session

        return get_session(
            "perfbench",
            cpus=self.cpus,
            extra_conf={
                "spark.driver.memory": self.heap,
                "spark.local.dir": self.dirs["local"],
                "spark.sql.warehouse.dir": self.dirs["warehouse"],
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.dirs['tmp']} -XX:-UsePerfData",
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "20000",
                "spark.ui.retainedStages": "40000",
            },
        )

    def stage_dirs(self) -> dict[str, str]:
        out = {k: os.path.join(self.work, k) for k in ("inputs", "lake")}
        for d in out.values():
            os.makedirs(d)
        return out

    def setup(self, workload) -> dict:
        t0 = time.perf_counter()
        self.spark = self.new_session()
        t1 = time.perf_counter()
        workload.stage(self.spark, self.stage_dirs(), self.args.seed)
        t2 = time.perf_counter()
        units = workload.warm(self.spark)
        t3 = time.perf_counter()
        setup = {"start_s": t1 - t0, "stage_s": t2 - t1, "warm_s": t3 - t2, "warm_units": units,
                 "total_s": t3 - t0}
        wl.log(f"set-up: {setup}")
        return setup

    def teardown(self) -> None:
        """Stop the session and the JVM, then wait until every process
        this run started (the JVM, the Python daemon and its workers)
        has ended, and remove the run's directories."""
        from pyspark import SparkContext

        started = host.tree_pids(os.getpid())[1:]
        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()  # the launched JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        for pid in started:
            _wait_gone(pid)
        shutil.rmtree(self.work, ignore_errors=True)
        parent = os.path.dirname(self.work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def _wait_gone(pid: int, timeout_s: float = 30.0) -> None:
    deadline = time.monotonic() + timeout_s
    while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


def host_state() -> dict:
    return {
        "cpu": host.cpu_times(),
        "loadavg": host.load_average(),
        "tree_ticks": host.tree_cpu_ticks(os.getpid()),
    }


def noise_record(before: dict, after: dict, window: wl.Window) -> dict:
    """The timed window's wall times beside what the host did around it,
    kept in the sidecar so a drift between runs can be put down to the
    host (steal, load) rather than to the code."""
    return {
        **host.cpu_shares(before["cpu"], after["cpu"]),
        "loadavg_before": before["loadavg"],
        "loadavg_after": after["loadavg"],
        "run_s": window.wall_s,
        "batch_p50_s": wl.median(window.unit_s),
        "unit_s": window.unit_s,
    }


def per_layer(run: Run, workload, setup: dict, wt: wl.Window, scan_s, tallies, residual, index_rows) -> dict:
    """Per-unit layer metrics of the traced window (units = passes or
    micro-batches); every metric is present on every workload, 0 where
    the workload does not touch the layer."""
    units = max(1, len(wt.unit_s))
    tag = Ledger.tag

    def tally(layer: str, names) -> Tally:
        out = Tally()
        for n in names:
            if tag(layer, n) in tallies:
                out.add(tallies[tag(layer, n)])
        return out

    def wall(layer: str, names) -> float:
        return sum(run.ledger.wall.get(tag(layer, n), 0.0) for n in names)

    m = dict.fromkeys(per_layer_units(), 0.0)
    m["session.start_s"] = setup["start_s"]
    m["session.warm_s"] = setup["warm_s"]
    m["session.warm_passes"] = setup["warm_units"]
    m["sources.scan_s"] = scan_s
    m["sources.lake_bytes"] = wt.extra.get("lake_bytes", 0)
    m["cache.residual_bytes"] = residual
    m["cache.pinned_bytes"] = sum(wt.extra.get("pinned_bytes", [])) / (
        units if isinstance(workload, wl.BatchWorkload) else 1
    )
    m["run_s"] = wt.extra["untraced_wall_s"]
    m["batch_p50_s"] = wl.median(wt.extra["untraced_unit_s"])
    m["trace.overhead_s"] = wt.wall_s - m["run_s"]
    if isinstance(workload, wl.BatchWorkload):
        qs = workload.queries
        build, execs = tally("plans", qs), tally("operators", qs)
        both = Tally()
        both.add(build)
        both.add(execs)
        m["plans.build_s"] = wall("plans", qs) / units
        m["plans.build_jobs"] = build["jobs"] / units
        m["sources.input_bytes"] = both["input_bytes"] / units
        m["sources.input_rows"] = both["input_rows"] / units
        m["sources.lake_write_s"] = tally("operators", [wl.LAKE_QUERY])["write_job_s"] / units
        m["operators.exec_s"] = wall("operators", qs) / units
        m["cache.release_s"] = wall("cache", qs) / units
        for q in qs:
            m[f"q.{q}.build_s"] = wall("plans", [q]) / units
            m[f"q.{q}.exec_s"] = wall("operators", [q]) / units
            m[f"q.{q}.shuffle_bytes"] = (
                tally("plans", [q])["shuffle_write_bytes"] + tally("operators", [q])["shuffle_write_bytes"]
            ) / units
    else:
        execs = tally("streaming", ["batch"])
        m["sources.input_bytes"] = execs["input_bytes"] / units
        m["sources.input_rows"] = execs["input_rows"] / units
        m["sources.lake_write_s"] = execs["write_job_s"] / units
        m["operators.exec_s"] = sum(wt.extra["add_batch_s"]) / units
        m["cache.release_s"] = wt.extra["release_s"]
        m["streaming.add_batch_s"] = wl.median(wt.extra["add_batch_s"])
        m["streaming.trigger_overhead_s"] = wl.median(wt.extra["trigger_overhead_s"])
        m["streaming.jobs_per_batch"] = execs["jobs"] / units
        m["streaming.index_rows"] = index_rows
        m["streaming.bytes_written_per_doc"] = wt.extra["written_bytes"] / max(1, len(workload.input_ids))
    for k in ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        m[f"operators.{k}"] = execs[k] / units
    return m


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not engine_available():
        return 2
    workload = make_workload(args.workload, args.seconds, args.scale)
    run = Run(args)
    run.prepare_env()
    sidecar: dict = {"args": vars(args), "cpus": run.cpus, "heap": run.heap, "nproc": os.cpu_count()}
    attempted = failed = 0
    problems: list[str] = []
    try:
        with host.RssSampler() as rss:
            setup = run.setup(workload)
            spark = run.spark
            if args.trace:
                run.ledger = Ledger(spark)
            before = host_state()
            w = workload.window(spark, run.ledger)
            after = host_state()
            cpu_s = host.cpu_s_between(before["tree_ticks"], after["tree_ticks"])
            sidecar["noise"] = noise_record(before, after, w)
            wl.log(f"timed window: {w.wall_s:.3f} s, units {[round(u, 3) for u in w.unit_s]}")
            windows = [w] + ([w.extra["untraced"]] if "untraced" in w.extra else [])
            if args.trace:
                scan_s = workload.scan_sources(spark, run.ledger, w)
                tallies = run.ledger.read()
                index_rows = 0
                if isinstance(workload, wl.StreamWorkload):
                    index_rows = spark.read.parquet(os.path.join(w.extra["sinks"]["index"], "fp")).count()
            peak_rss_mb = rss.peak_mb
        for win in windows:
            attempted += win.attempted
            failed += win.failed
            n_checked, n_bad, found = workload.check(spark, win)
            attempted += n_checked
            failed += n_bad
            problems += found
        if args.trace:
            from datapipeline_spike_spark.cache import unpersist_all

            unpersist_all(spark, blocking=True)
            residual = storage_bytes(spark)
            metrics_raw = per_layer(run, workload, setup, w, scan_s, tallies, residual, index_rows)
            units = per_layer_units()
            sidecar["tallies"] = {k: v.values for k, v in tallies.items()}
        else:
            metrics_raw = {"setup_s": setup["total_s"], "cpu_s": cpu_s, "peak_rss_mb": peak_rss_mb}
            units = END_TO_END
    finally:
        run.teardown()
    for p in problems:
        wl.log(f"correctness: {p}")
    sidecar.update(
        setup=setup, problems=problems, failed_ops=failed, attempted=attempted,
        stream_counts={k: w.extra.get(k) for k in ("admitted", "rejected")},
    )
    metrics = {k: {"value": metrics_raw[k], "unit": u} for k, u in units.items()}
    sidecar["metrics"] = metrics
    out_dir = os.path.join(HERE, "results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(sidecar, f, indent=1, default=str)
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
