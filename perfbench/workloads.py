"""The benchmark's workloads: a batch query set and a document stream.

Each workload exposes the same four steps the runner drives:

- ``stage(spark, dirs, seed)``: generate the seeded inputs into the
  run's fresh directories (no Spark job);
- ``warm(spark)``: the warm-up work that ends set-up;
- ``window(spark, ledger)``: the timed, fixed amount of work. Returns
  the unit times (one unit = one pass over the query set, or one
  micro-batch) and the number of operations attempted and failed;
- ``check(spark)``: the correctness gate, run outside the timed window.

With a :class:`ledger.Ledger`, ``window`` opens a job-tag span around
every call into a layer, so the per-layer counters can be read back.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field

import inputs
from ledger import storage_bytes

SENSOR_QUERIES = (
    "vibration_features",
    "record_envelope_flat",
    "spectral_energy",
    "dedup_latest_state",
)
# the query whose rows land in the parquet lake instead of the noop sink
LAKE_QUERY = "record_envelope_flat"
LAKE_ZONE = "processed"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _span(ledger, layer: str, name: str):
    return ledger.span(layer, name) if ledger is not None else nullcontext()


@dataclass
class Window:
    """What one timed window did."""

    unit_s: list[float] = field(default_factory=list)
    wall_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    extra: dict = field(default_factory=dict)


class BatchWorkload:
    """A fixed set of registered queries run in passes over seeded tables.

    One pass builds every query's plan (``plans``), executes it
    (``operators``; the lake query writes through
    ``sources.parquet_lake.write_zone``), then drains the pinned frames
    (``cache.unpersist_all``)."""

    def __init__(self, queries: tuple[str, ...], tables: dict[str, int], passes: int, warm_passes: int):
        self.queries = queries
        self.tables = tables
        self.passes = passes
        self.warm_passes = warm_passes
        self.in_dir = ""
        self.lake_dir = ""
        self._lake_seq = 0

    def stage(self, spark, dirs: dict[str, str], seed: int) -> None:
        self.in_dir = dirs["inputs"]
        self.lake_dir = dirs["lake"]
        inputs.stage_tables(self.in_dir, seed, self.tables)

    def _fresh_lake(self) -> str:
        self._lake_seq += 1
        path = os.path.join(self.lake_dir, f"pass-{self._lake_seq:04d}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    def _pass(self, spark, ledger, lake_root: str, w: Window) -> float:
        from datapipeline_spike_spark.cache import unpersist_all
        from datapipeline_spike_spark.plans import REGISTRY
        from datapipeline_spike_spark.sources.parquet_lake import write_zone

        t0 = time.perf_counter()
        for q in self.queries:
            w.attempted += 1
            try:
                with _span(ledger, "plans", q):
                    df = REGISTRY[q].spark(spark, self.in_dir)
                with _span(ledger, "operators", q):
                    if q == LAKE_QUERY:
                        write_zone(df, lake_root, LAKE_ZONE, ts_col="SourceTimestamp")
                    else:
                        df.write.format("noop").mode("overwrite").save()
            except Exception:  # noqa: BLE001 - one failing query must not end the run
                w.failed += 1
                log(f"query {q} raised:\n{traceback.format_exc()}")
            if ledger is not None:
                w.extra.setdefault("pinned_bytes", []).append(storage_bytes(spark))
            with _span(ledger, "cache", q):
                unpersist_all(spark)
        return time.perf_counter() - t0

    def warm(self, spark) -> int:
        w = Window()
        for _ in range(self.warm_passes):
            lake = self._fresh_lake()
            self._pass(spark, None, lake, w)
            shutil.rmtree(lake, ignore_errors=True)
        if w.failed:
            raise RuntimeError(f"{w.failed} queries failed during warm-up")
        return self.warm_passes

    def window(self, spark, ledger=None) -> Window:
        """The timed passes. With a ledger each traced pass is paired with
        an untraced one, alternating which runs first, so
        ``untraced_unit_s`` is measured at the same point of the JIT
        warm-up curve and without an order bias."""
        w = Window()
        untraced: list[float] = []
        prev = None
        for i in range(self.passes):
            lake = self._fresh_lake()
            if ledger is None:
                w.unit_s.append(self._pass(spark, None, lake, w))
            else:
                for traced in (i % 2 == 0, i % 2 == 1):
                    if traced:
                        w.unit_s.append(self._pass(spark, ledger, lake, w))
                    else:
                        spare = self._fresh_lake()
                        untraced.append(self._pass(spark, None, spare, w))
                        shutil.rmtree(spare, ignore_errors=True)
            if prev is not None:
                shutil.rmtree(prev, ignore_errors=True)
            prev = lake
        w.wall_s = sum(w.unit_s)
        w.extra["last_lake"] = prev
        if ledger is not None:
            w.extra["untraced_wall_s"] = sum(untraced)
            w.extra["untraced_unit_s"] = untraced
            w.extra["lake_bytes"] = dir_bytes(prev)
        return w

    def scan_sources(self, spark, ledger, last_window: Window) -> float:
        """Time one scan of every staged table through the engine's
        loader (``plans.registry.load``) into the noop sink."""
        from datapipeline_spike_spark.plans.registry import load

        t0 = time.perf_counter()
        for table in sorted(self.tables):
            with _span(ledger, "sources", table):
                load(spark, self.in_dir, table).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def check(self, spark, last_window: Window) -> tuple[int, int, list[str]]:
        """Compare every query with its registered oracle SQL on DuckDB
        over the same input directory; the lake query is compared on
        the rows read back from the lake. Returns (checked, failed,
        problems)."""
        import duckdb

        from datapipeline_spike_spark.cache import scoped_cache
        from datapipeline_spike_spark.plans import REGISTRY
        from oracle import compare

        con = duckdb.connect()
        try:
            con.execute("SET threads TO 2")
            for t in self.tables:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.in_dir}/{t}.parquet'")
            problems: list[str] = []
            failed = 0
            for q in self.queries:
                try:
                    with scoped_cache(spark):
                        if q == LAKE_QUERY:
                            lake = os.path.join(last_window.extra["last_lake"], LAKE_ZONE)
                            sdf = spark.read.parquet(lake).drop("year", "month").toPandas()
                        else:
                            sdf = REGISTRY[q].spark(spark, self.in_dir).toPandas()
                    odf = con.execute(REGISTRY[q].oracle).df()
                    found = compare(q, sdf, odf)
                except Exception as e:  # noqa: BLE001 - a raising check is a failed check
                    found = [f"raised {type(e).__name__}: {e}"]
                if found:
                    failed += 1
                    problems.append(f"{q}: " + "; ".join(found))
            return len(self.queries), failed, problems
        finally:
            con.close()


class StreamWorkload:
    """Documents staged as parquet files, read with ``readStream`` one
    file per trigger and admitted through
    ``foreachBatch(streaming.pipeline.ingest_with_dedup)``. A closed
    loop with one query: the next micro-batch starts when the previous
    one commits (``trigger(availableNow=True)``)."""

    def __init__(self, batches: int, batch_docs: int, warm_batches: int):
        self.batches = batches
        self.batch_docs = batch_docs
        self.warm_batches = warm_batches
        self.dirs: dict[str, str] = {}
        self.input_ids: list[int] = []
        self.seed = 0
        self._run_seq = 0

    def stage(self, spark, dirs: dict[str, str], seed: int) -> None:
        self.dirs = dirs
        self.seed = seed
        src = os.path.join(dirs["inputs"], "stream")
        warm = os.path.join(dirs["inputs"], "warm")
        self.input_ids = inputs.stage_document_stream(src, seed, self.batches, self.batch_docs)
        inputs.stage_document_stream(warm, seed + 1, self.warm_batches, self.batch_docs)

    def _run_stream(self, spark, src: str, ledger) -> tuple[Window, dict[str, str]]:
        from pyspark.errors import StreamingQueryException

        from datapipeline_spike_spark.streaming.pipeline import ingest_with_dedup

        self._run_seq += 1
        root = os.path.join(self.dirs["lake"], f"run-{self._run_seq:02d}")
        shutil.rmtree(root, ignore_errors=True)
        sinks = {k: os.path.join(root, k) for k in ("lake", "index", "admitted", "rejected", "ckpt")}
        inner = ingest_with_dedup(
            sinks["lake"], sinks["admitted"], sinks["rejected"], index_root=sinks["index"]
        )
        w = Window()
        add_batch: list[float] = []

        def handle(batch_df, epoch_id: int) -> None:
            t0 = time.perf_counter()
            w.attempted += 1
            try:
                with _span(ledger, "streaming", "batch"):
                    inner(batch_df, epoch_id)
            except Exception:
                w.failed += 1
                raise
            finally:
                add_batch.append(time.perf_counter() - t0)

        stream = (
            spark.readStream.schema("doc_id long, text string, lang string, source string, n_chars long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        t0 = time.perf_counter()
        query = (
            stream.writeStream.foreachBatch(handle)
            .option("checkpointLocation", sinks["ckpt"])
            .trigger(availableNow=True)
            .start()
        )
        try:
            query.awaitTermination()
        except StreamingQueryException as e:
            # the batches after the failed one never ran; the check
            # reports their ids as missing
            log(f"the stream failed: {e}")
            w.failed = max(w.failed, 1)
        finally:
            w.wall_s = time.perf_counter() - t0
            progress = [p for p in query.recentProgress if p.numInputRows > 0]
            query.stop()
        w.unit_s = [p.durationMs["triggerExecution"] / 1000.0 for p in progress]
        w.extra["add_batch_s"] = add_batch
        w.extra["trigger_overhead_s"] = [
            (p.durationMs["triggerExecution"] - p.durationMs.get("addBatch", 0)) / 1000.0
            for p in progress
        ]
        return w, sinks

    def warm(self, spark) -> int:
        w, sinks = self._run_stream(spark, os.path.join(self.dirs["inputs"], "warm"), None)
        if w.failed:
            raise RuntimeError("the warm-up stream failed")
        self._release(spark)
        shutil.rmtree(os.path.dirname(sinks["lake"]), ignore_errors=True)
        return len(w.unit_s)

    @staticmethod
    def _release(spark) -> None:
        from datapipeline_spike_spark.cache import unpersist_all

        unpersist_all(spark, blocking=True)

    def window(self, spark, ledger=None) -> Window:
        """The timed stream. With a ledger an untraced stream over the
        same files runs beside the traced one (kept as ``untraced``); the
        seed's parity picks which runs first, so over seeds neither copy
        gains from the JIT warm-up the other one left behind."""
        untraced = None
        if ledger is not None and self.seed % 2 == 0:
            untraced = self.window(spark)
        w, sinks = self._run_stream(spark, os.path.join(self.dirs["inputs"], "stream"), ledger)
        w.extra["sinks"] = sinks
        if ledger is not None:
            w.extra["pinned_bytes"] = [storage_bytes(spark)]
            w.extra["lake_bytes"] = dir_bytes(sinks["lake"])
            w.extra["written_bytes"] = sum(
                dir_bytes(sinks[k]) for k in ("lake", "index", "admitted", "rejected")
            )
        t0 = time.perf_counter()
        with _span(ledger, "cache", "release"):
            self._release(spark)
        w.extra["release_s"] = time.perf_counter() - t0
        if ledger is not None:
            w.extra["untraced"] = untraced if untraced is not None else self.window(spark)
            w.extra["untraced_wall_s"] = w.extra["untraced"].wall_s
            w.extra["untraced_unit_s"] = w.extra["untraced"].unit_s
        return w

    def scan_sources(self, spark, ledger, last_window: Window) -> float:
        """Time one scan of the lake and the three index legs the
        stream wrote, through the noop sink."""
        sinks = last_window.extra["sinks"]
        t0 = time.perf_counter()
        for leg in ("lake", "index/fp", "index/bands", "index/shingles"):
            path = os.path.join(os.path.dirname(sinks["lake"]), leg)
            with _span(ledger, "sources", leg.replace("/", "_")):
                spark.read.parquet(path).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def check(self, spark, last_window: Window) -> tuple[int, int, list[str]]:
        """Invariants of the admitted/rejected split: disjoint, covering
        every input id, and the lake ids equal the fingerprint index ids."""
        sinks = last_window.extra["sinks"]

        def ids(path: str) -> list[int]:
            return [r[0] for r in spark.read.parquet(path).select("doc_id").collect()]

        admitted, rejected = ids(sinks["admitted"]), ids(sinks["rejected"])
        lake, fp = ids(sinks["lake"]), ids(os.path.join(sinks["index"], "fp"))
        last_window.extra["admitted"], last_window.extra["rejected"] = len(admitted), len(rejected)
        checks = {
            "admitted and rejected are disjoint": not set(admitted) & set(rejected),
            "admitted and rejected cover every input id once": sorted(admitted + rejected)
            == sorted(self.input_ids),
            "lake ids equal the fp index ids": sorted(lake) == sorted(fp),
        }
        problems = [name for name, ok in checks.items() if not ok]
        return len(checks), len(problems), problems


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
