"""Per-layer resource ledger read back from Spark's status store.

Every span the benchmark opens is a Spark job tag
(``SparkContext.addJobTag``/``removeJobTag``): each job started while
the span is open carries the tag. After the timed work, :meth:`Ledger.read`
walks ``statusStore().jobsList(None)`` once and sums, per tag, the job
count, wall time of write jobs, and the stage counters of every stage
that ran (``lastStageAttempt``): tasks, executor run/CPU/GC time,
shuffle read/write bytes, spill bytes and input bytes/rows. These are
counts the host cannot fake: the same plan on the same input gives the
same jobs, stages and shuffle bytes however slow the machine is.

Works with ``spark.ui.enabled=false``; the status store is still fed
by the listener bus. The session must retain enough jobs and stages
(``spark.ui.retainedJobs``/``retainedStages``) for the traced window.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Iterator

TAG_PREFIX = "perfbench"

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_ms",
    "executor_cpu_ms",
    "gc_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "input_rows",
    "output_bytes",
    "write_job_s",
)


@dataclass
class Tally:
    """Counters of one tag, summed over every job that carried it."""

    values: dict[str, float] = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))

    def add(self, other: "Tally") -> None:
        for k, v in other.values.items():
            self.values[k] += v

    def __getitem__(self, key: str) -> float:
        return self.values[key]


class Ledger:
    """Job-tag spans plus their wall times, read back per tag."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self.wall: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)

    @staticmethod
    def tag(layer: str, name: str) -> str:
        return f"{TAG_PREFIX}.{layer}.{name}"

    @contextmanager
    def span(self, layer: str, name: str) -> Iterator[str]:
        tag = self.tag(layer, name)
        self._sc.addJobTag(tag)
        t0 = time.perf_counter()
        try:
            yield tag
        finally:
            self.wall[tag] += time.perf_counter() - t0
            self.calls[tag] += 1
            self._sc.removeJobTag(tag)

    def read(self) -> dict[str, Tally]:
        """Sum the status-store counters of every tagged job by tag.

        Waits for the listener bus to drain first, so every finished
        job's stage metrics are in the store."""
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs = store.jobsList(None)
        out: dict[str, Tally] = defaultdict(Tally)
        seen_stages: dict[str, set[int]] = defaultdict(set)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            tags = [t for t in _scala_iter(job.jobTags()) if t.startswith(TAG_PREFIX)]
            if not tags:
                continue
            stage_rows = []
            for sid in _scala_iter(job.stageIds()):
                stage = store.lastStageAttempt(int(sid))
                if str(stage.status()) != "COMPLETE":
                    continue  # skipped (reused shuffle output) or failed
                stage_rows.append((int(sid), stage))
            wrote = any(s.outputBytes() > 0 for _, s in stage_rows)
            job_s = _job_seconds(job) if wrote else 0.0
            for tag in tags:
                t = out[tag].values
                t["jobs"] += 1
                t["write_job_s"] += job_s
                for sid, s in stage_rows:
                    if sid in seen_stages[tag]:
                        continue
                    seen_stages[tag].add(sid)
                    t["stages"] += 1
                    t["tasks"] += s.numTasks()
                    t["executor_run_ms"] += s.executorRunTime()
                    t["executor_cpu_ms"] += s.executorCpuTime() / 1e6
                    t["gc_ms"] += s.jvmGcTime()
                    t["shuffle_read_bytes"] += s.shuffleReadBytes()
                    t["shuffle_write_bytes"] += s.shuffleWriteBytes()
                    t["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                    t["input_bytes"] += s.inputBytes()
                    t["input_rows"] += s.inputRecords()
                    t["output_bytes"] += s.outputBytes()
        return out


def _scala_iter(coll) -> Iterator:
    it = coll.iterator()
    while it.hasNext():
        yield it.next()


def _job_seconds(job) -> float:
    sub, done = job.submissionTime(), job.completionTime()
    if sub.isEmpty() or done.isEmpty():
        return 0.0
    return (done.get().getTime() - sub.get().getTime()) / 1000.0


def storage_bytes(spark) -> int:
    """Memory plus disk bytes of every RDD the block manager holds
    (persisted frames and local checkpoints)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return int(sum(i.memSize() + i.diskSize() for i in infos))
