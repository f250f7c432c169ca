"""Isolated per-query timing harness for the r19 optimization round
(guide §1: measure first; §1.4: noop sink).

Times each named query on a fresh warmed session exactly the way
bench.py does (3 runs, noop sink, unpersist_all between queries) and
prints last/min plus the Spark JOB COUNT per run (from the status
tracker) — the job count is the serialized-barrier signal that
wall-clock noise on this host cannot fake.

Usage: python tools/qtime.py <query> [query ...] [--runs N] [--sf DIR]
"""

from __future__ import annotations

import gc
import json
import sys
from pathlib import Path
import time

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from datapipeline_spike_spark.cache import unpersist_all  # noqa: E402
from datapipeline_spike_spark.plans import REGISTRY  # noqa: E402
from datapipeline_spike_spark.session import get_session  # noqa: E402


def main() -> None:
    args = [a for a in sys.argv[1:]]
    runs = 3
    sf_dir = "/root/testdata/sf0.1"
    names = []
    i = 0
    while i < len(args):
        if args[i] == "--runs":
            runs = int(args[i + 1]); i += 2
        elif args[i] == "--sf":
            sf_dir = args[i + 1]; i += 2
        else:
            names.append(args[i]); i += 1

    spark = get_session("qtime")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    from pyspark.sql import functions as F

    from datapipeline_spike_spark.functions.spectral import spectral_energy_fft

    spark.range(100).select(
        spectral_energy_fft(F.array(F.col("id").cast("double")))
    ).collect()

    tracker = spark.sparkContext.statusTracker()
    out = {}
    for name in names:
        fn = REGISTRY[name].spark
        times, jobs = [], []
        for _ in range(runs):
            j0 = len(tracker.getJobIdsForGroup(None) or [])
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            times.append(round(time.perf_counter() - t0, 3))
            j1 = len(tracker.getJobIdsForGroup(None) or [])
            jobs.append(j1 - j0)
        unpersist_all(spark)
        gc.collect()
        out[name] = {"runs": times, "last": times[-1], "min": min(times), "jobs": jobs}
        print(f"{name}: last={times[-1]} min={min(times)} runs={times} jobs={jobs}", file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
