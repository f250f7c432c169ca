"""Full-registry execution sweep at bench scale (default sf0.1).

The driver's correctness gate runs at sf0.01 and bench.py times a fixed
headline subset at sf0.1 — so a query OUTSIDE the headline set can hide
a scale-sensitive cost (this caught prefix_filter_jaccard_join at 96 s
in round 5: 122k unfiltered candidates each materializing an array
union). This sweep executes EVERY registry query end-to-end with the
noop sink, records EVERY query's wall-clock (r12 — VERDICT r11 item 7:
74 of 163 queries were perf-blind between bench rotations), and writes
the full per-query map to a committed sidecar (default
FULL_SWEEP_LOCAL.json) next to the failure/slow report on stdout.

NOISE CONTROL (the bench EXTRAS_CHUNK lesson): the SparkSession is
restarted every ``--chunk`` queries so accumulated JVM/executor state
can't inflate late-sweep timings 2-6x. Timings here are FIRST-RUN
(plan build + codegen + execute) — cross-check a suspicious entry
against bench steady-state before chasing it (r7: all four slow flags
were 3-5x their steady numbers).

Usage: python tools/full_sweep.py [--sf-dir DIR] [--slow-sec N]
                                  [--out FILE] [--chunk N]
Exit status: number of failures (slow queries are reported, not fatal).
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
from pathlib import Path
import time

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from datapipeline_spike_spark.cache import unpersist_all  # noqa: E402
from datapipeline_spike_spark.plans import REGISTRY  # noqa: E402
from datapipeline_spike_spark.session import get_session  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--slow-sec", type=float, default=5.0)
    ap.add_argument(
        "--out",
        default=os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "FULL_SWEEP_LOCAL.json",
        ),
    )
    ap.add_argument("--chunk", type=int, default=20)
    args = ap.parse_args()
    timings: dict[str, float] = {}
    slow: list[tuple[str, float]] = []
    failed: list[tuple[str, str]] = []
    names = list(REGISTRY)
    spark = None
    for i, name in enumerate(names):
        if i % args.chunk == 0:
            if spark is not None:
                spark.stop()
                gc.collect()
            spark = get_session(f"full_sweep_{i // args.chunk}")
            spark.range(1_000_000).selectExpr("sum(id)").collect()
        q = REGISTRY[name]
        t0 = time.perf_counter()
        try:
            q.spark(spark, args.sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            dt = round(time.perf_counter() - t0, 2)
            timings[name] = dt
            if dt > args.slow_sec:
                slow.append((name, dt))
        except Exception as e:  # noqa: BLE001
            failed.append((name, f"{type(e).__name__}: {e}"[:200]))
        # r19: also drain the localCheckpoint population (see bench.py)
        unpersist_all(spark)
        gc.collect()
    with open(args.out, "w") as fh:
        json.dump(
            {
                "sf_dir": args.sf_dir,
                "n_queries": len(REGISTRY),
                "chunk": args.chunk,
                "note": "first-run timings (build+codegen+exec); session "
                "restarted every chunk; compare against bench "
                "steady-state before believing a regression",
                "timings": timings,
                "failed": failed,
                "slow": slow,
                "slow_threshold_sec": args.slow_sec,
            },
            fh,
            indent=1,
        )
    print(json.dumps({
        "sf_dir": args.sf_dir,
        "n_queries": len(REGISTRY),
        "out": args.out,
        "failed": failed,
        "slow": slow,
        "slow_threshold_sec": args.slow_sec,
    }))
    return len(failed)


if __name__ == "__main__":
    raise SystemExit(main())
