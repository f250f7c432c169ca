"""SparkSession factory with configs pinned for the engine.

Design notes (100 TB posture, SURVEY.md §4):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting and
  broadcast demotion replace hand-tuned plans at scale.
- ``spark.sql.session.timeZone = UTC``: the reference loads with
  ``Asia/Singapore`` (reference/FeatureEngineeringApproaches.md:133); the
  engine standardizes on UTC so DuckDB oracle comparisons (UTC-naive
  timestamps) agree. Documented deviation.
- Shuffle partitions default to the local core count, not 200 — on a real
  cluster this is overridden to ~2-3x total executor cores; AQE coalesces
  downward either way.
- Arrow enabled: pandas_udf paths (FFT, PCA, embedding math) move data in
  columnar Arrow batches, not pickled rows.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _default_driver_memory() -> str:
    """Three eighths of physical memory, at most 48g: in local mode the
    driver JVM is the whole cluster, and its off-heap memory, the Python
    workers and DuckDB need the rest. A heap larger than the machine
    lets a long session grow until the kernel kills it."""
    phys_mib = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20
    return f"{min(48 * 1024, phys_mib * 3 // 8)}m"


def get_session(
    app_name: str = "datapipeline_spike_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Local-mode testing uses ``local[cpus]``; on a cluster the master and
    memory settings come from spark-submit and everything here still
    applies unchanged.
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_memory()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # guide §3.1: let the planner pick shuffled-hash over sort-merge
        # when its size conditions hold — skips both sort passes on
        # mid-size equi-joins (dedup assignment maps, verify joins).
        # Physical-plan-only: results and the DuckDB oracle unchanged.
        #
        # SKEW/OOM ENVELOPE (r20, probed — VERDICT r19 item 4 /
        # SCALE_PROBE_r20.jsonl `shj_skew_build_side`): SHJ's per-task
        # hash map must hold its partition of the build side, the
        # planner's gate (estimate < autoBroadcastJoinThreshold x
        # shuffle partitions) reads the TOTAL estimated size, and AQE's
        # skew-join splitting CANNOT split an SHJ build side. Measured:
        # a build side whose hot key holds 50% of ~900 MB fails hard
        # ("Can't acquire ... bytes memory to build hash relation")
        # under this default while plain SMJ completes the same join.
        # The default is kept because every shuffle-join build side in
        # THIS engine is id/md5/band-keyed (near-uniform by
        # construction, hot LSH buckets capped upstream) and the flip
        # measurably removed both sort passes from those joins (r19).
        # A deployment joining skewed mid-size keys overrides this ONE
        # conf via extra_conf (preferSortMergeJoin=true), or hints
        # MERGE on the offending join — do NOT rely on AQE to rescue a
        # skewed SHJ build partition; it will not.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # testdata events.parquet stores TIMESTAMP(NANOS); Spark has no ns
        # timestamp type — read as long, converted in plans.registry.load
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
