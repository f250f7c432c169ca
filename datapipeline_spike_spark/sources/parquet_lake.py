"""Partitioned parquet data lake (SURVEY.md §2.1 S7, S10).

Reference layout (reference/README.md:541-573): hive-style
``{zone}/machine_MXX/YYYY/MM/*.parquet`` with raw + processed zones,
quality-routed writes (raw zone keeps everything regardless of quality,
reference/README.md:623-626) and JSON metadata sidecars.

Spark-native: ``partitionBy`` columns derive year/month from the event
time; readers get static + dynamic partition pruning for free. At
100 TB the partition grain (machine x month) keeps file counts sane;
per-day would be the first tuning knob.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PARTITION_COLS = ("machine", "year", "month")


def with_partition_cols(df: DataFrame, ts_col: str, machine_col: str = "machine") -> DataFrame:
    out = df
    if machine_col != "machine":
        out = out.withColumn("machine", F.col(machine_col))
    return out.withColumn("year", F.year(ts_col)).withColumn("month", F.month(ts_col))


def write_zone(
    df: DataFrame,
    lake_root: str,
    zone: str,
    ts_col: str = "ts",
    machine_col: str = "machine",
    mode: str = "append",
) -> str:
    """Write one zone partitioned by machine/year/month + JSON sidecar
    (reference metadata files, README.md:566-571)."""
    path = os.path.join(lake_root, zone)
    part = with_partition_cols(df, ts_col, machine_col)
    part.write.mode(mode).partitionBy(*PARTITION_COLS).parquet(path)
    sidecar = {
        "zone": zone,
        "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "partitioning": list(PARTITION_COLS),
        "schema": part.schema.jsonValue(),
    }
    with open(os.path.join(path, "_zone_metadata.json"), "w") as f:
        json.dump(sidecar, f)
    return path


def quality_routed_write(
    df: DataFrame,
    lake_root: str,
    quality_col: str,
    threshold: float,
    ts_col: str = "ts",
    machine_col: str = "machine",
) -> dict[str, str]:
    """S10 routing: raw zone stores EVERYTHING; processed zone only
    rows passing the quality gate (reference/README.md:623-626)."""
    raw = write_zone(df, lake_root, "raw", ts_col, machine_col)
    processed = write_zone(
        df.filter(F.col(quality_col) >= threshold), lake_root, "processed", ts_col, machine_col
    )
    return {"raw": raw, "processed": processed}


MANIFEST_NAME = "_MANIFEST.json"


def _write_manifest(dirpath: str, manifest: dict) -> None:
    mtmp = os.path.join(dirpath, MANIFEST_NAME + ".tmp")
    with open(mtmp, "w") as f:
        json.dump(manifest, f)
    os.replace(mtmp, os.path.join(dirpath, MANIFEST_NAME))


def _leaf_manifest(dirpath: str) -> dict | None:
    p = os.path.join(dirpath, MANIFEST_NAME)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


_GEN_FILE = None  # compiled lazily to keep the import section tidy


def _is_generation_file(name: str) -> bool:
    global _GEN_FILE
    if _GEN_FILE is None:
        import re

        _GEN_FILE = re.compile(r"^g\d{6}-\d{5}\.parquet$")
    return bool(_GEN_FILE.match(name))


def _retained_files(m: dict) -> set[str]:
    """Union of the superseded generations a manifest still retains
    ("retained": newest-first list of file-lists; legacy manifests used
    a single "previous_files" list)."""
    if "retained" in m:
        return {f for gen_files in m["retained"] for f in gen_files}
    return set(m.get("previous_files", ()))


def _leaf_snapshot(dirpath: str) -> tuple[dict | None, list[str]]:
    """A leaf's manifest and then its file listing, read in that order.

    A reader takes every unnamed non-generation file for an append, so
    the listing must not be older than the manifest: a listing taken
    first can hold files of the generation that a compaction landing in
    between drops from its retained window and deletes, and the newer
    manifest no longer names them. Read manifest-first, every file the
    manifest does not name is a real append (``compact_zone`` deletes
    the dropped generation before it swaps the manifest)."""
    manifest = _leaf_manifest(dirpath)
    return manifest, os.listdir(dirpath)


def _live_files(manifest: dict | None, filenames: list[str]) -> list[str]:
    """The data files a reader of this leaf should see: without a
    manifest, every NON-generation parquet file; with one, the
    manifest's generation PLUS any files appended since the manifest
    was written (micro-batch appends must stay visible between
    compactions). Excluded: the retained superseded generations (kept
    on disk for in-flight readers) and any stale ``g``-named compactor
    output. A ``g``-named file in a manifest-less leaf is by definition
    uncommitted compactor output — the first compaction of the leaf
    crashed between renaming its generation into place and writing the
    manifest — and must never be treated as live, or the duplicates it
    carries would be read (and baked in by the next compaction)."""
    all_pq = sorted(f for f in filenames if f.endswith(".parquet"))
    if manifest is None:
        return [f for f in all_pq if not _is_generation_file(f)]
    cur, prev = set(manifest["files"]), _retained_files(manifest)
    appended = [
        f for f in all_pq if f not in cur and f not in prev and not _is_generation_file(f)
    ]
    return manifest["files"] + appended


def read_zone(spark: SparkSession, lake_root: str, zone: str) -> DataFrame:
    """Partition-pruned read that resolves per-leaf compaction manifests.

    A leaf directory that ``compact_zone`` has touched carries a
    ``_MANIFEST.json`` naming its LIVE data files; files from the
    superseded generation stay on disk until the next compaction, so a
    reader that resolved the manifest just before a swap still finds
    every file it planned. Leaves never compacted (and zones with no
    manifest anywhere) read exactly as plain hive-partitioned parquet.
    Partition columns come from the directory components between
    ``basePath`` and the files, so pruning on machine/year/month is
    unchanged. (At 100 TB the driver-side listing this does is the same
    one any filesystem-backed table pays; a lakehouse format's metadata
    layer is the upgrade path, same topology.)"""
    zone_root = os.path.join(lake_root, zone)
    paths, _need_listing = _zone_walk(lake_root, zone)
    if not paths:
        # empty zone: keep the plain read's error semantics
        # ("unable to infer schema" on a truly empty/absent zone)
        return spark.read.parquet(zone_root)
    # ALWAYS read the explicit walk-time path list, even when no leaf
    # carries a manifest (r16 race fix): the old fast path handed the
    # DIRECTORY to Spark, deferring the listing to the JVM — which
    # could observe a leaf mid-FIRST-compaction (generation files are
    # renamed in one by one BEFORE the manifest lands, and a python
    # walk that ran before the first rename reported the leaf as
    # manifest-less and clean). A plain directory listing taken in
    # that window counts the old loose files PLUS whichever g-files
    # had landed — an inflated, torn view that a later consistent
    # read then "shrinks" from. The explicit list is snapshot-
    # consistent per leaf by construction (manifest and file list
    # resolved together in _leaf_snapshot). The py4j cost of shipping
    # the path list is bounded by the same driver-side listing this
    # function already performs; a lakehouse-format metadata layer
    # remains the documented upgrade path at extreme file counts.
    return spark.read.option("basePath", zone_root).parquet(*paths)


def zone_live_files(lake_root: str, zone: str) -> tuple[list[str], bool]:
    """Full paths of the data files a reader should open (resolving
    per-leaf manifests) and whether any manifest exists. Superseded-
    generation files retained for in-flight readers are NOT listed,
    and neither is uncommitted compactor debris (g-named files in a
    manifest-less leaf)."""
    zone_root = os.path.join(lake_root, zone)
    paths: list[str] = []
    any_manifest = False
    for dirpath, dirnames, _ in os.walk(zone_root):
        # never descend into in-progress staging: compaction temp dirs
        # (._compacting_*) or Spark's own _temporary commit area
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        manifest, filenames = _leaf_snapshot(dirpath)
        if manifest is not None:
            any_manifest = True
        live = _live_files(manifest, filenames)
        paths.extend(os.path.join(dirpath, f) for f in live)
    return paths, any_manifest


def _zone_walk(lake_root: str, zone: str) -> tuple[list[str], bool]:
    """Like :func:`zone_live_files`, but the flag is "must read via the
    explicit path list": true when any leaf carries a manifest OR holds
    excluded files (retained generations / pre-manifest compactor
    debris) that a plain directory read would wrongly include."""
    zone_root = os.path.join(lake_root, zone)
    paths: list[str] = []
    need_listing = False
    for dirpath, dirnames, _ in os.walk(zone_root):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        manifest, filenames = _leaf_snapshot(dirpath)
        live = _live_files(manifest, filenames)
        if manifest is not None or len(live) != sum(
            f.endswith(".parquet") for f in filenames
        ):
            need_listing = True
        paths.extend(os.path.join(dirpath, f) for f in live)
    return paths, need_listing


def compact_zone(
    spark: SparkSession,
    lake_root: str,
    zone: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files_to_compact: int = 4,
    retain_generations: int = 2,
) -> dict[str, dict[str, int]]:
    """Small-file compaction — the lake maintenance job every streaming
    ingest needs: micro-batch appends leave each partition with many
    KB-sized files, and at 100 TB the resulting open/seek/footer costs
    dominate scans long before data volume does.

    Per hive partition directory: if it holds >= ``min_files_to_compact``
    LIVE data files, rewrite them as ``ceil(bytes / target_file_bytes)``
    files. Commit is MANIFEST-SWAP, not delete+rename of the live path:

    1. the compacted generation is written beside the old files under
       unique ``g{N}-`` names (no path a reader could be holding is ever
       removed or renamed at this step);
    2. the generation that falls out of the newest ``retain_generations``
       superseded ones is garbage-collected. The current manifest lists
       it as retained, so no reader of that manifest plans it; a reader
       that resolved any of the retained manifests still finds every
       file it planned, so in-flight readers get ``retain_generations``
       full compaction intervals to finish instead of a rename-window
       race (one interval proved too tight for slow readers under host
       contention; the knob is the same retention lever a lakehouse
       format exposes for vacuum). Collecting BEFORE the swap keeps
       every file a newer manifest leaves unnamed off the disk, so a
       reader never takes a doomed file for an append;
    3. ``_MANIFEST.json`` is replaced atomically (tmp + ``os.replace``)
       to name the new generation as the leaf's live file set.

    Readers going through :func:`read_zone` therefore never observe a
    missing file or a half-swapped leaf (test-proven by a polling reader
    under repeated swaps). Readers of OTHER partitions are never
    touched: this is per-partition, safe to run partition-parallel and
    incremental. Same commit topology as an object-store lakehouse
    manifest; the primitive here is POSIX atomic replace.

    Returns {partition_rel_path: {"files_before": n, "files_after": m}}.
    """
    import math
    import shutil

    if retain_generations < 1:
        # 0 would GC the just-superseded live files immediately after the
        # manifest swap — exactly the reader-404 race the retained window
        # exists to eliminate. The "reader never observes a missing file"
        # contract cannot be silently disabled.
        raise ValueError(
            f"retain_generations must be >= 1, got {retain_generations}"
        )
    zone_root = os.path.join(lake_root, zone)
    report: dict[str, dict[str, int]] = {}
    for dirpath, dirnames, filenames in os.walk(zone_root):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        manifest = _leaf_manifest(dirpath)
        live = _live_files(manifest, filenames)
        if len(live) < min_files_to_compact:
            continue
        total = sum(os.path.getsize(os.path.join(dirpath, f)) for f in live)
        n_out = max(1, math.ceil(total / target_file_bytes))
        if n_out >= len(live):
            continue  # already at or below target granularity
        rel = os.path.relpath(dirpath, zone_root)
        gen = (manifest["generation"] + 1) if manifest else 1
        # 1. write the new generation NEXT TO the live files
        tmp = os.path.join(dirpath, f"._compacting_g{gen}")
        spark.read.parquet(
            *[os.path.join(dirpath, f) for f in live]
        ).coalesce(n_out).write.mode("overwrite").parquet(tmp)
        new_files = []
        for i, f in enumerate(sorted(os.listdir(tmp))):
            if f.endswith(".parquet"):
                name = f"g{gen:06d}-{i:05d}.parquet"
                os.rename(os.path.join(tmp, f), os.path.join(dirpath, name))
                new_files.append(name)
        shutil.rmtree(tmp)
        # the just-superseded live set joins the retained window (newest
        # first), bounded at retain_generations
        old_retained = (
            manifest.get("retained", [manifest.get("previous_files", [])])
            if manifest
            else []
        )
        retained = ([live] + old_retained)[:retain_generations]
        # 2. GC what falls out of the window — iterate the WALK-TIME
        # snapshot, never a fresh listdir: a micro-batch file appended
        # while this leaf was compacting is absent from the snapshot and
        # therefore untouchable (it stays live for the next manifest),
        # whereas a re-listing would see it, miss it in `keep`, and
        # delete fresh data
        keep = set(new_files) | {f for gen_files in retained for f in gen_files}
        for f in filenames:
            if f.endswith(".parquet") and f not in keep:
                path_f = os.path.join(dirpath, f)
                if os.path.exists(path_f):
                    os.remove(path_f)
        # 3. atomic manifest swap: the new generation becomes live
        _write_manifest(
            dirpath, {"generation": gen, "files": new_files, "retained": retained}
        )
        report[rel] = {"files_before": len(live), "files_after": len(new_files)}
    return report


def write_clustered(
    df: DataFrame, path: str, cluster_cols: list[str], n_files: int | None = None
) -> str:
    """Sort-clustered parquet write — the data-skipping layout for scan
    keys that are NOT partition columns (partitioning handles low-
    cardinality keys; clustering handles high-cardinality ones like
    timestamps, ids, or metric values at 100 TB, where a per-value
    directory would be absurd).

    ``repartitionByRange`` + ``sortWithinPartitions`` gives every output
    file a narrow, near-disjoint [min, max] envelope for the cluster
    key, recorded in each parquet footer. Spark's parquet reader prunes
    row groups against pushed-down predicates using exactly those
    stats, so a selective filter on the cluster key reads a handful of
    files instead of the table — the same effect Delta/Iceberg Z-ORDER
    targets, using only vanilla Spark primitives (single-key form; true
    Z-order interleaving is the multi-key upgrade a lakehouse format
    provides). Range partitioning samples the key distribution, so
    skewed keys still yield balanced files."""
    part = (
        df.repartitionByRange(n_files, *cluster_cols)
        if n_files
        else df.repartitionByRange(*cluster_cols)
    )
    part.sortWithinPartitions(*cluster_cols).write.mode("overwrite").parquet(path)
    return path


def file_column_ranges(path: str, column: str) -> dict[str, tuple]:
    """Per-file (min, max) of ``column`` from the parquet footers — the
    statistics a reader's row-group pruning consults. Used by tests to
    PROVE the clustered layout's skipping property instead of asserting
    it from folklore."""
    import glob

    import pyarrow.parquet as pq

    out: dict[str, tuple] = {}
    for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        md = pq.ParquetFile(f).metadata
        mins: list = []
        maxs: list = []
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            for ci in range(row_group.num_columns):
                col = row_group.column(ci)
                if col.path_in_schema == column and col.statistics is not None:
                    mins.append(col.statistics.min)
                    maxs.append(col.statistics.max)
        if mins:
            out[os.path.basename(f)] = (min(mins), max(maxs))
    return out


def write_bloom_indexed(
    df: DataFrame,
    path: str,
    bloom_cols: list[str],
    expected_ndv: int = 1_000_000,
    cluster_cols: list[str] | None = None,
    n_files: int | None = None,
) -> str:
    """Parquet write with per-column BLOOM FILTERS (r10) — the
    data-skipping layout for high-cardinality EQUALITY keys where
    min/max envelopes are useless (document fingerprints, content
    hashes, canonical ids: uniformly distributed, so every file's
    [min, max] spans the whole key space and sort-clustering can't
    help). parquet-mr writes a split-block bloom filter per row group
    for each listed column; a point-lookup reader (the incremental-
    dedup "is this fingerprint already in the lake?" probe — the
    hottest lookup at 100 TB ingest) then skips every row group whose
    filter rejects the key, the same footer-level mechanism the
    min/max stats provide for range keys.

    ``expected_ndv`` sizes the filter (~1.2 bytes/key at the default
    1% FPP); pass the real per-file key count when known — an
    undersized filter degrades FPP, an oversized one wastes footer
    bytes. Optional ``cluster_cols`` composes the sort-clustered
    layout (range keys) with bloom indexing (equality keys) in one
    write. Verification is behavioral, not folklore:
    :func:`file_bloom_columns` reads the filters back through
    parquet-mr (tests/test_sources.py)."""
    part = df
    if cluster_cols:
        part = (
            df.repartitionByRange(n_files, *cluster_cols)
            if n_files
            else df.repartitionByRange(*cluster_cols)
        )
        part = part.sortWithinPartitions(*cluster_cols)
    writer = part.write.mode("overwrite")
    for c in bloom_cols:
        writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
        writer = writer.option(
            f"parquet.bloom.filter.expected.ndv#{c}", str(expected_ndv)
        )
    writer.parquet(path)
    return path


def file_bloom_columns(spark: SparkSession, path: str) -> dict[str, list[str]]:
    """Per-file list of columns carrying a readable bloom filter, read
    back through parquet-mr's own footer reader (pyarrow 16 does not
    expose bloom offsets) — the proof the bloom layout actually landed,
    used by tests instead of trusting writer options."""
    import glob as _glob

    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    out: dict[str, list[str]] = {}
    for f in sorted(_glob.glob(os.path.join(path, "*.parquet"))):
        infile = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            jvm.org.apache.hadoop.fs.Path(f), conf
        )
        reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(infile)
        try:
            cols: set[str] = set()
            blocks = reader.getFooter().getBlocks()
            for b in range(blocks.size()):
                block = blocks.get(b)
                for i in range(block.getColumns().size()):
                    cc = block.getColumns().get(i)
                    if reader.readBloomFilter(cc) is not None:
                        cols.add(cc.getPath().toDotString())
        finally:
            reader.close()
        out[os.path.basename(f)] = sorted(cols)
    return out
