"""Streaming pipeline assemblies (SURVEY.md §2.9, §3.1-3.2).

Every aggregate here reuses the SAME column expressions as the batch
catalog (functions.features) — the batch/streaming twin rule (SURVEY
§7.4.5): correctness is proven in batch by the DuckDB oracle, and the
streaming form only adds watermark/window/state mechanics, which the
streaming tests cover with file-source -> memory-sink runs.

State & fault tolerance (ST3-ST5): checkpointed state store,
at-least-once sinks + keyed dedup, retry counters in the DLQ record
(reference retry/DLQ policy, README.md:98-104, 372-388).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datapipeline_spike_spark.cache import materialize_barrier, scoped_cache
from datapipeline_spike_spark.functions import features as feat

WATERMARK = "2 minutes"  # ST2: 2x the 1-minute feature window (SURVEY §2.9)


def vibration_feature_stream(
    records: DataFrame,
    ts_col: str = "ts",
    key_cols: tuple[str, ...] = ("machine",),
    value_col: str = "value",
    window: str = "1 minute",
    watermark: str = WATERMARK,
) -> DataFrame:
    """ST1/A9: tumbling feature window over the record stream — the
    streaming twin of the 'vibration_features' catalog query. Append
    output mode: a window closes (and emits exactly once) when the
    watermark passes its end."""
    return (
        records.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), *key_cols)
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            feat.rms_agg(value_col).alias("rms"),
            feat.peak_agg(value_col).alias("peak"),
            feat.peak_to_peak_agg(value_col).alias("peak_to_peak"),
            feat.crest_factor_agg(value_col).alias("crest_factor"),
            feat.kurtosis_agg(value_col).alias("kurtosis"),
        )
        .select(F.col("w.start").alias("window_start"), *key_cols, "n_samples",
                "rms", "peak", "peak_to_peak", "crest_factor", "kurtosis")
    )


def downsample_stream(
    records: DataFrame,
    ts_col: str = "ts",
    key_cols: tuple[str, ...] = ("machine",),
    value_col: str = "value",
    window: str = "1 second",
) -> DataFrame:
    """ST1/A8: the 10-points -> 1 RMS record/s reduction
    (reference/TechSpikeDataPipeline.md:50-53)."""
    return (
        records.withWatermark(ts_col, WATERMARK)
        .groupBy(F.window(ts_col, window).alias("w"), *key_cols)
        .agg(feat.rms_agg(value_col).alias("rms"), F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("second"), *key_cols, "rms", "n")
    )


def dedup_stream(records: DataFrame, id_col: str = "event_id", ts_col: str = "ts") -> DataFrame:
    """ST9 keyed dedup within the watermark horizon (exactly-once aid;
    reference keyed produce + idempotence, README.md:266-270)."""
    return records.withWatermark(ts_col, WATERMARK).dropDuplicatesWithinWatermark([id_col])


def content_dedup_stream(
    docs: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = WATERMARK,
) -> DataFrame:
    """Streaming CONTENT dedup — the streaming twin of
    doc_fingerprint_dedup: admit the first document per normalized-text
    fingerprint inside the watermark horizon, drop later exact copies
    even when their ids differ (crawler re-fetches, republished posts).
    State is one fingerprint per admitted doc, expired by the watermark
    — bounded, unlike a global dropDuplicates whose state grows forever.
    The near-dup tier stays in ``ingest_with_dedup`` (foreachBatch
    against the persisted index); this operator is the cheap exact
    front-gate a stream can run fully inside the engine."""
    from datapipeline_spike_spark.functions.text import fingerprint_md5

    return (
        docs.withColumn("_fp", fingerprint_md5(text_col))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_fp"])
        .drop("_fp")
    )


def session_stream(
    records: DataFrame, key: str = "user_id", ts_col: str = "ts", gap: str = "30 minutes"
) -> DataFrame:
    """ST8 session windows (gap-based), streaming twin of the
    'sessionization' catalog query."""
    return (
        records.withWatermark(ts_col, gap)
        .groupBy(F.session_window(ts_col, gap).alias("sw"), key)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            key,
            "n_events",
        )
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str | tuple[str, str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    max_lag: str = "30 minutes",
    watermark: str = WATERMARK,
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream equi-join with a time-range constraint
    (the raw-vs-processed correlation path of the reference's fan-out,
    README.md:141-149, done as a keyed join instead of NiFi's parallel
    consumption): matches ``left.key == right.key`` where the right
    event lands within [left_ts, left_ts + max_lag]. Both sides carry
    watermarks and the range condition bounds the join STATE — Spark
    evicts buffered rows once the watermark passes their joinable
    window, so state is O(rate x lag), not unbounded (an unconstrained
    stream-stream join would buffer both streams forever)."""
    lk, rk = (key, key) if isinstance(key, str) else key
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (lw[lk] == rw[rk])
        & (rw[right_ts] >= lw[left_ts])
        & (rw[right_ts] <= lw[left_ts] + F.expr(f"INTERVAL {max_lag}"))
    )
    return lw.join(rw, cond, how)


def fanout_with_dlq(
    processed_path: str,
    dlq_path: str,
    validity_filter,
    max_retries: int = 5,
):
    """S5/S6/ST5 foreachBatch fan-out: valid rows -> processed sink;
    failures -> DLQ records ``{original_message, error_count,
    last_error_time}`` (reference/README.md:382-388). Sink writes are
    retried with exponential backoff up to max_retries
    (reference/README.md:98-100); the micro-batch only commits when the
    write succeeds or lands in the DLQ, preserving at-least-once."""

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        # null-safe split: a NULL predicate (e.g. a null field inside the
        # validity expression) fails BOTH filter(p) and filter(~p) — the
        # row would silently vanish from both sinks, breaking the
        # at-least-once + DLQ guarantee. NULL routes to the DLQ.
        pred = F.coalesce(validity_filter, F.lit(False))
        valid = batch_df.filter(pred)
        invalid = batch_df.filter(~pred)
        delay, attempt = 1.0, 0
        while True:
            try:
                valid.write.mode("append").parquet(processed_path)
                break
            except Exception:  # noqa: BLE001
                attempt += 1
                if attempt >= max_retries:
                    invalid = batch_df  # whole batch to DLQ
                    break
                time.sleep(delay)
                delay *= 2
        if invalid.isEmpty():
            return
        dlq = invalid.select(
            F.to_json(F.struct(*[c for c in invalid.columns])).alias("original_message"),
            F.lit(attempt).alias("error_count"),
            F.current_timestamp().alias("last_error_time"),
        )
        dlq.write.mode("append").parquet(dlq_path)

    return handle


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "append"):
    """Test helper: drive a streaming frame to a memory sink
    synchronously (processAllAvailable) and return the query handle."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    return q


def scd2_stream(
    table_path: str,
    keys: list[str],
    state_col: str,
    ts_col: str = "ts",
    tiebreak: str = "event_id",
):
    """foreachBatch assembly of ``warehouse.scd2_upsert`` — the
    streaming deployment of the type-2 dimension history (the
    reference's latest-state store + warehouse history, unified: the
    latest state per key is exactly the ``is_current`` slice of the
    table this maintains).

    Per micro-batch the change events fold into the stored history via
    the incremental MERGE (untouched keys carried over, affected keys
    replayed as interval boundary change points and rebuilt), committed
    with the atomic ``v{N}`` + ``_CURRENT`` pointer swap — a concurrent
    reader of the table never observes a half-written version.

    Exactly-once across restarts WITHOUT epoch bookkeeping: replaying a
    batch re-submits change points the stored intervals already encode,
    and duplicate change points collapse into their runs — re-apply is
    a no-op by the scd2_upsert contract (differential-tested), so a
    crash between the table commit and the checkpoint commit is safe.
    Use a checkpointed stream for offset resumption; the fold itself is
    idempotent either way."""

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        from datapipeline_spike_spark.sources.warehouse import scd2_upsert

        scd2_upsert(
            batch_df.sparkSession, table_path, batch_df,
            keys=keys, state_col=state_col, ts_col=ts_col, tiebreak=tiebreak,
        )

    return handle


def ingest_with_dedup(
    lake_path: str,
    admitted_path: str,
    rejected_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.5,
    index_root: str | None = None,
):
    """foreachBatch admission control for a document stream — the
    streaming deployment of ``operators.dedup.incremental_dedup``
    (continuous-crawl-vs-lake): each micro-batch classifies against the
    lake's PERSISTED dedup index (exact fingerprint + LSH-band + shingle
    frames under ``index_root``, default ``{lake_path}_index``), admitted
    docs land in the lake AND their index rows land in the index — so no
    batch ever re-scans or re-hashes the lake; per-batch cost is
    batch-sized joins against the stored index. Rejected docs land in an
    audit sink with their status and matched id.

    Three tiers of dedup per batch:
    1. WITHIN-BATCH exact collapse — min doc_id per fingerprint is the
       representative; its intra-batch copies are routed to the rejected
       sink inheriting the representative's fate (exact_dup of the rep
       when the rep is admitted, the rep's own status/match when the rep
       is itself rejected). Without this, two identical docs in one
       micro-batch would both classify 'new' against the index and both
       be admitted permanently. Within-batch NEAR dups are intentionally
       not collapsed (a batch-local LSH self-join per micro-batch buys
       little: the second near-copy is caught at its next occurrence).
    2. exact vs the stored fingerprint index.
    3. near (MinHash band -> shingle-Jaccard) vs the stored band index.

    Exactly-once via EPOCH-IDEMPOTENT writes: every sink (lake, fp,
    bands, shingles, admitted, rejected) is a parquet directory
    partitioned by ``epoch=N``; a retried batch OVERWRITES its own epoch
    partitions, and the index reads EXCLUDE the current epoch, so a
    partial failure anywhere between the six writes replays to the
    identical verdict and final state — no duplicate lake rows, no
    admitted-but-unindexed docs, regardless of which write died. (The
    old append-everything design could both re-admit rows on a retry
    that died between the lake and fp writes, and strand lake rows
    invisible to the near-dup tier.) Readers see an ``epoch`` partition
    column — the standard ingest-epoch lake layout.

    The verdict is localCheckpoint'ed once per batch, so the fan-out to
    six sinks re-executes neither the classification joins nor the
    admitted projection. Every frame a batch pins (the verdict, the
    admitted frame, ``incremental_dedup``'s barrier) is released when
    the handler returns: each batch runs inside ``scoped_cache``, so a
    long-running stream holds no pins between batches."""
    from pyspark.sql import Window
    from pyspark.sql.utils import AnalysisException

    from datapipeline_spike_spark.functions.text import fingerprint_md5
    from datapipeline_spike_spark.operators.dedup import (
        build_dedup_index,
        incremental_dedup,
    )

    idx_root = index_root or f"{lake_path}_index"
    fp_path, bands_path, sh_path = (
        f"{idx_root}/fp",
        f"{idx_root}/bands",
        f"{idx_root}/shingles",
    )

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        with scoped_cache(batch_df.sparkSession):
            admit(batch_df, epoch_id)

    def admit(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession

        def read_index_excluding(path: str) -> DataFrame | None:
            # only the bare read may treat AnalysisException as "no index
            # yet" (path does not exist). The epoch filter below stays
            # OUTSIDE the try: an index written by the pre-epoch append
            # layout has no `epoch` column, and swallowing that analysis
            # error would silently classify every doc as 'new' and
            # re-admit the lake's duplicates — a layout mismatch must be
            # loud, not treated as an absent index.
            try:
                df = spark.read.parquet(path)
            except AnalysisException:  # first batch: empty lake, no index yet
                return None
            if "epoch" not in df.columns:
                raise ValueError(
                    f"dedup index at {path} lacks the 'epoch' partition "
                    "column (pre-epoch append layout?) — rebuild the index "
                    "or migrate it before resuming exactly-once ingest"
                )
            # a failed earlier attempt of THIS epoch may have written its
            # partition already; classification must not see it or rerun
            # rows would classify as dups of their own partial admission
            return df.filter(F.col("epoch") != F.lit(epoch_id)).drop("epoch")

        def epoch_write(df: DataFrame, path: str) -> None:
            df.write.mode("overwrite").parquet(f"{path}/epoch={epoch_id}")

        # tier 1: within-batch exact collapse
        marked = batch_df.withColumn("_f", fingerprint_md5(text_col)).withColumn(
            "_rep", F.min(id_col).over(Window.partitionBy("_f"))
        )
        reps = marked.filter(F.col(id_col) == F.col("_rep")).select(id_col, text_col)
        batch_dups = marked.filter(F.col(id_col) != F.col("_rep")).select(
            id_col, text_col, "_rep"
        )

        # tiers 2+3: classify representatives against the stored index.
        # Any leg missing => no committed index yet (the three legs are
        # written in sequence each epoch, so a partial set can only be
        # epoch 0's crash debris, whose rows the epoch filter would
        # exclude anyway).
        legs = (
            read_index_excluding(fp_path),
            read_index_excluding(bands_path),
            read_index_excluding(sh_path),
        )
        n_missing = sum(leg is None for leg in legs)
        if 0 < n_missing < len(legs):
            # SOME legs exist: this is NOT a fresh index — it is a
            # half-removed one (interrupted compaction or manual
            # damage). Treating it as fresh would silently classify
            # every doc 'new' and re-admit the lake's duplicates
            # forever; compact_dedup_index's startup recovery repairs
            # interrupted swaps, so point there.
            raise ValueError(
                f"dedup index at {idx_root} is PARTIAL ({n_missing} of "
                f"{len(legs)} legs missing) — run compact_dedup_index "
                "(which recovers interrupted swaps) or restore the "
                "index before resuming ingest"
            )
        index = None if n_missing else legs
        if index is None:
            verdict = reps.select(
                F.col(id_col),
                F.lit("new").alias("status"),
                F.lit(None).cast(batch_df.schema[id_col].dataType).alias("match_id"),
            )
        else:
            verdict = incremental_dedup(
                None, reps, text_col, id_col, jaccard_threshold, index=index
            )
        # one classification per batch: the six sinks below must not
        # re-execute the index joins
        verdict = verdict.transform(materialize_barrier)

        admitted = batch_df.join(
            verdict.filter(F.col("status") == "new").select(id_col), id_col
        ).transform(materialize_barrier)
        rep_rejected = batch_df.join(
            verdict.filter(F.col("status") != "new"), id_col
        ).select(id_col, text_col, "status", "match_id")
        dup_rejected = batch_dups.join(
            verdict.select(
                F.col(id_col).alias("_rep"),
                F.col("status").alias("_rs"),
                F.col("match_id").alias("_rm"),
            ),
            "_rep",
        ).select(
            id_col,
            text_col,
            # the rep was admitted -> its copies are exact dups of it;
            # the rep was rejected -> its copies share its fate verbatim
            F.when(F.col("_rs") == "new", F.lit("exact_dup"))
            .otherwise(F.col("_rs"))
            .alias("status"),
            F.when(F.col("_rs") == "new", F.col("_rep"))
            .otherwise(F.col("_rm"))
            .alias("match_id"),
        )
        rejected = rep_rejected.unionByName(dup_rejected)

        epoch_write(admitted, lake_path)
        # index rows for the admitted docs only — derived from the
        # batch, written once; later batches join these instead of
        # ever touching the lake again
        fp, bands, sh = build_dedup_index(admitted, text_col, id_col)
        epoch_write(fp, fp_path)
        epoch_write(bands, bands_path)
        epoch_write(sh, sh_path)
        epoch_write(admitted.select(id_col), admitted_path)
        epoch_write(rejected, rejected_path)

    return handle


def quality_gated_stream(
    records: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Streaming quality-classifier admission (r7): the linear
    fastText-style scorer (``plans.catalog_extensions.
    quality_classifier_score``) is a MAP-ONLY Column expression — an
    integer dot product of fixed per-token weights against token counts
    plus a sigmoid score — so it runs natively inside a streaming
    select with no state, no watermark, and no foreachBatch; the
    keep/drop decision is the same int64 sign test batch runs
    (batch-twin tested). It GATES: the result carries the FULL input
    record schema (text and all) plus one added ``quality_score``
    column, restricted to the rows the classifier keeps — so composing
    it directly in front of ``ingest_with_dedup`` drops low-quality
    docs before they cost dedup-index work while handing the ingest
    every column it needs. Zero-token docs are dropped (keep is false
    by definition). ``id_col`` is accepted for signature symmetry with
    the ingest helpers but the gate itself never touches it."""
    from datapipeline_spike_spark.plans.catalog_extensions import (
        quality_classifier_columns,
    )

    del id_col  # stateless map-only gate: no key involved
    # the gate writes quality_score and temporarily owns three working
    # columns it drops at the end — ANY collision would silently
    # overwrite (and then destroy) caller data, so all four are guarded
    clash = {"quality_score", "n_tokens", "z_micro", "keep"} & set(records.columns)
    if clash:
        raise ValueError(
            f"records already has column(s) {sorted(clash)}; the gate "
            "would silently overwrite them — rename before gating"
        )
    return (
        quality_classifier_columns(records, text_col=text_col)
        .filter(F.col("keep"))
        .drop("n_tokens", "z_micro", "keep")
    )


def compact_dedup_index(
    spark, index_root: str, target_file_bytes: int = 128 * 1024 * 1024
) -> dict[str, dict[str, int]]:
    """Offline maintenance for the ingest dedup index — run with the
    stream STOPPED (this is a maintenance job, like lake compaction
    between ingest windows). ``ingest_with_dedup`` appends one
    ``epoch=N`` partition per micro-batch to each index leg forever; at
    100 TB that is the small-file problem in its purest form (per-leaf
    listing + footer costs grow with STREAM LIFETIME, not data size).

    Merge rule: all epochs EXCEPT the newest collapse into the
    second-newest epoch id; the newest partition is kept byte-for-byte.
    Why the newest survives untouched: after an unclean shutdown,
    Structured Streaming can replay only the LAST micro-batch, and the
    exactly-once rerun guard (``epoch != current``) must still be able
    to exclude exactly that epoch's rows. Older epochs are committed —
    a replay can never carry their ids again — so their rows only ever
    need to satisfy ``epoch != current_epoch``, which any past id does.
    Classification results are IDENTICAL before and after (tested).

    Swap is stage-and-rename per leg (tmp dir -> rename old away ->
    rename tmp in -> remove old): not reader-atomic, which is exactly
    why the contract is a stopped stream; the lake zones' manifest-swap
    protocol is the upgrade path if concurrent readers ever need it.
    CRASH RECOVERY runs first on every call: a kill between the two
    renames leaves the leg missing with a COMPLETE staged tmp beside it
    (tmp is fully written before any rename) — roll forward; a kill
    before the first rename leaves a possibly-partial tmp beside a live
    leg — discard it; a kill before the old dir's removal — finish the
    removal. ``ingest_with_dedup`` refuses to run against a
    partially-missing index, so an unrecovered crash is loud, never a
    silent re-admission of duplicates."""
    import math
    import os
    import shutil

    report: dict[str, dict[str, int]] = {}
    for leg in ("fp", "bands", "shingles"):
        path = f"{index_root}/{leg}"
        tmp, old = f"{path}.__compact_tmp", f"{path}.__compact_old"
        if os.path.isdir(old) and not os.path.isdir(path):
            # crashed between the renames: the staged tmp is complete
            # by construction — roll the swap forward
            os.rename(tmp, path)
        if os.path.isdir(old):
            shutil.rmtree(old)  # crashed before the final cleanup
        if os.path.isdir(tmp):
            shutil.rmtree(tmp)  # crashed mid-staging: tmp may be partial
        if not os.path.isdir(path):
            continue
        epochs = sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(path)
            if d.startswith("epoch=")
        )
        if len(epochs) <= 2:
            continue
        keep, merge_into = epochs[-1], epochs[-2]
        merged_bytes = sum(
            os.path.getsize(os.path.join(dp, f))
            for e in epochs[:-1]
            for dp, _, fs in os.walk(f"{path}/epoch={e}")
            for f in fs
            if f.endswith(".parquet")
        )
        n_files = max(1, math.ceil(merged_bytes / target_file_bytes))
        merged = (
            spark.read.parquet(path)
            .filter(F.col("epoch") != keep)
            .drop("epoch")
            .repartition(n_files)
        )
        merged.write.mode("overwrite").parquet(f"{tmp}/epoch={merge_into}")
        shutil.copytree(f"{path}/epoch={keep}", f"{tmp}/epoch={keep}")
        os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old)
        report[leg] = {
            "epochs_before": len(epochs),
            "epochs_after": 2,
            "merged_files": n_files,
        }
    return report


def boilerplate_stripped_stream(
    records: DataFrame,
    line_index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming boilerplate stripping (the ST twin of
    ``operators.quality.boilerplate_line_removal``, r14 wave 2): the
    line-frequency INDEX is built OFFLINE on a reference corpus
    snapshot (``operators.quality.boilerplate_line_index``) because
    corpus document frequency is not computable on an unbounded stream
    without unbounded state — CCNet's own topology (frequency tables
    per crawl snapshot, applied online). The online stage is then
    stateless MAP-ONLY: the index collapses to a one-row collect_set
    aggregate on the STATIC side (bounded by avg_lines_per_doc /
    df_frac independent of corpus size — see boilerplate_line_index),
    rides in as a broadcast stream-static cross join, and each record
    strips its matching lines with array HOFs. No shuffle, no
    watermark, no state store; append mode per record.

    Output mirrors the batch operator exactly — (id, n_lines,
    n_removed, removed_fraction, kept_fp) for records with >= 1
    non-empty line — so when the index snapshot covers the streamed
    corpus the rows are byte-identical to the batch pass (twin-tested).
    """
    fps = line_index.agg(F.collect_set("line_fp").alias("_fps"))
    lines = F.filter(
        F.transform(F.split(F.col(text_col), "\n"), lambda l0: F.trim(l0)),
        lambda l: l != "",
    )
    kept = F.filter(
        F.col("_lines"),
        lambda l: ~F.array_contains(F.col("_fps"), F.md5(l)),
    )
    return (
        records.crossJoin(F.broadcast(fps))
        .select(
            F.col(id_col),
            lines.alias("_lines"),
            "_fps",
        )
        .filter(F.size("_lines") >= 1)
        .select(
            F.col(id_col),
            F.size("_lines").cast("long").alias("n_lines"),
            kept.alias("_kept"),
        )
        .select(
            F.col(id_col),
            "n_lines",
            (F.col("n_lines") - F.size("_kept")).cast("long").alias(
                "n_removed"
            ),
            F.md5(F.array_join(F.col("_kept"), "\n")).alias("kept_fp"),
        )
        .select(
            F.col(id_col),
            "n_lines",
            "n_removed",
            F.round(F.col("n_removed") / F.col("n_lines"), 6).alias(
                "removed_fraction"
            ),
            "kept_fp",
        )
    )


def license_gated_stream(
    records: DataFrame,
    text_col: str = "text",
    allow_copyleft: bool = False,
) -> DataFrame:
    """Streaming license admission gate (r14 wave 4; the compliance
    sibling of ``quality_gated_stream``): the permissive-only ingest a
    code-corpus build runs at the front door — each record is
    classified by the same first-match battery as
    ``operators.detectors.license_detect_profile`` (copyleft-first
    priority) and records carrying a copyleft license are DROPPED
    before they cost any downstream dedup/quality work (admit them
    with ``allow_copyleft=True`` to merely annotate). Unlicensed
    ('none') records pass — the gate rejects known-bad, it does not
    require known-good.

    Stateless MAP-ONLY (a regex battery of Column expressions): no
    state, no watermark, no join — runs identically in a streaming
    select and a batch select (twin-tested). Carries the FULL input
    schema plus ``license`` and ``license_admissible``. The column is
    deliberately NOT named ``license_permissive``: the detector
    (``license_detect_profile``) reports permissive=False for
    unlicensed ('none') records, while this ADMISSION gate lets them
    through — same battery, different question (ADVICE r14: a shared
    name invited joins that silently disagreed on the 'none' class).
    Composes directly in front of ``ingest_with_dedup`` like the
    quality gate."""
    from datapipeline_spike_spark.operators.detectors import (
        LICENSE_PATTERNS,
    )

    for guarded in ("license", "license_admissible"):
        if guarded in records.columns:
            raise ValueError(
                f"license_gated_stream writes column '{guarded}', which "
                "already exists on the input"
            )
    txt = F.lower(F.col(text_col))
    lic = F.lit("none")
    adm = F.lit(True)  # unlicensed passes: reject known-bad only
    for name, pat, permissive in reversed(LICENSE_PATTERNS):
        hit = F.regexp_count(txt, F.lit(pat)) > 0
        lic = F.when(hit, F.lit(name)).otherwise(lic)
        adm = F.when(hit, F.lit(permissive)).otherwise(adm)
    out = records.withColumn("license", lic).withColumn(
        "license_admissible", adm
    )
    if allow_copyleft:
        return out
    return out.filter(F.col("license_admissible"))
