"""Structured Streaming assemblies (ST1-ST9): file-source micro-batches
driven synchronously into memory sinks; streaming results must equal
their batch twins (the twin rule, SURVEY §7.4.5)."""

from __future__ import annotations

import shutil
import tempfile
import time

import pytest
from pyspark.sql import functions as F

from datapipeline_spike_spark.plans.registry import load
from datapipeline_spike_spark.streaming.pipeline import (
    dedup_stream,
    downsample_stream,
    fanout_with_dlq,
    run_to_memory,
    session_stream,
    vibration_feature_stream,
)


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir):
    """Events re-materialized with a plain microsecond timestamp so the
    streaming file source needs no legacy nanos conf."""
    d = tempfile.mkdtemp(prefix="stream_events_")
    load(spark, sf_dir, "events").withColumn(
        "machine", F.concat(F.lit("M"), (F.col("user_id") % 2).cast("string"))
    ).write.mode("overwrite").parquet(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def events_stream(spark, events_dir):
    schema = spark.read.parquet(events_dir).schema
    return spark.readStream.schema(schema).parquet(events_dir)


def test_feature_stream_matches_batch_twin(spark, events_dir, events_stream):
    stream = vibration_feature_stream(
        events_stream, ts_col="ts", key_cols=("machine",), value_col="value", window="1 day"
    )
    q = run_to_memory(stream, "feat_stream")
    try:
        got = {
            (r["window_start"], r["machine"]): (r["n_samples"], round(r["rms"], 6))
            for r in spark.sql("SELECT * FROM feat_stream").collect()
        }
        batch = (
            spark.read.parquet(events_dir)
            .groupBy(F.window("ts", "1 day").alias("w"), "machine")
            .agg(F.count(F.lit(1)).alias("n"), F.sqrt(F.avg(F.col("value") * F.col("value"))).alias("rms"))
            .select(F.col("w.start").alias("ws"), "machine", "n", "rms")
        )
        want = {(r["ws"], r["machine"]): (r["n"], round(r["rms"], 6)) for r in batch.collect()}
        # append mode drops windows not yet closed by the watermark (the
        # final day); every emitted window must match the batch result
        assert len(got) >= len(want) - 2
        for k, v in got.items():
            assert want[k] == v
    finally:
        q.stop()


def test_downsample_stream_runs(spark, events_stream):
    q = run_to_memory(downsample_stream(events_stream, window="1 hour"), "down_stream")
    try:
        n = spark.sql("SELECT count(*) AS n FROM down_stream").collect()[0]["n"]
        assert n > 0
    finally:
        q.stop()


def test_dedup_stream_drops_duplicate_ids(spark, events_dir):
    schema = spark.read.parquet(events_dir).schema
    doubled_dir = tempfile.mkdtemp(prefix="stream_dup_")
    try:
        df = spark.read.parquet(events_dir).limit(500)
        df.union(df).write.mode("overwrite").parquet(doubled_dir)
        stream = spark.readStream.schema(schema).parquet(doubled_dir)
        q = run_to_memory(dedup_stream(stream), "dedup_stream")
        try:
            n = spark.sql("SELECT count(DISTINCT event_id) AS d, count(*) AS n FROM dedup_stream").collect()[0]
            assert n["n"] == n["d"] == 500
        finally:
            q.stop()
    finally:
        shutil.rmtree(doubled_dir, ignore_errors=True)


def test_session_stream_runs(spark, events_stream):
    q = run_to_memory(session_stream(events_stream), "sess_stream")
    try:
        rows = spark.sql("SELECT * FROM sess_stream").collect()
        assert all(r["session_end"] > r["session_start"] for r in rows)
    finally:
        q.stop()


def test_fanout_dlq_routes_invalid(spark, events_dir):
    out_root = tempfile.mkdtemp(prefix="fanout_")
    processed, dlq = f"{out_root}/processed", f"{out_root}/dlq"
    try:
        schema = spark.read.parquet(events_dir).schema
        stream = spark.readStream.schema(schema).parquet(events_dir)
        handler = fanout_with_dlq(processed, dlq, F.col("value") <= 100.0)
        q = stream.writeStream.foreachBatch(handler).start()
        q.processAllAvailable()
        q.stop()
        total = spark.read.parquet(events_dir).count()
        n_ok = spark.read.parquet(processed).count()
        dlq_df = spark.read.parquet(dlq)
        n_dlq = dlq_df.count()
        assert n_ok + n_dlq == total and n_dlq > 0
        sample = dlq_df.select("original_message", "error_count", "last_error_time").first()
        assert '"value"' in sample["original_message"] and sample["error_count"] == 0
    finally:
        shutil.rmtree(out_root, ignore_errors=True)


def test_fanout_dlq_null_predicate_routes_to_dlq(spark):
    """A row whose validity predicate evaluates to NULL must land in the
    DLQ, not vanish from both sinks (at-least-once: every record is
    either processed or dead-lettered)."""
    out_root = tempfile.mkdtemp(prefix="fanout_null_")
    src, processed, dlq = f"{out_root}/src", f"{out_root}/processed", f"{out_root}/dlq"
    try:
        spark.createDataFrame(
            [(1, 5.0), (2, None), (3, 500.0)], "id long, value double"
        ).write.parquet(src)
        stream = spark.readStream.schema("id long, value double").parquet(src)
        handler = fanout_with_dlq(processed, dlq, F.col("value") <= 100.0)
        q = stream.writeStream.foreachBatch(handler).start()
        q.processAllAvailable()
        q.stop()
        assert spark.read.parquet(processed).count() == 1
        dlq_rows = spark.read.parquet(dlq).collect()
        assert len(dlq_rows) == 2  # the invalid row AND the null-predicate row
        assert any('"id":2' in r["original_message"] for r in dlq_rows)
    finally:
        shutil.rmtree(out_root, ignore_errors=True)


def test_stateful_tracking_matches_batch_counts(spark, events_dir):
    """ST4: GroupState counters across micro-batches equal batch
    aggregation; state persists between batches (update mode keeps the
    LAST row per key the latest cumulative truth)."""
    from datapipeline_spike_spark.streaming.state import track_processing_state

    schema = spark.read.parquet(events_dir).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(events_dir)
    tracked = track_processing_state(stream, key_col="machine", invalid_above=100.0)
    q = (
        tracked.writeStream.outputMode("update")
        .format("memory")
        .queryName("state_stream")
        .start()
    )
    try:
        q.processAllAvailable()
        import pandas as pd

        got = spark.sql("SELECT * FROM state_stream").toPandas()
        # last emission per key = cumulative totals
        final = got.groupby("key").last()
        batch = (
            spark.read.parquet(events_dir)
            .groupBy("machine")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum((F.col("value") > 100.0).cast("long")).alias("bad"),
                F.max("ts").alias("last_ts"),
            )
            .toPandas()
            .set_index("machine")
        )
        for m in batch.index:
            assert final.loc[m, "n_records"] == batch.loc[m, "n"]
            assert final.loc[m, "n_invalid"] == batch.loc[m, "bad"]
            assert pd.Timestamp(final.loc[m, "last_ts"]) == pd.Timestamp(batch.loc[m, "last_ts"])
        assert set(final["state"]) <= {"processing", "degraded"}
    finally:
        q.stop()


def test_rate_source_simulated_opcua_stream(spark):
    """S2: the OPC UA device feed simulated by the rate source — an
    UNBOUNDED stream (unlike the file-source tests) driven for a few
    seconds; update-mode windows emit while the stream runs."""
    rate = spark.readStream.format("rate").option("rowsPerSecond", "400").load()
    records = rate.select(
        F.col("timestamp").alias("ts"),
        F.concat(F.lit("M"), (F.col("value") % 2).cast("string")).alias("machine"),
        (F.col("value") % 100).cast("double").alias("value"),
    )
    feats = vibration_feature_stream(
        records, ts_col="ts", key_cols=("machine",), value_col="value", window="1 second"
    )
    q = (
        feats.writeStream.outputMode("update")
        .format("memory")
        .queryName("rate_stream")
        .start()
    )
    try:
        import time

        # generous: this is wall-clock-sensitive and the host stalls
        # multi-second under concurrent load (observed flake at 20s)
        deadline = time.time() + 60
        rows = []
        while time.time() < deadline:
            time.sleep(1)
            rows = spark.sql("SELECT * FROM rate_stream").collect()
            if len(rows) >= 2:
                break
        assert len(rows) >= 2
        for r in rows:
            assert r["machine"] in ("M0", "M1")
            assert r["rms"] is not None and r["rms"] >= 0
    finally:
        q.stop()


def test_rocksdb_state_store_runs_windowed_state(spark, events_dir):
    """100 TB posture for streaming state: the in-memory (HDFS-backed)
    default provider caps state at executor heap; RocksDB spills to
    local disk. Prove the bundled provider actually runs our windowed
    aggregation and produces the same result as the batch twin."""
    provider = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key, None)
    spark.conf.set(key, provider)
    try:
        schema = spark.read.parquet(events_dir).schema
        stream = spark.readStream.schema(schema).parquet(events_dir)
        q = run_to_memory(
            vibration_feature_stream(stream, window="1 day"), "rocksdb_features"
        )
        try:
            got = spark.sql(
                "SELECT count(*) AS n, sum(n_samples) AS s FROM rocksdb_features"
            ).collect()[0]
        finally:
            q.stop()
        batch = (
            spark.read.parquet(events_dir)
            .groupBy(F.window("ts", "1 day"), "machine")
            .count()
        )
        # append mode drops windows the watermark hasn't closed (the
        # final day per machine) — same allowance as the batch-twin test
        n_batch = batch.count()
        assert 0 < n_batch - 2 <= got["n"] <= n_batch
        assert 0 < got["s"] <= spark.read.parquet(events_dir).count()
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_checkpoint_restart_is_exactly_once(spark, events_dir):
    """ST3: stop a checkpointed query mid-stream, restart it over the
    same checkpoint with MORE data present — the sink must end up with
    every input row exactly once (offsets resume, nothing replays)."""
    root = tempfile.mkdtemp(prefix="ckpt_")
    src, sink, ckpt = f"{root}/src", f"{root}/sink", f"{root}/ckpt"
    try:
        base = spark.read.parquet(events_dir).select("event_id", "ts", "value").limit(600)
        a = base.filter(F.col("event_id") % 3 == 0)
        b = base.filter(F.col("event_id") % 3 != 0)
        a.write.mode("overwrite").parquet(src)

        def start():
            stream = (
                spark.readStream.schema("event_id long, ts timestamp, value double")
                .option("maxFilesPerTrigger", "1")
                .parquet(src)
            )
            return (
                stream.writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .start()
            )

        q = start()
        q.processAllAvailable()
        q.stop()
        n_first = spark.read.parquet(sink).count()
        assert n_first == a.count()

        b.write.mode("append").parquet(src)  # arrives while the query is DOWN
        q = start()
        q.processAllAvailable()
        q.stop()

        out = spark.read.parquet(sink)
        assert out.count() == base.count()  # nothing lost, nothing duplicated
        assert out.select("event_id").distinct().count() == base.count()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_sliding_window_stream_matches_batch_twin(spark, events_dir, events_stream):
    """ST1 hop-window form: 2-day windows sliding 1 day over the stream
    must equal the batch expansion (every event in exactly 2 windows)."""
    stream = (
        events_stream.withWatermark("ts", "2 days")
        .groupBy(F.window("ts", "2 days", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    q = run_to_memory(stream, "slide_stream")
    try:
        got = {r["ws"]: r["n"] for r in spark.sql("SELECT * FROM slide_stream").collect()}
        batch = (
            spark.read.parquet(events_dir)
            .groupBy(F.window("ts", "2 days", "1 day").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("ws"), "n")
        )
        want = {r["ws"]: r["n"] for r in batch.collect()}
        # the watermark withholds windows still open at end-of-stream: a
        # 2-day window sliding 1 day with a 2-day watermark leaves up to
        # 4 trailing windows unemitted
        assert len(got) >= len(want) - 4 > 0
        for k, v in got.items():
            assert want[k] == v
    finally:
        q.stop()


def test_stream_stream_join_matches_batch_twin(spark, events_dir):
    """Watermarked stream-stream join (the ST surface tumbling windows
    don't cover): raw events joined against a 10-minute-delayed
    processed twin within a 30-minute tolerance. Every raw row must
    find exactly its delayed twin (delay < tolerance), matching the
    batch join row-for-row; the time-range condition is what bounds the
    join state at scale."""
    from datapipeline_spike_spark.streaming.pipeline import stream_stream_join

    schema = spark.read.parquet(events_dir).schema
    raw = (
        spark.readStream.schema(schema)
        .parquet(events_dir)
        .select("event_id", "ts", "value")
    )
    processed = (
        spark.readStream.schema(schema)
        .parquet(events_dir)
        .select(
            F.col("event_id").alias("p_id"),
            (F.col("ts") + F.expr("INTERVAL 10 minutes")).alias("p_ts"),
            (F.col("value") * 2).alias("p_value"),
        )
    )
    joined = stream_stream_join(
        raw, processed, key=("event_id", "p_id"), left_ts="ts", right_ts="p_ts"
    ).select("event_id", "value", "p_value")
    q = run_to_memory(joined, "ss_join")
    try:
        got = spark.sql("SELECT * FROM ss_join").collect()
        n_events = spark.read.parquet(events_dir).count()
        assert len(got) == n_events  # each row matches exactly its twin
        assert all(r["p_value"] == r["value"] * 2 for r in got if r["value"] is not None)
    finally:
        q.stop()


def test_routine_load_stream_into_bucketed_table(spark, sf_dir):
    """S8 end-to-end (entry-point B, the Routine Load analogue,
    reference/FeatureEngineeringApproaches.md:113-153, 200-258): a
    kafka-shaped JSON stream runs through the S3 wire projection
    (from_json), the COLUMNS-clause feature select, and a checkpointed
    foreachBatch append into the hash-bucketed warehouse table. Asserts
    the table's bucket spec survived the streaming write, an agg on the
    bucket key stays exchange-free, and rows match the batch twin."""
    import tempfile

    from datapipeline_spike_spark.pipeline import records_from_events
    from datapipeline_spike_spark.sources.kafka import kafka_payload, parse_kafka_records
    from datapipeline_spike_spark.sources.warehouse import (
        RECORD_WIRE_SCHEMA,
        routine_load_features,
        start_routine_load,
    )

    root = tempfile.mkdtemp(prefix="routine_load_")
    table = "wh_routine_features"
    try:
        # merged-topic fixture: triaxial records -> kafka (key, value)
        # JSON lines, as S4 would produce them
        records = records_from_events(load(spark, sf_dir, "events")).select(
            F.col("ts").alias("SourceTimestamp"),
            "machine",
            "operation",
            F.col("vibration_x_batch").alias("VibrationXBatch"),
            F.col("vibration_y_batch").alias("VibrationYBatch"),
            F.col("vibration_z_batch").alias("VibrationZBatch"),
        )
        kafka_payload(records, key_col="machine").write.mode("overwrite").json(
            f"{root}/topic"
        )

        wire = spark.readStream.schema("key string, value string").json(f"{root}/topic")
        # kafka wire columns: binary key/value + broker timestamp
        shaped = wire.select(
            F.col("key").cast("binary").alias("key"),
            F.col("value").cast("binary").alias("value"),
            F.current_timestamp().alias("timestamp"),
        )
        parsed = parse_kafka_records(shaped, RECORD_WIRE_SCHEMA)
        feats = routine_load_features(parsed)
        q = start_routine_load(
            feats, table, f"{root}/{table}", checkpoint=f"{root}/ckpt"
        )
        q.processAllAvailable()
        q.stop()

        back = spark.table(table)
        twin = routine_load_features(
            parse_kafka_records(
                spark.read.schema("key string, value string")
                .json(f"{root}/topic")
                .select(
                    F.col("key").cast("binary").alias("key"),
                    F.col("value").cast("binary").alias("value"),
                    F.current_timestamp().alias("timestamp"),
                ),
                RECORD_WIRE_SCHEMA,
            )
        )
        assert back.count() == twin.count() > 0
        key = ["SourceTimestamp", "machine", "operation"]
        got = {
            tuple(r[k] for k in key): round(r["vibration_x_rms"], 6)
            for r in back.collect()
        }
        want = {
            tuple(r[k] for k in key): round(r["vibration_x_rms"], 6)
            for r in twin.collect()
        }
        assert got == want

        ddl = spark.sql(f"DESCRIBE EXTENDED {table}").toPandas()
        meta = dict(zip(ddl["col_name"], ddl["data_type"]))
        assert meta.get("Num Buckets") == "8"
        assert "SourceTimestamp" in meta.get("Bucket Columns", "")
        agg_plan = (
            back.groupBy("SourceTimestamp")
            .count()
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in agg_plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(root, ignore_errors=True)


def test_available_now_trigger_drains_and_stops(spark, events_dir):
    """Trigger.AvailableNow: the batch-replay mode — process everything
    currently available (respecting per-batch limits) then stop on its
    own, no processAllAvailable babysitting. The modern way to run a
    streaming topology as a catch-up batch job."""
    schema = spark.read.parquet(events_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(events_dir)
    )
    counted = stream.groupBy("machine").count()
    q = (
        counted.writeStream.outputMode("complete")
        .format("memory")
        .queryName("avail_now")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive  # stopped by itself after draining
    got = {r["machine"]: r["count"] for r in spark.sql("SELECT * FROM avail_now").collect()}
    want = {
        r["machine"]: r["count"]
        for r in spark.read.parquet(events_dir).groupBy("machine").count().collect()
    }
    assert got == want


def test_streaming_ingest_dedup_admission(spark):
    """Continuous-crawl admission: micro-batches classify against the
    growing lake — exact/near dups of EARLIER batches are rejected with
    their matched lake id, fresh docs are admitted exactly once."""
    import shutil

    from datapipeline_spike_spark.streaming.pipeline import ingest_with_dedup

    base = (
        "the quick brown fox jumps over the lazy dog while the cat watches "
        "from the warm windowsill and the birds sing outside"
    )
    near = base.replace("warm", "cold")
    other = (
        "completely different subject matter about database engines and "
        "distributed query processing with shuffles joins and aggregations"
    )
    root = tempfile.mkdtemp(prefix="ingest_dedup_")
    src = f"{root}/src"
    lake, ok, rej = f"{root}/lake", f"{root}/admitted", f"{root}/rejected"
    try:
        # batch 1 (one file): two fresh docs
        spark.createDataFrame(
            [(1, base), (2, other)], "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(src)
        # batch 2 (second file): exact dup of 1, near dup of 1, one fresh
        spark.createDataFrame(
            [(11, base), (12, near), (13, "entirely new content about marine biology and coral reef ecosystems under warming oceans")],
            "doc_id long, text string",
        ).coalesce(1).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = stream.writeStream.foreachBatch(
            ingest_with_dedup(lake, ok, rej)
        ).option("checkpointLocation", f"{root}/ckpt").start()
        q.processAllAvailable()
        q.stop()
        admitted = {r["doc_id"] for r in spark.read.parquet(ok).collect()}
        rejected = {
            r["doc_id"]: (r["status"], r["match_id"])
            for r in spark.read.parquet(rej).collect()
        }
        lake_ids = {r["doc_id"] for r in spark.read.parquet(lake).collect()}
        # the persisted index grew with admissions (classification joins
        # it instead of re-hashing the lake)
        idx_fp_ids = {r["doc_id"] for r in spark.read.parquet(f"{lake}_index/fp").collect()}
        assert idx_fp_ids == lake_ids
        # file order within one source listing is deterministic
        # (alphabetical), but both batches may also land in ONE trigger;
        # assert the invariants that hold either way
        assert 13 in admitted and lake_ids >= {1, 2, 13}
        assert 11 in rejected or 11 in admitted  # one-trigger case: 1 and 11 same batch
        if 11 in rejected:
            assert rejected[11] == ("exact_dup", 1)
        if 12 in rejected:
            assert rejected[12] == ("near_dup", 1)
        assert admitted.isdisjoint(set(rejected))
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_ingest_dedup_within_batch_dups_and_retry_idempotent(spark):
    """The two r4-advice gaps, pinned: (1) identical docs arriving in ONE
    micro-batch collapse to a single admission — copies route to the
    rejected sink as exact_dup of the batch representative; (2) replaying
    an epoch after a partial failure (here: the whole handler, the worst
    case) leaves lake/index/admitted byte-identical — epoch-partitioned
    overwrites + current-epoch-excluding index reads make every write
    idempotent."""
    import shutil

    from datapipeline_spike_spark.streaming.pipeline import ingest_with_dedup

    text_a = (
        "the quick brown fox jumps over the lazy dog while the cat watches "
        "from the warm windowsill and the birds sing outside"
    )
    text_b = (
        "completely different subject matter about database engines and "
        "distributed query processing with shuffles joins and aggregations"
    )
    root = tempfile.mkdtemp(prefix="ingest_dedup_retry_")
    lake, ok, rej = f"{root}/lake", f"{root}/admitted", f"{root}/rejected"
    try:
        handle = ingest_with_dedup(lake, ok, rej)
        # epoch 0: doc 1 and its intra-batch copy 7, plus fresh doc 2
        b0 = spark.createDataFrame(
            [(1, text_a), (7, text_a), (2, text_b)], "doc_id long, text string"
        )
        handle(b0, 0)
        lake_ids = {r["doc_id"] for r in spark.read.parquet(lake).collect()}
        rejected = {
            r["doc_id"]: (r["status"], r["match_id"])
            for r in spark.read.parquet(rej).collect()
        }
        assert lake_ids == {1, 2}
        assert rejected == {7: ("exact_dup", 1)}
        idx_ids = {r["doc_id"] for r in spark.read.parquet(f"{lake}_index/fp").collect()}
        assert idx_ids == {1, 2}  # the copy was never indexed

        # RETRY epoch 0 (partial-failure replay): state must not change
        handle(b0, 0)
        assert {r["doc_id"] for r in spark.read.parquet(lake).collect()} == {1, 2}
        assert {r["doc_id"] for r in spark.read.parquet(f"{lake}_index/fp").collect()} == {1, 2}
        rows = spark.read.parquet(lake).collect()
        assert len(rows) == 2  # no duplicate lake ROWS either

        # epoch 1: a copy of an intra-batch-rejected doc still matches
        # the LAKE representative, and a copy whose rep was rejected in
        # ITS batch inherits the rep's fate
        b1 = spark.createDataFrame(
            [(11, text_a), (12, text_a)], "doc_id long, text string"
        )
        handle(b1, 1)
        rejected = {
            r["doc_id"]: (r["status"], r["match_id"])
            for r in spark.read.parquet(rej).collect()
        }
        assert rejected[11] == ("exact_dup", 1)  # rep of b1, dup of lake doc 1
        assert rejected[12] == ("exact_dup", 1)  # copy inherits rep 11's fate
        assert {r["doc_id"] for r in spark.read.parquet(lake).collect()} == {1, 2}
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_ingest_dedup_releases_batch_pins(spark):
    """A long-running ingest stream must not accumulate pinned frames:
    every barrier a micro-batch pins (the verdict, the admitted frame,
    incremental_dedup's index barrier) is released when the handler
    returns. Persist mode is the one whose pins are CacheManager entries
    as well as persistent RDDs, so both populations are checked."""
    import random
    import shutil

    from datapipeline_spike_spark.cache import (
        _cached_plans,
        _persistent_rdd_ids,
        unpersist_all,
    )
    from datapipeline_spike_spark.streaming.pipeline import ingest_with_dedup

    # earlier tests' unreferenced pins may be released by Spark's
    # ContextCleaner mid-test; start drained so the comparison below
    # sees only this stream's pins
    unpersist_all(spark, blocking=True)
    conf = "spark.datapipeline.materialize"
    prev = spark.conf.get(conf, None)
    spark.conf.set(conf, "persist")
    root = tempfile.mkdtemp(prefix="ingest_dedup_pins_")
    lake, ok, rej = f"{root}/lake", f"{root}/admitted", f"{root}/rejected"
    try:
        handle = ingest_with_dedup(lake, ok, rej)
        rdds_before = _persistent_rdd_ids(spark)
        n_entries = len(_cached_plans(spark))
        texts = {}
        for epoch in range(4):
            rng = random.Random(epoch)
            rows = [
                (epoch * 100 + i, " ".join(f"w{rng.randrange(5000)}" for _ in range(40)))
                for i in range(20)
            ]
            # plus an exact copy of the previous batch's first doc, so
            # every epoch after the first classifies against the index
            if epoch:
                rows.append((epoch * 100 + 99, texts[epoch - 1]))
            texts[epoch] = rows[0][1]
            handle(spark.createDataFrame(rows, "doc_id long, text string"), epoch)
            assert _persistent_rdd_ids(spark) == rdds_before, epoch
            assert len(_cached_plans(spark)) == n_entries, epoch
        lake_ids = {r["doc_id"] for r in spark.read.parquet(lake).collect()}
        assert len(lake_ids) == 80
        rejected = {r["doc_id"] for r in spark.read.parquet(rej).collect()}
        assert rejected == {199, 299, 399}
    finally:
        if prev is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, prev)
        shutil.rmtree(root, ignore_errors=True)


def test_stream_static_ann_candidate_join(spark):
    """Stream-STATIC join (the retrieval topology): a stream of query
    vectors equi-joins the static LSH-bucketed corpus on the bucket key
    — candidates per query match the batch twin exactly. The static
    side is loaded once, never re-shuffled per micro-batch beyond the
    join's requirement; this is how an online ANN candidate feed runs
    on Spark."""
    from datapipeline_spike_spark.operators.similarity import lsh_bucket_assign

    sf = "/root/testdata/sf0.001"
    corpus = load(spark, sf, "embeddings")
    static_side = lsh_bucket_assign(corpus, dim=64, n_planes=4).select(
        F.col("vec_id").alias("neighbor_id"), "bucket"
    )
    qdir = tempfile.mkdtemp(prefix="annq_")
    try:
        queries = corpus.filter(F.col("vec_id") < 5)
        lsh_bucket_assign(queries, dim=64, n_planes=4).select(
            F.col("vec_id").alias("query_id"), "bucket"
        ).write.mode("overwrite").parquet(qdir)
        qstream = spark.readStream.schema("query_id long, bucket int").parquet(qdir)
        joined = qstream.join(static_side, "bucket").select("query_id", "neighbor_id")
        q = run_to_memory(joined, "ann_stream")
        try:
            got = {
                (r["query_id"], r["neighbor_id"])
                for r in spark.sql("SELECT * FROM ann_stream").collect()
            }
        finally:
            q.stop()
        want = {
            (r["query_id"], r["neighbor_id"])
            for r in spark.read.parquet(qdir)
            .join(static_side, "bucket")
            .select("query_id", "neighbor_id")
            .collect()
        }
        assert got == want and len(got) > 0
    finally:
        shutil.rmtree(qdir, ignore_errors=True)


def test_session_stream_matches_batch_sessionize(spark, events_dir):
    """ST8 parity: F.session_window (streaming, 30-min gap) must carve
    the SAME sessions as the batch lag+cumsum sessionize — same session
    count and same per-session event counts per user, for every session
    the watermark has closed."""
    from datapipeline_spike_spark.operators.sessions import sessionize

    schema = spark.read.parquet(events_dir).schema
    stream = spark.readStream.schema(schema).parquet(events_dir)
    q = run_to_memory(session_stream(stream, key="user_id"), "sess_parity")
    try:
        got = {
            (r["user_id"], r["session_start"]): r["n_events"]
            for r in spark.sql("SELECT * FROM sess_parity").collect()
        }
        batch = (
            sessionize(
                spark.read.parquet(events_dir), "user_id", "ts", gap_minutes=30
            )
            .groupBy("user_id", "session_seq")
            .agg(F.min("ts").alias("session_start"), F.count(F.lit(1)).alias("n"))
        )
        want = {
            (r["user_id"], r["session_start"]): r["n"] for r in batch.collect()
        }
        # append mode withholds sessions the watermark hasn't closed
        # (each user's last session) — every EMITTED session must match
        # the batch answer exactly
        assert len(got) > 0
        n_users = len({k[0] for k in want})
        assert len(got) >= len(want) - n_users
        for k, v in got.items():
            assert want[k] == v, k
    finally:
        q.stop()


def test_streaming_upsert_maintains_latest_state_table(spark):
    """S8b under streaming: foreachBatch upsert_latest maintains a
    latest-per-key parquet state table across micro-batches — newer
    updates replace, late updates lose, final table equals the batch
    latest-per-key answer."""
    from datapipeline_spike_spark.operators.sessions import latest_per_key
    from datapipeline_spike_spark.sources.warehouse import read_state_table, upsert_latest

    root = tempfile.mkdtemp(prefix="upsert_stream_")
    src, table = f"{root}/src", f"{root}/state"
    try:
        ev = load(spark, "/root/testdata/sf0.001", "events").select(
            "event_id", "ts", "user_id", "event_type", "value"
        )
        # two files -> two micro-batches, overlapping keys
        ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
        ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )

        def apply_batch(batch_df, epoch_id):
            upsert_latest(
                spark, table, batch_df, keys=["user_id"], ts_col="ts",
                tiebreak="event_id",
            )

        q = stream.writeStream.foreachBatch(apply_batch).option(
            "checkpointLocation", f"{root}/ckpt"
        ).start()
        q.processAllAvailable()
        q.stop()
        got = {
            r["user_id"]: r["event_id"]
            for r in read_state_table(spark, table).collect()
        }
        want = {
            r["user_id"]: r["event_id"]
            for r in latest_per_key(ev, ["user_id"], "ts", "event_id").collect()
        }
        assert got == want and len(got) > 0
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_observed_ingest_metrics_match_batch_truth(spark, events_dir):
    """A14 via DataFrame.observe: per-micro-batch observed counters,
    summed over the run, equal the batch aggregation — metrics ride the
    scan, no second pass, no listener."""
    from datapipeline_spike_spark.streaming.observability import (
        sum_observed,
        with_ingest_metrics,
    )

    schema = spark.read.parquet(events_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(events_dir)
    )
    observed = with_ingest_metrics(stream)
    q = (
        observed.writeStream.format("noop")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="obs_ckpt_"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = sum_observed(q.recentProgress)
    finally:
        q.stop()
    ev = spark.read.parquet(events_dir)
    want = ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((F.col("value") > 100.0).cast("long")).alias("n_invalid"),
        F.sum(F.col("value").isNull().cast("long")).alias("n_null"),
    ).collect()[0]
    assert got["n_rows"] == want["n_rows"] > 0
    assert got["n_invalid"] == want["n_invalid"]
    assert got.get("n_null", 0) == (want["n_null"] or 0)


def test_streaming_scd2_upsert_maintains_history_table(spark):
    """SCD2 under streaming (the twin rule applied to warehouse MERGE):
    foreachBatch scd2_upsert across micro-batches ends with the stored
    history equal to the batch scd2_history over the full event log."""
    from datapipeline_spike_spark.operators.sessions import scd2_history
    from datapipeline_spike_spark.sources.warehouse import (
        read_state_table,
        scd2_upsert,
    )

    root = tempfile.mkdtemp(prefix="scd2_stream_")
    src, table = f"{root}/src", f"{root}/scd2"
    try:
        ev = load(spark, "/root/testdata/sf0.001", "events").select(
            "user_id", F.col("event_type").alias("state"), "ts", "event_id"
        )
        # two files -> two micro-batches split by TIME (per-key
        # in-order arrival: the MERGE exactness contract; arbitrarily
        # late mid-run events require the raw log, per the docstring)
        mid = ev.selectExpr("timestamp_micros(CAST(percentile(unix_micros(ts), 0.5) AS LONG)) AS m").collect()[0]["m"]
        ev.filter(F.col("ts") <= mid).coalesce(1).write.mode("append").parquet(src)
        ev.filter(F.col("ts") > mid).coalesce(1).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )

        def apply_batch(batch_df, epoch_id):
            scd2_upsert(
                spark, table, batch_df, keys=["user_id"],
                state_col="state", ts_col="ts", tiebreak="event_id",
            )

        q = stream.writeStream.foreachBatch(apply_batch).option(
            "checkpointLocation", f"{root}/ckpt"
        ).start()
        q.processAllAvailable()
        q.stop()

        def snap(frame):
            return sorted(
                (r["user_id"], r["version"], r["state"], r["valid_from"],
                 r["valid_to"], r["last_event_ts"], r["is_current"])
                for r in frame.collect()
            )

        assert snap(read_state_table(spark, table)) == snap(
            scd2_history(ev, ["user_id"], "state", "ts", "event_id")
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_content_dedup_stream_drops_cross_batch_copies(spark):
    """content_dedup_stream: exact text copies with DIFFERENT ids,
    arriving in different micro-batches inside the watermark, are
    dropped; distinct texts pass. The streaming twin of
    doc_fingerprint_dedup (same normalization, same fingerprint)."""
    from datapipeline_spike_spark.streaming.pipeline import content_dedup_stream

    root = tempfile.mkdtemp(prefix="content_dedup_")
    src = f"{root}/src"
    try:
        t0 = "2024-01-01 00:00:00"
        t1 = "2024-01-01 00:00:30"
        a = "the quick brown fox jumps over the lazy dog"
        b = "completely different content about query engines"
        mk = lambda rows: spark.createDataFrame(
            rows, "doc_id long, text string, ts string"
        ).select("doc_id", "text", F.col("ts").cast("timestamp").alias("ts"))
        # batch 1: two distinct docs; batch 2: same-text copy (new id,
        # whitespace variant — normalization must still catch it) + one new
        mk([(1, a, t0), (2, b, t0)]).coalesce(1).write.mode("append").parquet(src)
        mk([(3, "  " + a.replace(" ", "  "), t1), (4, "yet another novel document", t1)]).coalesce(
            1
        ).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema("doc_id long, text string, ts timestamp")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = run_to_memory(content_dedup_stream(stream), "content_dedup")
        try:
            ids = {r["doc_id"] for r in spark.sql("SELECT * FROM content_dedup").collect()}
            assert 1 in ids and 2 in ids and 4 in ids
            assert 3 not in ids  # cross-batch exact copy dropped
        finally:
            q.stop()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_ingest_dedup_pre_epoch_index_layout_raises(spark):
    """An index written by the pre-epoch append layout (no `epoch`
    partition column) must fail LOUDLY (r5 advice): silently treating it
    as absent would classify every doc 'new' and re-admit the lake's
    duplicates."""
    import shutil

    from datapipeline_spike_spark.streaming.pipeline import ingest_with_dedup

    root = tempfile.mkdtemp(prefix="ingest_dedup_layout_")
    lake, ok, rej = f"{root}/lake", f"{root}/admitted", f"{root}/rejected"
    try:
        # legacy index: plain append, no epoch partition
        spark.createDataFrame(
            [("abc", 1)], "f string, doc_id long"
        ).write.parquet(f"{lake}_index/fp")
        handle = ingest_with_dedup(lake, ok, rej)
        batch = spark.createDataFrame(
            [(5, "some document text about streaming ingest layouts")],
            "doc_id long, text string",
        )
        with pytest.raises(ValueError, match="epoch"):
            handle(batch, 0)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_scd2_stream_restart_and_replay_match_batch_twin(spark, events_dir):
    """Streaming SCD2 (r5 verdict item 8): micro-batches fold into the
    stored history table via foreachBatch(scd2_upsert); after a
    stop/restart over the same checkpoint the committed table equals
    the batch twin (scd2_history over ALL events), and re-applying the
    last batch (a crash between table commit and checkpoint commit)
    changes nothing — the fold is idempotent."""
    from datapipeline_spike_spark.operators.sessions import scd2_history
    from datapipeline_spike_spark.sources.warehouse import read_state_table
    from datapipeline_spike_spark.streaming.pipeline import scd2_stream

    root = tempfile.mkdtemp(prefix="scd2_stream_")
    src, table, ckpt = f"{root}/src", f"{root}/table", f"{root}/ckpt"
    cols = ["user_id", "event_type", "ts", "event_id"]
    try:
        base = spark.read.parquet(events_dir).select(*cols)
        cutoff = F.lit("2024-01-16 00:00:00").cast("timestamp")
        a = base.filter(F.col("ts") < cutoff)
        b = base.filter(F.col("ts") >= cutoff)
        handler = scd2_stream(table, keys=["user_id"], state_col="event_type")

        def start():
            stream = (
                spark.readStream.schema(
                    "user_id long, event_type string, ts timestamp, event_id long"
                )
                .option("maxFilesPerTrigger", "1")
                .parquet(src)
            )
            return (
                stream.writeStream.foreachBatch(handler)
                .option("checkpointLocation", ckpt)
                .start()
            )

        a.coalesce(1).write.mode("append").parquet(src)
        q = start(); q.processAllAvailable(); q.stop()
        # later events arrive while the query is DOWN (per-key in-order:
        # the time split guarantees every new event >= stored last_event_ts)
        b.coalesce(1).write.mode("append").parquet(src)
        q = start(); q.processAllAvailable(); q.stop()

        def snap():
            return sorted(
                map(tuple, read_state_table(spark, table).select(
                    "user_id", "event_type", "valid_from", "valid_to",
                    "last_event_ts", F.col("version").cast("int"), "is_current",
                ).collect())
            )

        want = sorted(
            map(tuple, scd2_history(base, ["user_id"], "event_type").select(
                "user_id", "event_type", "valid_from", "valid_to",
                "last_event_ts", F.col("version").cast("int"), "is_current",
            ).collect())
        )
        got = snap()
        assert got == want
        # injected replay of the last batch: crash after table commit,
        # before checkpoint commit -> the batch folds AGAIN on restart
        handler(b, 999)
        assert snap() == got
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_quality_gated_stream_matches_batch_twin(spark, tmp_path):
    """The classifier gate is stateless map-only AND actually gates:
    streaming micro-batches must keep exactly the docs the batch scorer
    keeps, carry the FULL record schema (text included — downstream
    dedup needs it) plus quality_score, and drop the rest."""
    from datapipeline_spike_spark.plans.catalog_extensions import (
        quality_classifier_score,
    )
    from datapipeline_spike_spark.streaming.pipeline import (
        quality_gated_stream,
        run_to_memory,
    )

    rows = [
        (0, "the data query join table stream " * 5, "web"),
        (1, "slow batch big small hash " * 5, "web"),
        (2, "the slow data batch neutral words here " * 5, "books"),
        (3, "query query join join the the data " * 3, "books"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    src = str(tmp_path / "docs")
    docs.write.parquet(src)
    stream = spark.readStream.schema(
        "doc_id long, text string, source string"
    ).option("maxFilesPerTrigger", "1").parquet(src)
    gated = quality_gated_stream(stream)
    # full record schema + the one added column
    assert gated.columns == ["doc_id", "text", "source", "quality_score"]
    run_to_memory(gated, "quality_gate")
    got = {
        (r["doc_id"], r["text"], r["source"], r["quality_score"])
        for r in spark.table("quality_gate").collect()
    }
    batch = quality_classifier_score(docs)
    kept = {r["doc_id"]: r["quality_score"] for r in batch.collect() if r["keep"]}
    want = {
        (i, t, s, kept[i]) for (i, t, s) in rows if i in kept
    }
    assert got == want
    # the gate must actually drop something in this fixture
    assert 0 < len(want) < len(rows)


def test_quality_gate_composes_with_ingest_dedup(spark):
    """The r7-advice composition, end to end: quality_gated_stream in
    FRONT of ingest_with_dedup. Low-quality docs must never reach the
    dedup index (they are dropped pre-ingest, not 'rejected'), kept
    docs flow through with their text intact and dedup still works on
    them, and the lake carries the gate's quality_score column."""
    import shutil
    import tempfile

    from datapipeline_spike_spark.streaming.pipeline import (
        ingest_with_dedup,
        quality_gated_stream,
    )

    good = "the data query join table stream " * 6
    bad = "slow batch big small hash " * 6
    root = tempfile.mkdtemp(prefix="gate_ingest_")
    src = f"{root}/src"
    lake, ok, rej = f"{root}/lake", f"{root}/admitted", f"{root}/rejected"
    try:
        spark.createDataFrame(
            [(1, good), (2, bad), (3, good)],  # 3 is an exact dup of 1
            "doc_id long, text string",
        ).coalesce(1).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            quality_gated_stream(stream)
            .writeStream.foreachBatch(ingest_with_dedup(lake, ok, rej))
            .option("checkpointLocation", f"{root}/ckpt")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        lake_rows = spark.read.parquet(lake).collect()
        lake_ids = {r["doc_id"] for r in lake_rows}
        rejected = {
            r["doc_id"]: (r["status"], r["match_id"])
            for r in spark.read.parquet(rej).collect()
        }
        idx_ids = {
            r["doc_id"] for r in spark.read.parquet(f"{lake}_index/fp").collect()
        }
        assert lake_ids == {1}                      # 2 gated out, 3 deduped
        assert rejected == {3: ("exact_dup", 1)}    # 2 never reached dedup
        assert 2 not in idx_ids                     # gate saved index work
        # the gate's added column flows through to the lake
        assert {r["doc_id"]: r["quality_score"] for r in lake_rows}[1] is not None
        assert all(r["text"] for r in lake_rows)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_ingest_restart_with_added_source_column(spark):
    """Schema evolution across a stream restart: the source gains a new
    column between runs. The restarted stream (new schema) must keep
    its checkpoint (no reprocessing of batch-1 docs), read old files
    with the new column as NULL, and admit new docs carrying it —
    the lake then holds both generations side by side."""
    import shutil
    import tempfile

    from datapipeline_spike_spark.streaming.pipeline import ingest_with_dedup

    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    b = "one two three four five six seven eight nine ten eleven twelve"
    root = tempfile.mkdtemp(prefix="evolve_")
    src = f"{root}/src"
    lake, ok, rej = f"{root}/lake", f"{root}/admitted", f"{root}/rejected"
    try:
        spark.createDataFrame([(1, a)], "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(src)
        s1 = spark.readStream.schema("doc_id long, text string").parquet(src)
        q = s1.writeStream.foreachBatch(ingest_with_dedup(lake, ok, rej)).option(
            "checkpointLocation", f"{root}/ckpt"
        ).start()
        q.processAllAvailable()
        q.stop()
        # source evolves: new files carry a crawl_id column
        spark.createDataFrame(
            [(2, b, "crawl-7")], "doc_id long, text string, crawl_id string"
        ).coalesce(1).write.mode("append").parquet(src)
        s2 = spark.readStream.schema(
            "doc_id long, text string, crawl_id string"
        ).parquet(src)
        q = s2.writeStream.foreachBatch(ingest_with_dedup(lake, ok, rej)).option(
            "checkpointLocation", f"{root}/ckpt"
        ).start()
        q.processAllAvailable()
        q.stop()
        lake_df = spark.read.option("mergeSchema", "true").parquet(lake)
        rows = {r["doc_id"]: r.asDict() for r in lake_df.collect()}
        assert set(rows) == {1, 2}            # no reprocessing, no loss
        assert rows[2]["crawl_id"] == "crawl-7"
        assert rows[1].get("crawl_id") is None  # old generation: NULL
        # the dedup index kept working across the schema change
        idx = {r["doc_id"] for r in spark.read.parquet(f"{lake}_index/fp").collect()}
        assert idx == {1, 2}
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_compact_dedup_index_preserves_classification(spark):
    """Index maintenance: after many micro-batches the index holds one
    epoch partition each; compaction must collapse all committed epochs
    into one (newest kept for crash-replay exclusion) while the NEXT
    ingest classifies byte-identically — dups of pre-compaction docs
    still match, fresh docs still admit."""
    import os
    import shutil
    import tempfile

    from datapipeline_spike_spark.streaming.pipeline import (
        compact_dedup_index,
        ingest_with_dedup,
    )

    texts = [
        f"document number {i} about topic {i % 3} with unique content token"
        f" alpha{i} beta{i} gamma{i} delta{i} epsilon{i}"
        for i in range(6)
    ]
    root = tempfile.mkdtemp(prefix="idx_compact_")
    src = f"{root}/src"
    lake, ok, rej = f"{root}/lake", f"{root}/admitted", f"{root}/rejected"
    try:
        # six single-file batches -> six epoch partitions per index leg
        for i, t in enumerate(texts):
            spark.createDataFrame([(i, t)], "doc_id long, text string").coalesce(
                1
            ).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = stream.writeStream.foreachBatch(
            ingest_with_dedup(lake, ok, rej)
        ).option("checkpointLocation", f"{root}/ckpt").start()
        q.processAllAvailable()
        q.stop()
        fp_dir = f"{lake}_index/fp"
        n_before = sum(1 for d in os.listdir(fp_dir) if d.startswith("epoch="))
        assert n_before >= 3
        report = compact_dedup_index(spark, f"{lake}_index")
        assert report["fp"]["epochs_before"] == n_before
        assert sum(
            1 for d in os.listdir(fp_dir) if d.startswith("epoch=")
        ) == 2
        # index CONTENT survived: same doc ids in the fp leg
        ids = {r["doc_id"] for r in spark.read.parquet(fp_dir).collect()}
        assert ids == set(range(6))
        # restart + next batch: dup of doc 2 rejected against the
        # compacted index, fresh doc admitted
        spark.createDataFrame(
            [(100, texts[2]), (101, "entirely fresh content zeta eta theta iota kappa lambda")],
            "doc_id long, text string",
        ).coalesce(1).write.mode("append").parquet(src)
        stream2 = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = stream2.writeStream.foreachBatch(
            ingest_with_dedup(lake, ok, rej)
        ).option("checkpointLocation", f"{root}/ckpt").start()
        q.processAllAvailable()
        q.stop()
        rejected = {
            r["doc_id"]: (r["status"], r["match_id"])
            for r in spark.read.parquet(rej).collect()
        }
        admitted = {r["doc_id"] for r in spark.read.parquet(ok).collect()}
        assert rejected.get(100) == ("exact_dup", 2)
        assert 101 in admitted
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_compact_dedup_index_crash_recovery_and_partial_guard(spark, tmp_path):
    """The two crash windows of the compaction swap: (a) killed between
    the renames -> the next compact call rolls the COMPLETE staged tmp
    forward; (b) killed mid-staging -> the partial tmp is discarded and
    the live leg untouched. And ingest against a PARTIALLY missing index
    must refuse loudly instead of re-admitting duplicates as 'new'."""
    import os
    import shutil

    from datapipeline_spike_spark.streaming.pipeline import (
        compact_dedup_index,
        ingest_with_dedup,
    )

    root = str(tmp_path)
    src = f"{root}/src"
    lake, ok, rej = f"{root}/lake", f"{root}/admitted", f"{root}/rejected"
    for i in range(4):
        spark.createDataFrame(
            [(i, f"doc {i} text alpha{i} beta{i} gamma{i} delta{i} epsilon{i}")],
            "doc_id long, text string",
        ).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = stream.writeStream.foreachBatch(ingest_with_dedup(lake, ok, rej)).option(
        "checkpointLocation", f"{root}/ckpt"
    ).start()
    q.processAllAvailable()
    q.stop()
    fp = f"{lake}_index/fp"
    ids_before = {r["doc_id"] for r in spark.read.parquet(fp).collect()}

    # (a) simulate a crash between the renames: stage a REAL tmp by
    # copying the live leg, then rename the leg away
    shutil.copytree(fp, f"{fp}.__compact_tmp")
    os.rename(fp, f"{fp}.__compact_old")
    # ingest now sees a partial index -> loud refusal, not silent 'new'
    handler = ingest_with_dedup(lake, ok, rej)
    batch = spark.createDataFrame(
        [(50, "doc 1 text alpha1 beta1 gamma1 delta1 epsilon1")],
        "doc_id long, text string",
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="PARTIAL"):
        handler(batch, 99)
    # recovery: the next compaction call rolls the swap forward
    compact_dedup_index(spark, f"{lake}_index")
    assert os.path.isdir(fp)
    assert not os.path.isdir(f"{fp}.__compact_old")
    assert {r["doc_id"] for r in spark.read.parquet(fp).collect()} == ids_before

    # (b) a partial mid-staging tmp beside a LIVE leg is discarded
    os.makedirs(f"{fp}.__compact_tmp/epoch=0")
    compact_dedup_index(spark, f"{lake}_index")
    assert not os.path.isdir(f"{fp}.__compact_tmp")
    assert {r["doc_id"] for r in spark.read.parquet(fp).collect()} == ids_before

def test_streaming_curation_gate_redact_dedup_compose(spark):
    """The full streaming curation chain: quality gate -> PII redaction
    (map-only withColumn, streaming-safe) -> dedup ingest. Redaction
    runs BEFORE the dedup index here — the opposite of the batch
    assembly's order — and that is deliberate: inside the ingest loop
    what matters is that index fingerprints and incoming fingerprints
    see the SAME text form, and redacting first (a) keeps raw PII out
    of the persisted index entirely and (b) canonicalizes PII variants,
    so two copies of a page differing only in the embedded email
    address dedup as exact duplicates."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from datapipeline_spike_spark.operators.redaction import redact
    from datapipeline_spike_spark.streaming.pipeline import (
        ingest_with_dedup,
        quality_gated_stream,
    )

    base = "the data query join table stream " * 6
    root = tempfile.mkdtemp(prefix="curate_stream_")
    src = f"{root}/src"
    lake, ok, rej = f"{root}/lake", f"{root}/admitted", f"{root}/rejected"
    try:
        spark.createDataFrame(
            [
                (1, base + "contact alice@example.com today"),
                (2, "slow batch big small hash " * 6),          # gated out
                (3, base + "contact bob@other.org today"),      # PII-variant dup of 1
            ],
            "doc_id long, text string",
        ).coalesce(1).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        curated = quality_gated_stream(stream).withColumn("text", redact("text"))
        q = (
            curated.writeStream.foreachBatch(ingest_with_dedup(lake, ok, rej))
            .option("checkpointLocation", f"{root}/ckpt")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        lake_rows = spark.read.parquet(lake).collect()
        assert {r["doc_id"] for r in lake_rows} == {1}
        assert "[EMAIL]" in lake_rows[0]["text"]
        assert "alice@example.com" not in lake_rows[0]["text"]
        rejected = {
            r["doc_id"]: (r["status"], r["match_id"])
            for r in spark.read.parquet(rej).collect()
        }
        # 3 deduped as an EXACT dup of 1 despite the differing raw email
        assert rejected == {3: ("exact_dup", 1)}
        # the persisted rejected-audit text is redacted too
        assert all(
            "@" not in r["text"] for r in spark.read.parquet(rej).collect()
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_boilerplate_stripped_stream_matches_batch_twin(spark, tmp_path):
    """ST twin of the r14-staged boilerplate pass: the line-df index is
    built OFFLINE on the full snapshot (the CCNet topology — corpus df
    is not streamable without unbounded state), the online strip is
    stateless map-only, and when the snapshot covers the streamed
    corpus the output rows are byte-identical to the batch operator."""
    from datapipeline_spike_spark.operators.quality import (
        boilerplate_line_index,
        boilerplate_line_removal,
    )
    from datapipeline_spike_spark.streaming.pipeline import (
        boilerplate_stripped_stream,
        run_to_memory,
    )

    banner = "common banner line"
    rows = [
        (
            i,
            f"{banner}\nunique line {i}\n"
            + ("promo section\n" if i % 2 == 0 else "")
            + f"body text {i * 7}",
        )
        for i in range(10)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idx = boilerplate_line_index(docs)
    # banner (df=10) and promo (df=5) cross max(2, ceil(0.05*10)) = 2;
    # per-doc unique lines (df=1) stay
    assert idx.count() == 2

    src = str(tmp_path / "bp_docs")
    docs.write.parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    run_to_memory(boilerplate_stripped_stream(stream, idx), "bp_strip")
    got = {tuple(r) for r in spark.table("bp_strip").collect()}
    want = {tuple(r) for r in boilerplate_line_removal(docs).collect()}
    assert got == want
    assert len(got) == 10
    # the strip is real on both sides: every doc lost its banner
    assert all(r[2] >= 1 for r in got)


def test_license_gated_stream_matches_batch_and_gates(spark, tmp_path):
    """The permissive-only ingest gate: streaming micro-batches keep
    exactly the records the batch battery admits (copyleft dropped,
    permissive AND unlicensed kept), carry the full schema plus the
    two added columns, and compose like the quality gate."""
    from datapipeline_spike_spark.streaming.pipeline import (
        license_gated_stream,
        run_to_memory,
    )

    rows = [
        (1, "released under the mit license", "code"),
        (2, "gnu general public license applies", "code"),
        (3, "plain prose with no license at all", "web"),
        (4, "see creative commons attribution terms", "web"),
        (5, "spdx-license-identifier: gpl-3.0-only | body", "code"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    src = str(tmp_path / "lic_docs")
    docs.write.parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string, source string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    gated = license_gated_stream(stream)
    assert gated.columns == [
        "doc_id", "text", "source", "license", "license_admissible",
    ]
    run_to_memory(gated, "lic_gate")
    got = {
        (r["doc_id"], r["license"]) for r in spark.table("lic_gate").collect()
    }
    # batch twin: same expression battery on the same frame
    want = {
        (r["doc_id"], r["license"])
        for r in license_gated_stream(docs).collect()
    }
    assert got == want
    assert got == {(1, "mit"), (3, "none"), (4, "cc-by-4.0")}
    # annotate-only mode admits everything, flags copyleft
    ann = {
        r["doc_id"]: (r["license"], r["license_admissible"])
        for r in license_gated_stream(docs, allow_copyleft=True).collect()
    }
    assert len(ann) == 5
    assert ann[2] == ("gpl-3.0", False) and ann[5] == ("gpl-3.0", False)
    # guarded-column collision is a typed error
    import pytest as _pytest

    with _pytest.raises(ValueError, match="license"):
        license_gated_stream(docs.withColumn("license", F.lit("x")))


def test_dlq_alert_monitor_flips_at_threshold(spark, events_dir):
    """A14 end-to-end (reference alert_threshold: 1000 messages,
    scaled to the fixture): the StreamingQueryListener folds observed
    per-batch failure counts and latches ALERT exactly when the
    cumulative total crosses the threshold; on_alert fires once; reset
    acknowledges."""
    from datapipeline_spike_spark.streaming.observability import (
        DlqAlertMonitor,
        sum_observed,
        with_ingest_metrics,
    )

    ev = spark.read.parquet(events_dir)
    total_invalid = ev.filter(F.col("value") > 100.0).count()
    assert total_invalid > 1  # the fixture must carry failures

    fired = []
    monitor = DlqAlertMonitor(
        threshold=total_invalid,  # crosses exactly on the last batch
        on_alert=fired.append,
    )
    spark.streams.addListener(monitor)
    try:
        schema = ev.schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(events_dir)
        )
        q = (
            with_ingest_metrics(stream)
            .writeStream.format("noop")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="dlq_ckpt_"))
            .start()
        )
        try:
            q.processAllAvailable()
            got = sum_observed(q.recentProgress)
            qid = str(q.id)
        finally:
            q.stop()
        # listener events are delivered asynchronously after the batch
        deadline = time.time() + 20
        while monitor.status(qid) != "ALERT" and time.time() < deadline:
            time.sleep(0.2)
        assert got["n_invalid"] == total_invalid
        assert monitor.status(qid) == "ALERT"
        rows = {r["query_id"]: r for r in monitor.status_rows()}
        assert rows[qid]["total"] == total_invalid
        assert rows[qid]["status"] == "ALERT"
        assert len(fired) == 1 and fired[0]["query_id"] == qid
        assert not monitor.callback_errors
        monitor.reset(qid)
        assert monitor.status(qid) == "OK"
    finally:
        spark.streams.removeListener(monitor)


def test_dlq_alert_monitor_dedups_replayed_batches():
    """ADVICE r18: micro-batches replayed after a checkpoint restart
    re-observe the same rows; the monitor must fold each batchId once
    per query, or a recovering query pages spuriously. Driven directly
    through the listener surface with fake progress events (the same
    shape Spark delivers), no cluster needed."""
    from types import SimpleNamespace

    from datapipeline_spike_spark.streaming.observability import (
        DlqAlertMonitor,
        INGEST_METRICS,
    )

    def prog(qid, batch, n_invalid):
        return SimpleNamespace(
            progress=SimpleNamespace(
                id=qid,
                name="q",
                batchId=batch,
                observedMetrics={
                    INGEST_METRICS: {"n_invalid": n_invalid}
                },
            )
        )

    monitor = DlqAlertMonitor(threshold=10)
    monitor.onQueryProgress(prog("q1", 0, 4))
    monitor.onQueryProgress(prog("q1", 1, 4))
    # restart from checkpoint: batches 0 and 1 replayed — must be skipped
    monitor.onQueryProgress(prog("q1", 0, 4))
    monitor.onQueryProgress(prog("q1", 1, 4))
    rows = {r["query_id"]: r for r in monitor.status_rows()}
    assert rows["q1"]["total"] == 8
    assert monitor.status("q1") == "OK"  # no spurious page
    # a genuinely new batch still folds and can cross the threshold
    monitor.onQueryProgress(prog("q1", 2, 4))
    assert monitor.status("q1") == "ALERT"
    rows = {r["query_id"]: r for r in monitor.status_rows()}
    assert rows["q1"]["total"] == 12
    # per-query tracking: another query's batch 0 is independent
    monitor.onQueryProgress(prog("q2", 0, 3))
    rows = {r["query_id"]: r for r in monitor.status_rows()}
    assert rows["q2"]["total"] == 3 and rows["q2"]["status"] == "OK"


def test_dlq_alert_monitor_stays_ok_below_threshold(spark, events_dir):
    """Below the threshold the status row reports OK with the live
    cumulative total — the gauge half of the contract."""
    from datapipeline_spike_spark.streaming.observability import (
        DlqAlertMonitor,
        with_ingest_metrics,
    )

    ev = spark.read.parquet(events_dir)
    total_invalid = ev.filter(F.col("value") > 100.0).count()

    monitor = DlqAlertMonitor(threshold=total_invalid + 1000)
    spark.streams.addListener(monitor)
    try:
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(events_dir)
        )
        q = (
            with_ingest_metrics(stream)
            .writeStream.format("noop")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="dlq_ok_"))
            .start()
        )
        try:
            q.processAllAvailable()
            qid = str(q.id)
        finally:
            q.stop()
        deadline = time.time() + 20
        while time.time() < deadline:
            rows = {r["query_id"]: r for r in monitor.status_rows()}
            if qid in rows and rows[qid]["total"] >= total_invalid:
                break
            time.sleep(0.2)
        rows = {r["query_id"]: r for r in monitor.status_rows()}
        assert rows[qid]["status"] == "OK"
        assert rows[qid]["total"] == total_invalid
    finally:
        spark.streams.removeListener(monitor)
