"""Parquet lake (S7/S10) and multimodal plumbing (§2.11)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from datapipeline_spike_spark.plans.registry import load
from datapipeline_spike_spark.sources.multimodal import decode_media, media_from_documents
from datapipeline_spike_spark.sources.parquet_lake import quality_routed_write, read_zone


def test_lake_partitioned_write_and_pruned_read(spark, sf_dir):
    root = tempfile.mkdtemp(prefix="lake_")
    try:
        ev = load(spark, sf_dir, "events").withColumn(
            "machine", F.concat(F.lit("M"), (F.col("user_id") % 2).cast("string"))
        )
        paths = quality_routed_write(ev, root, quality_col="value", threshold=10.0)
        raw = read_zone(spark, root, "raw")
        proc = read_zone(spark, root, "processed")
        assert raw.count() == ev.count()                      # raw keeps everything
        assert proc.count() == ev.filter("value >= 10.0").count()
        assert os.path.exists(os.path.join(paths["raw"], "_zone_metadata.json"))
        # hive layout -> partition pruning: filtered read touches one machine dir
        pruned = raw.filter((F.col("machine") == "M0") & (F.col("month") == 1))
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert pruned.count() > 0
        assert "machine" in plan  # partition filters present in scan
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_multimodal_decode_plumbing(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").limit(50)
    media = media_from_documents(docs)
    decoded = decode_media(media)
    rows = decoded.collect()
    assert len(rows) == 50
    for r in rows:
        assert 32 <= r["width"] < 640 and 32 <= r["height"] < 640
        assert 1 <= r["n_frames"] <= 16
        assert len(r["feature"]) == 8 and all(0 <= x <= 1 for x in r["feature"])
        assert r["n_bytes"] > 0
    # determinism: same payload -> same decode
    again = {r["media_id"]: r["feature"] for r in decode_media(media).collect()}
    assert all(again[r["media_id"]] == r["feature"] for r in rows)


def test_image_header_parse_stdlib():
    """The metadata decode tier is REAL: stdlib-built PNG/JPEG/GIF bytes
    round-trip their dimensions through the pure-struct header parser.
    PNG additionally cross-checks against a known-good external byte
    layout (signature offsets per the PNG spec)."""
    from datapipeline_spike_spark.sources.multimodal import (
        parse_image_header,
        synthetic_gif,
        synthetic_jpeg,
        synthetic_png,
    )

    for w, h in ((1, 1), (16, 48), (640, 480), (65535, 3)):
        assert parse_image_header(synthetic_png(w, h)) == ("png", w, h)
        assert parse_image_header(synthetic_gif(w, h)) == ("gif", w, h)
        if w <= 65535:
            assert parse_image_header(synthetic_jpeg(w, h)) == ("jpeg", w, h)
    # JPEG parse must skip non-SOF segments (APP0 precedes SOF0 already;
    # prepend a COM segment too) and padding fill bytes
    jpg = synthetic_jpeg(320, 240)
    padded = jpg[:2] + b"\xff\xfe\x00\x04hi" + b"\xff" + jpg[2:]
    assert parse_image_header(padded) == ("jpeg", 320, 240)
    # non-image payloads are not recognized
    assert parse_image_header(b"plain text payload") is None
    assert parse_image_header(b"\xff\xd8\xff\xd9") is None  # JPEG with no frame
    assert parse_image_header(b"") is None


def test_audio_header_parse_stdlib():
    from datapipeline_spike_spark.sources.multimodal import (
        parse_audio_header,
        synthetic_wav,
    )

    for ch, rate, bits in ((1, 16000, 16), (2, 44100, 16), (6, 48000, 24)):
        wav = synthetic_wav(ch, rate, bits)
        assert parse_audio_header(wav) == ("wav", ch, rate, bits)
    # a LIST chunk before fmt must be skipped (word-aligned walk)
    wav = synthetic_wav()
    padded = wav[:12] + b"LIST\x05\x00\x00\x00INFOx\x00" + wav[12:]
    assert parse_audio_header(padded) == ("wav", 1, 16000, 16)
    assert parse_audio_header(b"RIFFxxxxAVI ") is None
    assert parse_audio_header(b"plain text") is None


def test_video_header_parse_stdlib():
    import struct

    from datapipeline_spike_spark.sources.multimodal import (
        parse_video_header,
        synthetic_mp4,
    )

    for w, h, dur in ((64, 48, 500), (1920, 1080, 600000), (191, 143, 4460)):
        assert parse_video_header(synthetic_mp4(w, h, dur)) == ("mp4", w, h, dur, 1)
    # a free box between ftyp and moov must be walked over
    mp4 = synthetic_mp4(100, 50, 2000)
    ftyp_end = 8 + struct.unpack(">I", mp4[:4])[0] - 8
    free = struct.pack(">I", 16) + b"free" + b"\x00" * 8
    padded = mp4[:ftyp_end] + free + mp4[ftyp_end:]
    assert parse_video_header(padded) == ("mp4", 100, 50, 2000, 1)
    # timescale != 1000 rescales to ms (90 kHz is the MPEG clock)
    assert parse_video_header(synthetic_mp4(64, 48, 1500, timescale=90000))[3] == 1500
    # truncated/malformed boxes: no crash, no parse
    assert parse_video_header(mp4[:20]) is None
    assert parse_video_header(b"plain text payload") is None
    assert parse_video_header(b"") is None


def test_decode_media_uses_real_headers_for_images(spark, sf_dir):
    from datapipeline_spike_spark.sources.multimodal import (
        image_media_from_documents,
    )

    docs = load(spark, sf_dir, "documents").limit(30)
    decoded = decode_media(image_media_from_documents(docs)).collect()
    assert len(decoded) == 30
    for r in decoded:
        expected_fmt = {0: "png", 1: "jpeg", 2: "gif"}[r["media_id"] % 3]
        assert r["media_format"] == expected_fmt
        assert r["width"] == 16 + r["media_id"] % 64
        assert r["height"] == 16 + (r["media_id"] // 3) % 48
        assert r["n_frames"] == 1


def test_spectral_parity_and_dominant_bin(spark):
    import math

    from datapipeline_spike_spark.functions.features import arr_energy
    from datapipeline_spike_spark.functions.spectral import (
        dominant_frequency_bin,
        spectral_energy_fft,
    )

    # pure tone: 8 cycles over 64 samples -> dominant rfft bin = 8
    n, cycles = 64, 8
    tone = [math.sin(2 * math.pi * cycles * i / n) for i in range(n)]
    df = spark.createDataFrame([(tone,)], "arr array<double>")
    row = df.select(
        dominant_frequency_bin("arr").alias("bin"),
        spectral_energy_fft("arr").alias("e_fft"),
        arr_energy("arr").alias("e_time"),
    ).collect()[0]
    assert row["bin"] == float(cycles)
    assert abs(row["e_fft"] - row["e_time"]) < 1e-6  # Parseval twin


def test_warehouse_bucketed_table_roundtrip(spark, sf_dir):
    """S8: bucketed managed table — bucket spec recorded, rows intact,
    and a groupBy on the bucket key plans without an exchange."""
    import tempfile

    from datapipeline_spike_spark.sources.warehouse import write_bucketed_table

    root = tempfile.mkdtemp(prefix="warehouse_")
    try:
        feats = (
            load(spark, sf_dir, "events")
            .limit(2000)
            .select(F.col("ts").alias("SourceTimestamp"), "event_type", "value")
        )
        expected = feats.count()
        write_bucketed_table(feats, "wh_features", f"{root}/wh_features", n_buckets=8)
        back = spark.table("wh_features")
        assert back.count() == expected > 0
        ddl = spark.sql("DESCRIBE EXTENDED wh_features").toPandas()
        meta = dict(zip(ddl["col_name"], ddl["data_type"]))
        assert meta.get("Num Buckets") == "8"
        assert "SourceTimestamp" in meta.get("Bucket Columns", "")
        # bucketed scan feeds the aggregation pre-shuffled: no Exchange
        agg_plan = (
            back.groupBy("SourceTimestamp")
            .count()
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in agg_plan
    finally:
        spark.sql("DROP TABLE IF EXISTS wh_features")
        shutil.rmtree(root, ignore_errors=True)


def test_multimodal_resize_and_frame_sample(spark, sf_dir):
    from datapipeline_spike_spark.sources.multimodal import (
        decode_media,
        media_from_documents,
        resize_media,
        sample_frames,
    )

    docs = load(spark, sf_dir, "documents").limit(60)
    decoded = decode_media(media_from_documents(docs))
    resized = resize_media(decoded, 224, 224).collect()
    assert len(resized) == 60
    for r in resized:
        assert r["scale"] == pytest.approx(min(224 / r["width"], 224 / r["height"]), rel=1e-6)
        # letterbox iff the aspect ratio differs from the target's
        assert r["letterbox"] == (r["width"] * 224 != r["height"] * 224)

    frames = sample_frames(decoded, every_n=4)
    rows = frames.collect()
    vids = {r["media_id"]: r["n_frames"] for r in decoded.filter("media_type = 'video'").collect()}
    expected = sum(-(-n // 4) for n in vids.values())  # ceil(n/4) per video
    assert len(rows) == expected
    for r in rows:
        assert r["media_id"] in vids and r["frame_idx"] % 4 == 0
        assert r["frame_idx"] < r["n_frames"]


def test_kafka_wire_projections_roundtrip(spark):
    """S3/S4/S9 topology without the connector: the produce projection
    (kafka_payload) and the consume projection (parse_kafka_records) are
    exact inverses over the wire's (key, value) JSON contract."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from datapipeline_spike_spark.sources.kafka import kafka_payload, parse_kafka_records

    recs = spark.createDataFrame(
        [(1, "M0", 3.5), (2, "M1", None)], "id long, machine string, value double"
    )
    wire = kafka_payload(recs, key_col="id")
    assert wire.columns == ["key", "value"]
    wire_k = wire.withColumn("timestamp", F.current_timestamp())
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("machine", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    back = parse_kafka_records(wire_k, schema)
    rows = {r["id"]: r for r in back.collect()}
    assert rows[1]["key"] == "1" and rows[1]["machine"] == "M0" and rows[1]["value"] == 3.5
    assert rows[2]["value"] is None  # null survives the JSON round-trip
    assert "kafka_ts" in back.columns


def test_kafka_jar_gate_names_the_deployment_package(spark):
    """Without the connector jar (unvendorable in this sandbox — no
    network, COVERAGE.md S3'), builders must fail fast with the exact
    --packages invocation a real deployment needs."""
    import pytest as _pytest

    from datapipeline_spike_spark.sources import kafka as K

    if K.kafka_available(spark):
        _pytest.skip("connector present; gate not exercisable")
    with _pytest.raises(RuntimeError, match="spark-sql-kafka-0-10"):
        K.read_raw_stream(spark, "localhost:9092", value_schema=None)
    with _pytest.raises(RuntimeError, match="--packages"):
        K.to_kafka_sink(spark.range(1), "localhost:9092")


def test_audio_meta_roundtrip_with_data_chunk():
    """parse_audio_meta recovers fmt fields AND the data-chunk sample
    count from complete PCM files, including word-aligned odd chunks."""
    from datapipeline_spike_spark.sources.multimodal import (
        parse_audio_meta,
        synthetic_wav,
    )

    for ch, rate, bits, n in [(1, 8000, 8, 9), (2, 44100, 24, 50), (1, 16000, 16, 8)]:
        wav = synthetic_wav(ch, rate, bits, n)
        assert parse_audio_meta(wav) == ("wav", ch, rate, bits, n)
    assert parse_audio_meta(b"RIFFxxxxNOPE") is None
    assert parse_audio_meta(b"ID3\x03") is None


def test_decode_audio_mapinpandas(spark):
    """decode_audio end-to-end over the synthetic builder: every doc's
    WAV parses back to the doc_id-derived parameters."""
    from datapipeline_spike_spark.sources.multimodal import (
        audio_media_from_documents,
        decode_audio,
    )

    docs = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    out = {r["media_id"]: r for r in decode_audio(audio_media_from_documents(docs)).collect()}
    assert len(out) == 12
    for i in range(12):
        r = out[i]
        assert r["media_format"] == "wav"
        assert r["n_channels"] == 1 + i % 2
        assert r["sample_rate"] == (8000, 16000, 22050, 44100)[i % 4]
        assert r["bits_per_sample"] == (8, 16, 24)[i % 3]
        assert r["n_samples"] == 8 + i % 50
        assert r["duration_ms"] == (8 + i % 50) * 1000 // (8000, 16000, 22050, 44100)[i % 4]


def test_lake_compaction_reduces_files_preserves_rows(spark, tmp_path):
    """compact_zone: many micro-batch appends -> few right-sized files
    per partition, identical data, other partitions untouched."""
    from datapipeline_spike_spark.sources.parquet_lake import (
        compact_zone,
        read_zone,
        write_zone,
    )

    root = str(tmp_path / "lake")
    base = load(spark, "/root/testdata/sf0.001", "events").withColumn(
        "machine", F.concat(F.lit("M"), (F.col("user_id") % 2).cast("string"))
    )
    # simulate 6 micro-batch appends (each append = >=1 file/partition)
    for i in range(6):
        write_zone(base.filter(F.col("event_id") % 6 == i), root, "processed")
    # materialize BEFORE compaction: a lazy frame would hold the old
    # file listing and fail after the swap
    rows_before = sorted(
        map(tuple, read_zone(spark, root, "processed").collect())
    )
    import glob

    from datapipeline_spike_spark.sources.parquet_lake import zone_live_files

    files_before = len(glob.glob(f"{root}/processed/**/*.parquet", recursive=True))
    report = compact_zone(spark, root, "processed", target_file_bytes=64 * 1024 * 1024)
    assert report, "at least one partition should compact"
    # what READERS open shrank; the superseded generation stays on disk
    # one compaction interval for in-flight readers (manifest retention)
    live_after, _ = zone_live_files(root, "processed")
    assert len(live_after) < files_before
    rows_after = sorted(
        map(tuple, read_zone(spark, root, "processed").collect())
    )
    # value-level identity, not just counts
    assert rows_after == rows_before
    for rel, r in report.items():
        assert r["files_after"] < r["files_before"]
    # appends AFTER a manifest exists stay visible to readers...
    round1_files = set(glob.glob(f"{root}/processed/**/*.parquet", recursive=True))
    for i in range(6):
        write_zone(base.filter(F.col("event_id") % 6 == i), root, "processed")
    assert (
        sorted(map(tuple, read_zone(spark, root, "processed").collect()))
        == sorted(rows_before * 2)
    )
    # ...and the next compaction folds them in. With the default
    # retain_generations=2, the round-1 micro-batch files (superseded
    # at compaction #1) survive compaction #2...
    compact_zone(spark, root, "processed", target_file_bytes=64 * 1024 * 1024)
    on_disk = set(glob.glob(f"{root}/processed/**/*.parquet", recursive=True))
    round1_microbatch = {f for f in round1_files if "/g000001-" not in f}
    assert round1_microbatch and round1_microbatch <= on_disk
    # ...and are GC'd once compaction #3 pushes them past the window
    for i in range(6):
        write_zone(base.filter(F.col("event_id") % 6 == i), root, "processed")
    compact_zone(spark, root, "processed", target_file_bytes=64 * 1024 * 1024)
    on_disk = set(glob.glob(f"{root}/processed/**/*.parquet", recursive=True))
    assert round1_microbatch.isdisjoint(on_disk)
    # retention contract, exactly: disk = live generation + retained sets
    import os

    from datapipeline_spike_spark.sources.parquet_lake import (
        MANIFEST_NAME,
        _leaf_manifest,
        _retained_files,
    )

    for mpath in glob.glob(f"{root}/processed/**/{MANIFEST_NAME}", recursive=True):
        leaf = os.path.dirname(mpath)
        m = _leaf_manifest(leaf)
        disk = {f for f in os.listdir(leaf) if f.endswith(".parquet")}
        assert disk == set(m["files"]) | _retained_files(m)
        assert len(m["retained"]) == 2  # window depth honored
    assert (
        sorted(map(tuple, read_zone(spark, root, "processed").collect()))
        == sorted(rows_before * 3)
    )


def test_upsert_latest_merge_semantics(spark, tmp_path):
    """upsert_latest: replace-if-newer per key, insert-if-absent,
    discard-if-older, idempotent re-application."""
    from datapipeline_spike_spark.sources.warehouse import read_state_table, upsert_latest

    path = str(tmp_path / "state")
    t0 = "2024-01-01 00:00:00"
    t1 = "2024-01-02 00:00:00"
    t2 = "2024-01-03 00:00:00"

    def df(rows):
        return spark.createDataFrame(rows, "k long, ts string, v string").select(
            "k", F.col("ts").cast("timestamp").alias("ts"), "v"
        )

    n = upsert_latest(spark, path, df([(1, t1, "a1"), (2, t1, "b1")]), ["k"])
    assert n == 2
    # newer wins for k=1; k=3 inserts; k=2 untouched
    n = upsert_latest(spark, path, df([(1, t2, "a2"), (3, t0, "c0")]), ["k"])
    assert n == 3
    got = {r["k"]: (r["v"], r["ts"]) for r in read_state_table(spark, path).collect()}
    assert got[1][0] == "a2" and got[2][0] == "b1" and got[3][0] == "c0"
    # LATE update older than stored state is discarded
    n = upsert_latest(spark, path, df([(1, t0, "a0")]), ["k"])
    assert n == 3
    assert {r["k"]: r["v"] for r in read_state_table(spark, path).collect()}[1] == "a2"
    # idempotent: re-applying the same batch changes nothing
    before = sorted(map(tuple, read_state_table(spark, path).collect()))
    upsert_latest(spark, path, df([(1, t2, "a2")]), ["k"])
    after = sorted(map(tuple, read_state_table(spark, path).collect()))
    assert before == after


def test_lake_compaction_second_run_is_noop(spark, tmp_path):
    """Idempotence: once a partition is at target granularity the
    compactor must leave it alone (no churn, no rewrite)."""
    from datapipeline_spike_spark.sources.parquet_lake import compact_zone, write_zone

    root = str(tmp_path / "lake2")
    base = load(spark, "/root/testdata/sf0.001", "events").withColumn(
        "machine", F.concat(F.lit("M"), (F.col("user_id") % 2).cast("string"))
    )
    for i in range(5):
        write_zone(base.filter(F.col("event_id") % 5 == i), root, "processed")
    first = compact_zone(spark, root, "processed", target_file_bytes=64 * 1024 * 1024)
    assert first
    import glob

    files_after_first = sorted(glob.glob(f"{root}/processed/**/*.parquet", recursive=True))
    second = compact_zone(spark, root, "processed", target_file_bytes=64 * 1024 * 1024)
    assert second == {}  # nothing left to compact
    assert sorted(glob.glob(f"{root}/processed/**/*.parquet", recursive=True)) == files_after_first


def test_upsert_swap_never_404s_concurrent_reader(spark, tmp_path):
    """The r4 verdict's atomicity criterion: a reader polling the state
    table during at least 25 upsert swaps never hits a missing file or an
    empty table. The pointer-file commit (write v{N+1}, atomic _CURRENT
    replace, prune only versions older than the superseded one) is what
    makes this hold — the old delete+rename of the live path had a
    window where the table simply did not exist."""
    import threading

    from datapipeline_spike_spark.sources.warehouse import (
        read_state_table,
        upsert_latest,
    )

    path = str(tmp_path / "swapstate")

    def batch(i):
        return spark.createDataFrame(
            [(1, i, f"v{i}"), (2, i, f"w{i}")], "k long, seq long, v string"
        ).select("k", F.timestamp_seconds(1700000000 + F.col("seq")).alias("ts"), "v")

    upsert_latest(spark, path, batch(0), ["k"])
    stop = threading.Event()
    failures: list[str] = []
    n_reads = [0]

    def reader():
        while not stop.is_set():
            try:
                df = read_state_table(spark, path)
                rows = df.collect()
                assert len(rows) == 2, f"reader saw {len(rows)} rows"
                n_reads[0] += 1
            except Exception as e:  # noqa: BLE001
                failures.append(repr(e))
                return

    t = threading.Thread(target=reader, daemon=True)
    t.start()
    # >= 25 swap rounds, extended (bounded) until the reader has
    # genuinely polled >= 21 of them — load-tolerant progress criterion;
    # test_upsert_reader_survives_one_commit forces the read-across-a-
    # commit interleaving deterministically
    i = 0
    while i < 25 or (n_reads[0] <= 20 and i < 300):
        i += 1
        upsert_latest(spark, path, batch(i), ["k"])
        if failures:
            break
    stop.set()
    t.join(timeout=30)
    assert failures == []
    assert n_reads[0] > 20  # the reader was genuinely polling mid-swap


def test_upsert_reader_survives_one_commit(spark, tmp_path):
    """The interleaving the polling reader above only hits by chance,
    forced: a reader resolves the state table, one upsert commits the
    next version, and only then does the reader scan. The superseded
    snapshot it planned must still be on disk, so it returns the two
    rows that were committed when it resolved the pointer."""
    from datapipeline_spike_spark.sources.warehouse import (
        read_state_table,
        upsert_latest,
    )

    path = str(tmp_path / "onecommit")

    def batch(i):
        return spark.createDataFrame(
            [(1, i, f"v{i}"), (2, i, f"w{i}")], "k long, seq long, v string"
        ).select("k", F.timestamp_seconds(1700000000 + F.col("seq")).alias("ts"), "v")

    upsert_latest(spark, path, batch(0), ["k"])
    df = read_state_table(spark, path)
    upsert_latest(spark, path, batch(1), ["k"])
    rows = df.collect()
    assert sorted((r["k"], r["v"]) for r in rows) == [(1, "v0"), (2, "w0")]


def test_compact_swap_never_404s_concurrent_reader(spark, tmp_path):
    """Same criterion for compaction: a reader polling read_zone while
    leaves are repeatedly appended-to and compacted never hits a missing
    file, and always sees a consistent row multiset (never a half-swapped
    leaf with rows doubled or dropped by the compactor). One-generation
    manifest retention is the mechanism."""
    import threading

    from datapipeline_spike_spark.sources.parquet_lake import (
        compact_zone,
        read_zone,
        write_zone,
    )

    root = str(tmp_path)

    def batch(n=4):
        return spark.createDataFrame(
            [(f"M{j % 2}", 1700000000 + j, float(j)) for j in range(n)],
            "machine string, epoch long, value double",
        ).select("machine", F.timestamp_seconds("epoch").alias("ts"), "value")

    # seed with enough small files that every round compacts
    for _ in range(4):
        write_zone(batch().coalesce(1), root, "processed")
    stop = threading.Event()
    failures: list[str] = []
    n_reads = [0]

    def reader():
        # appends are visible file-by-file (standard parquet-dir
        # semantics), so only COMPACTION must be invisible: the row
        # count may grow mid-append but must never shrink below the
        # last fully-committed total, and no planned file may vanish.
        low_water = [0]
        while not stop.is_set():
            try:
                n = read_zone(spark, root, "processed").count()
                assert n >= low_water[0] > 0 or low_water[0] == 0, (
                    f"rows shrank {low_water[0]} -> {n}: a half-swapped leaf"
                )
                low_water[0] = max(low_water[0], n)
                n_reads[0] += 1
            except Exception as e:  # noqa: BLE001
                failures.append(repr(e))
                return

    t = threading.Thread(target=reader, daemon=True)
    t.start()
    # run at least 12 swap rounds, then keep swapping (bounded) until
    # the polling reader has observed >= 6 of them — under heavy host
    # load a fixed round count can outpace a starved reader thread and
    # fail on progress rather than on the property under test
    rounds = 0
    while rounds < 12 or (n_reads[0] <= 5 and rounds < 40):
        write_zone(batch().coalesce(1), root, "processed")
        compact_zone(spark, root, "processed", target_file_bytes=64 * 1024 * 1024)
        rounds += 1
        if failures:
            break
    stop.set()
    t.join(timeout=30)
    assert failures == []
    assert n_reads[0] > 5


@pytest.mark.parametrize("interleaving", ["compaction_before_manifest_read",
                                          "read_at_manifest_swap"])
def test_compaction_interleaved_with_leaf_resolution(spark, tmp_path, monkeypatch,
                                                     interleaving):
    """The two interleavings the polling reader above only hits by
    chance, forced. A compaction that lands while a reader resolves a
    leaf, and a reader that resolves a leaf the moment a compaction swaps
    its manifest, both see exactly the committed rows: no file of the
    generation that compaction drops (the never-compacted seed files,
    here) is taken for an append, planned after deletion, or counted
    twice."""
    from datapipeline_spike_spark.sources import parquet_lake
    from datapipeline_spike_spark.sources.parquet_lake import compact_zone, write_zone

    root = str(tmp_path)
    n_written = [0]

    def append():
        write_zone(
            spark.createDataFrame(
                [(f"M{j % 2}", 1700000000 + j, float(j)) for j in range(4)],
                "machine string, epoch long, value double",
            ).select("machine", F.timestamp_seconds("epoch").alias("ts"), "value")
            .coalesce(1),
            root,
            "processed",
        )
        n_written[0] += 4

    def compact():
        compact_zone(spark, root, "processed", target_file_bytes=64 * 1024 * 1024)

    # every compaction below has four live files per leaf to fold
    for _ in range(4):
        append()
    compact()  # the seed files become the retained generation
    for _ in range(3):
        append()
    compact()
    for _ in range(3):
        append()
    # the next compaction drops the seed files from its retained window
    seen = []
    if interleaving == "compaction_before_manifest_read":
        real = parquet_lake._leaf_manifest

        def leaf_manifest(dirpath):
            # the first leaf a manifest governs, not the zone root
            if not seen and os.path.exists(
                os.path.join(dirpath, parquet_lake.MANIFEST_NAME)
            ):
                seen.append(None)
                monkeypatch.setattr(parquet_lake, "_leaf_manifest", real)
                compact()
            return real(dirpath)

        monkeypatch.setattr(parquet_lake, "_leaf_manifest", leaf_manifest)
        assert read_zone(spark, root, "processed").count() == n_written[0]
        assert seen
    else:
        real = parquet_lake._write_manifest

        def write_manifest(dirpath, manifest):
            real(dirpath, manifest)
            if not seen:
                seen.append(read_zone(spark, root, "processed").count())

        monkeypatch.setattr(parquet_lake, "_write_manifest", write_manifest)
        compact()
        assert seen == [n_written[0]]
    assert read_zone(spark, root, "processed").count() == n_written[0]


def test_clustered_write_enables_data_skipping(spark, tmp_path):
    """write_clustered: range-partition + sort gives each file a narrow
    near-disjoint [min,max] footer envelope on the cluster key, so a
    selective predicate's candidate file set (what row-group pruning
    reads) is a small fraction of the table — proven from the actual
    parquet footer statistics, vs an unclustered write of the SAME data
    where every file spans ~the full key range and nothing can skip."""
    from datapipeline_spike_spark.sources.parquet_lake import (
        file_column_ranges,
        write_clustered,
    )

    ev = load(spark, "/root/testdata/sf0.001", "events").select("event_id", "value")
    n_files = 8
    clustered = str(tmp_path / "clustered")
    baseline = str(tmp_path / "baseline")
    write_clustered(ev, clustered, ["value"], n_files=n_files)
    ev.repartition(n_files).write.mode("overwrite").parquet(baseline)

    cr = file_column_ranges(clustered, "value")
    br = file_column_ranges(baseline, "value")
    assert len(cr) == n_files and len(br) == n_files
    lo = min(m for m, _ in br.values())
    hi = max(x for _, x in br.values())
    span = hi - lo

    def candidates(ranges, a, b):
        return [f for f, (mn, mx) in ranges.items() if mx >= a and mn <= b]

    # a 2%-of-range predicate window at the median
    import statistics

    mid = statistics.median([(mn + mx) / 2 for mn, mx in cr.values()])
    a, b = mid - 0.01 * span, mid + 0.01 * span
    assert len(candidates(cr, a, b)) <= 2  # clustered: skip ~everything
    assert len(candidates(br, a, b)) == n_files  # unclustered: read all
    # per-file envelopes: narrow when clustered, wide when not (the
    # value column has a long tail, so unclustered files don't quite
    # span the FULL range — assert the contrast, which is the property)
    c_mean = statistics.mean(mx - mn for mn, mx in cr.values())
    b_mean = statistics.mean(mx - mn for mn, mx in br.values())
    assert c_mean < 0.35 * span
    assert b_mean > 0.5 * span and b_mean > 2 * c_mean


def test_scd2_upsert_incremental_equals_full_recompute(spark, tmp_path):
    """scd2_upsert is the incremental MERGE deployment of scd2_history:
    after each batch the stored table must equal a from-scratch rebuild
    over ALL events so far (the twin rule applied to warehouse MERGE) —
    including a LATE event spliced into the middle of a key's history —
    and re-applying a batch must change nothing."""
    from datetime import datetime

    from datapipeline_spike_spark.operators.sessions import scd2_history
    from datapipeline_spike_spark.sources.warehouse import (
        read_state_table,
        scd2_upsert,
    )

    path = str(tmp_path / "scd2")
    t = lambda s: datetime(2024, 1, 1, 0, 0, s)

    def df(rows):
        return spark.createDataFrame(
            rows, "user_id long, state string, ts timestamp, event_id long"
        )

    def snap(frame):
        return sorted(
            (r["user_id"], r["version"], r["state"], r["valid_from"],
             r["valid_to"], r["last_event_ts"], r["is_current"])
            for r in frame.collect()
        )

    b1 = df([(1, "A", t(0), 1), (1, "B", t(10), 2), (2, "X", t(0), 3)])
    b2 = df([
        (1, "A", t(20), 4),   # key 1 returns to A -> third version
        (1, "C", t(5), 5),    # LATE: splices a C interval inside [0,10)
        (3, "N", t(0), 6),    # brand-new key
    ])
    scd2_upsert(spark, path, b1, ["user_id"], "state", "ts", "event_id")
    assert snap(read_state_table(spark, path)) == snap(
        scd2_history(b1, ["user_id"], "state", "ts", "event_id")
    )
    scd2_upsert(spark, path, b2, ["user_id"], "state", "ts", "event_id")
    full = scd2_history(
        b1.unionByName(b2), ["user_id"], "state", "ts", "event_id"
    )
    assert snap(read_state_table(spark, path)) == snap(full)
    # key 2 was untouched by b2: its interval row carried over verbatim
    got = {r["user_id"]: r for r in read_state_table(spark, path).collect()
           if r["user_id"] == 2}
    assert got[2]["state"] == "X" and got[2]["is_current"]
    # idempotent: re-applying b2 changes nothing
    before = snap(read_state_table(spark, path))
    scd2_upsert(spark, path, b2, ["user_id"], "state", "ts", "event_id")
    assert snap(read_state_table(spark, path)) == before


def test_compaction_crash_before_manifest_leaves_no_duplicates(spark, tmp_path):
    """Crash-recovery (r5 advice): the FIRST compaction of a leaf dies
    after renaming its g-generation files into place but BEFORE writing
    _MANIFEST.json. The stale g-files duplicate the originals; they must
    never be treated as live (read_zone would double rows and the next
    compact_zone would bake the duplicates into a committed generation)."""
    import glob
    import shutil as sh

    from datapipeline_spike_spark.sources.parquet_lake import (
        compact_zone,
        read_zone,
        write_zone,
    )

    root = str(tmp_path / "lake")
    base = load(spark, "/root/testdata/sf0.001", "events").withColumn(
        "machine", F.lit("M0")
    )
    for i in range(4):
        write_zone(base.filter(F.col("event_id") % 4 == i), root, "processed")
    rows_true = sorted(map(tuple, read_zone(spark, root, "processed").collect()))
    # simulate the crash: copy every live file to a g-named twin in the
    # same leaf, and write NO manifest (compactor died pre-commit)
    leaves = {os.path.dirname(f) for f in
              glob.glob(f"{root}/processed/**/*.parquet", recursive=True)}
    for leaf in leaves:
        assert not os.path.exists(os.path.join(leaf, "_MANIFEST.json"))
        for j, f in enumerate(sorted(os.listdir(leaf))):
            if f.endswith(".parquet"):
                sh.copy(os.path.join(leaf, f),
                        os.path.join(leaf, f"g000001-{j:05d}.parquet"))
    # readers see the originals only — no duplicated rows
    assert sorted(map(tuple, read_zone(spark, root, "processed").collect())) == rows_true
    # the retry compaction commits a clean generation: still no dupes,
    # and the crash debris is GC'd (not retained — it was never live)
    report = compact_zone(spark, root, "processed",
                          target_file_bytes=64 * 1024 * 1024)
    assert report
    assert sorted(map(tuple, read_zone(spark, root, "processed").collect())) == rows_true


def test_compaction_rejects_zero_retention(spark, tmp_path):
    """retain_generations=0 would re-open the reader-404 race the
    retained window exists to close — must raise, not silently GC."""
    from datapipeline_spike_spark.sources.parquet_lake import compact_zone, write_zone

    root = str(tmp_path / "lake")
    base = load(spark, "/root/testdata/sf0.001", "events").withColumn(
        "machine", F.lit("M0")
    )
    write_zone(base, root, "processed")
    with pytest.raises(ValueError, match="retain_generations"):
        compact_zone(spark, root, "processed", retain_generations=0)


def test_full_decode_malformed_payloads_degrade_to_null_rows(spark):
    """ADVICE r6: a truncated WAV data chunk or corrupt PNG IDAT must
    yield a NULL-feature row, not raise and fail the whole scan."""
    import struct
    import zlib

    from datapipeline_spike_spark.sources.multimodal import (
        _PNG_SIG,
        decode_audio_pcm_features,
        decode_image_pixel_features,
        synthetic_png_pattern,
        synthetic_wav_pattern,
    )

    good_wav = synthetic_wav_pattern(seed=7, n_samples=20)
    # header claims 20 samples, data chunk holds 5 -> struct.error path
    cut = good_wav.find(b"data") + 8 + 10
    truncated = good_wav[:cut]
    wav_df = spark.createDataFrame(
        [(0, bytearray(good_wav)), (1, bytearray(truncated))],
        "media_id long, payload binary",
    )
    rows = {r["media_id"]: r for r in decode_audio_pcm_features(wav_df).collect()}
    assert rows[0]["rms"] is not None
    assert rows[1]["rms"] is None and rows[1]["n_samples"] is None

    good_png = synthetic_png_pattern(seed=3, width=5, height=4)
    # rebuild with a garbage IDAT body (valid chunk framing, invalid
    # zlib stream) -> zlib.error path
    def chunk(tag, body):
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", 5, 4, 8, 0, 0, 0, 0)
    corrupt = (
        _PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", b"\x99garbage")
        + chunk(b"IEND", b"")
    )
    # truncated IHDR body -> struct.error path in the header parse
    short_ihdr = _PNG_SIG + chunk(b"IHDR", b"\x00\x01")
    png_df = spark.createDataFrame(
        [(0, bytearray(good_png)), (1, bytearray(corrupt)), (2, bytearray(short_ihdr))],
        "media_id long, payload binary",
    )
    rows = {r["media_id"]: r for r in decode_image_pixel_features(png_df).collect()}
    assert rows[0]["mean_px"] is not None
    assert rows[1]["mean_px"] is None
    assert rows[2]["mean_px"] is None

    # r12 review: an IDAT that inflates SHORT (truncated final row)
    # must be a NULL row too — silently averaging a partial pixel
    # stream is the worst failure mode (no crash, wrong values)
    w, h = 5, 4
    short_raw = (
        b"".join(b"\x00" + bytes(w) for _ in range(h - 1))
        + b"\x00" + bytes(w - 2)
    )
    short_png = (
        _PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(short_raw))
        + chunk(b"IEND", b"")
    )
    sdf = spark.createDataFrame(
        [(0, bytearray(short_png))], "media_id long, payload binary"
    )
    srow = decode_image_pixel_features(sdf).collect()[0]
    assert srow["mean_px"] is None and srow["n_pixels"] is None


def test_simhash64_quotable_id_column(spark):
    """ADVICE r6: simhash64 interpolates id_col into selectExpr — an id
    column needing backtick quoting must parse, matching the plain-name
    signature exactly."""
    from datapipeline_spike_spark.operators.dedup import simhash64

    plain = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon")], "doc_id long, text string"
    )
    quoted = plain.withColumnRenamed("doc_id", "doc id")
    want = {r["doc_id"]: r["simhash_hex"] for r in simhash64(plain).collect()}
    got = {
        r["doc id"]: r["simhash_hex"]
        for r in simhash64(quoted, id_col="doc id").collect()
    }
    assert got == want


def test_jpeg_codec_ac_path_matches_direct_idct():
    """The general baseline path (AC coefficients, ZRL runs, EOB, a
    non-trivial quant table) must round-trip through entropy coding and
    agree with an INDEPENDENT direct (non-separable) 2D IDCT."""
    import math

    from datapipeline_spike_spark.sources.multimodal import (
        decode_jpeg_gray,
        encode_jpeg_gray,
    )

    # quant table with structure; quantized coefficients incl. a long
    # zero run (forces ZRL), negatives, and a max-position coefficient
    q = [(1 + (i * 7) % 23) for i in range(64)]
    blk1 = [0] * 64
    blk1[0] = 37          # DC
    blk1[1] = -5
    blk1[8] = 11
    blk1[34] = -2
    blk1[63] = 3          # forces full-length AC scan
    blk2 = [0] * 64
    blk2[0] = -90
    blk2[5] = 1
    buf = encode_jpeg_gray([blk1, blk2], width=16, height=8, qtable=q)
    w, h, got = decode_jpeg_gray(buf)
    assert (w, h) == (16, 8)

    def direct_idct(coef):
        c = [1 / math.sqrt(2)] + [1.0] * 7
        out = []
        for y in range(8):
            for x in range(8):
                s = 0.0
                for v in range(8):
                    for u in range(8):
                        s += (
                            c[u] * c[v] * coef[v * 8 + u]
                            * math.cos((2 * x + 1) * u * math.pi / 16)
                            * math.cos((2 * y + 1) * v * math.pi / 16)
                        )
                val = int(round(s / 4 + 128))
                out.append(0 if val < 0 else (255 if val > 255 else val))
        return out

    for bi, blk in enumerate((blk1, blk2)):
        # encode_jpeg_gray takes the qtable in NATURAL order and writes
        # it zigzag-wise into DQT; the decoder's dequant restores the
        # natural pairing, so natural position i scales by q[i]
        coef = [blk[i] * q[i] for i in range(64)]
        want = direct_idct(coef)
        for y in range(8):
            for x in range(8):
                gx = bi * 8 + x
                assert got[y * 16 + gx] == want[y * 8 + x], (bi, x, y)




def test_jpeg_decode_malformed_and_unsupported_degrade_to_none():
    from datapipeline_spike_spark.sources.multimodal import (
        decode_jpeg_gray,
        synthetic_jpeg,
        synthetic_jpeg_pattern,
    )

    good = synthetic_jpeg_pattern(seed=5, width=16, height=8)
    assert decode_jpeg_gray(good) is not None
    assert decode_jpeg_gray(b"\xff\xd8\xff\xee") is None          # truncated
    assert decode_jpeg_gray(good[:-20]) is None                    # cut scan
    assert decode_jpeg_gray(b"GIF89a") is None                     # not a JPEG
    # header-only synthetic (no DQT/DHT/SOS): unsupported, not a crash
    assert decode_jpeg_gray(synthetic_jpeg(16, 8)) is None


def test_mjpeg_video_features_and_malformed_degrade(spark):
    """Full video tier: motion energy matches a hand computation on the
    generative pattern; malformed containers yield NULL rows."""
    from datapipeline_spike_spark.sources.multimodal import (
        decode_video_frame_features,
        synthetic_mjpeg_mp4,
    )

    seed, nf = 3, 4
    good = synthetic_mjpeg_mp4(seed, nf, 16, 8)
    truncated = good[: len(good) - 40]  # cut into mdat: frame slice fails
    df = spark.createDataFrame(
        [(0, bytearray(good)), (1, bytearray(truncated)), (2, bytearray(b"junk"))],
        "media_id long, payload binary",
    )
    rows = {r["media_id"]: r for r in decode_video_frame_features(df).collect()}
    assert rows[1]["mean_px"] is None and rows[2]["mean_px"] is None

    vals = {
        (f, b): ((seed * 131 + f * 17) * 11 + b * 29) % 256
        for f in range(nf)
        for b in range(2)
    }
    r = rows[0]
    assert r["n_frames"] == nf and r["n_pixels"] == nf * 128
    assert r["min_px"] == min(vals.values()) and r["max_px"] == max(vals.values())
    want_motion = sum(
        64 * abs(vals[(f, b)] - vals[(f + 1, b)])
        for f in range(nf - 1)
        for b in range(2)
    )
    assert r["motion_energy"] == want_motion
    assert r["mean_abs_frame_diff"] == round(want_motion / ((nf - 1) * 128), 6)


def test_serving_views_query_like_a_dashboard(spark, sf_dir):
    """S11: the serving views register and answer panel queries; the
    trend view matches a direct aggregation of the base frame."""
    from datapipeline_spike_spark.sources.warehouse import create_serving_views

    feats = (
        load(spark, sf_dir, "events")
        .limit(3000)
        .select(F.col("ts").alias("SourceTimestamp"), "event_type", "value")
    )
    names = create_serving_views(spark, feats, prefix="t_")
    assert set(names) == {"t_serving_features", "t_dash_feature_trend", "t_dash_latest_status"}
    trend = spark.table("t_dash_feature_trend")
    direct = feats.groupBy(
        F.date_trunc("hour", "SourceTimestamp").alias("hour"),
        "event_type",
    ).agg(
        F.round(F.avg("value"), 6).alias("avg_value"),
        F.round(F.max("value"), 6).alias("max_value"),
        F.count(F.lit(1)).alias("n_records"),
    )
    assert trend.exceptAll(direct).count() == 0
    assert direct.exceptAll(trend).count() == 0
    status = {r["event_type"]: r for r in spark.table("t_dash_latest_status").collect()}
    assert sum(r["n_total"] for r in status.values()) == feats.count()


def test_audio_band_ratios_concentrate_on_planted_tone(spark):
    """Spectral tier: a planted pure tone at a known bin must put ~all
    spectral energy in that bin's band; ratios sum to 1; the integer
    time-domain energy anchors Parseval; short and malformed clips
    degrade to NULL ratios."""
    import math
    import struct as _struct

    from datapipeline_spike_spark.sources.multimodal import (
        decode_audio_band_ratios,
    )

    def wav(samples):
        data = _struct.pack(f"<{len(samples)}h", *samples)
        fmt = _struct.pack("<HHIIHH", 1, 1, 16000, 32000, 2, 16)
        body = b"WAVE" + b"fmt " + _struct.pack("<I", len(fmt)) + fmt
        body += b"data" + _struct.pack("<I", len(data)) + data
        return b"RIFF" + _struct.pack("<I", len(body)) + body

    n = 64
    tone_hi = [round(1000 * math.cos(2 * math.pi * 28 * i / n)) for i in range(n)]
    tone_lo = [round(1000 * math.cos(2 * math.pi * 3 * i / n)) for i in range(n)]
    rows = [
        (1, wav(tone_hi), "audio"),   # bin 28 of hi=31 -> last band
        (2, wav(tone_lo), "audio"),   # bin 3 -> first band
        (3, wav([5, -5, 5]), "audio"),  # hi=1 < 4 bands -> NULL ratios
        (4, b"RIFFgarbage", "audio"),   # malformed -> NULL row
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary, media_type string")
    out = {r["media_id"]: r for r in decode_audio_band_ratios(df).collect()}
    r1, r2 = out[1], out[2]
    assert r1["band_ratio_4"] > 0.98 and r2["band_ratio_1"] > 0.98
    for r in (r1, r2):
        total = sum(r[f"band_ratio_{b}"] for b in range(1, 5))
        assert abs(total - 1.0) < 1e-5
        # Parseval anchor: integer time-domain energy present and exact
        assert r["energy_td"] == sum(
            x * x for x in (tone_hi if r is r1 else tone_lo)
        )
    assert out[3]["band_ratio_1"] is None and out[3]["n_samples"] == 3
    assert out[4]["n_samples"] is None


def test_bloom_indexed_write_proves_filters_and_preserves_rows(spark, tmp_path):
    """r10 bloom-filter lake tier: the equality-key skipping layout for
    fingerprint/id point lookups. Proof is read-back through
    parquet-mr (file_bloom_columns), not writer-option folklore: every
    file carries a bloom filter on EXACTLY the indexed column, rows
    round-trip, and a point lookup returns the right row. Composes
    with sort-clustering (range keys + equality keys in one write)."""
    from pyspark.sql import functions as F

    from datapipeline_spike_spark.plans.registry import load
    from datapipeline_spike_spark.sources.parquet_lake import (
        file_bloom_columns,
        write_bloom_indexed,
    )

    docs = load(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", F.md5(F.col("text")).alias("fp"), "n_chars"
    )
    path = str(tmp_path / "bloomed")
    write_bloom_indexed(
        docs, path, bloom_cols=["fp"], expected_ndv=10_000,
        cluster_cols=["n_chars"], n_files=4,
    )
    blooms = file_bloom_columns(spark, path)
    assert blooms, "no parquet files written"
    for f, cols in blooms.items():
        assert cols == ["fp"], (f, cols)
    back = spark.read.parquet(path)
    assert back.count() == docs.count()
    probe = docs.select("doc_id", "fp").first()
    hit = back.filter(F.col("fp") == probe["fp"]).collect()
    assert [r["doc_id"] for r in hit] == [probe["doc_id"]]
    # the clustered range key still lands narrow per-file envelopes
    from datapipeline_spike_spark.sources.parquet_lake import file_column_ranges

    ranges = file_column_ranges(path, "n_chars")
    assert len(ranges) >= 2
    spans = sorted(ranges.values())
    # near-disjoint: each file's max <= next file's min (range partitioning)
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2


def test_multimodal_decoders_fuzz_contract(spark):
    """r12 fuzz contract (the HDF5 boundary's multimodal sibling):
    byte-mutants of every synthetic media container must decode or
    yield a NULL row — never raise out of the Arrow batch and abort
    the scan stage. All mutants of one decoder batch into ONE
    DataFrame, so the whole sweep costs six Spark jobs."""
    import random

    from datapipeline_spike_spark.sources.multimodal import (
        decode_audio_pcm_features,
        decode_image_dhash,
        decode_image_pixel_features,
        decode_jpeg_pixel_features,
        decode_media,
        decode_video_frame_features,
        synthetic_jpeg_pattern,
        synthetic_mjpeg_mp4,
        synthetic_png_family,
        synthetic_png_pattern,
        synthetic_wav_pattern,
    )

    rng = random.Random(34)

    def mutants(blob: bytes, n: int = 60) -> list[tuple[int, bytearray]]:
        rows = [(0, bytearray(blob))]
        for i in range(1, n):
            m = bytearray(blob)
            if i % 5 == 0:
                m = m[: rng.randrange(1, len(m))]  # truncation
            else:
                for _ in range(rng.randint(1, 6)):
                    m[rng.randrange(len(m))] = rng.randrange(256)
            rows.append((i, m))
        return rows

    cases = [
        (decode_image_pixel_features, synthetic_png_pattern(3, 6, 5)),
        (decode_image_dhash, synthetic_png_family(2, 1)),
        (decode_audio_pcm_features, synthetic_wav_pattern(5, 30)),
        (decode_jpeg_pixel_features, synthetic_jpeg_pattern(4, 16, 16)),
        (decode_video_frame_features, synthetic_mjpeg_mp4(7, 3, 16, 16)),
        (decode_media, synthetic_png_pattern(9, 7, 4)),
    ]
    for decoder, blob in cases:
        df = spark.createDataFrame(
            mutants(blob), "media_id long, payload binary"
        )
        if decoder is decode_media:
            df = df.withColumn("media_type", F.lit("image"))
        out = decoder(df).collect()  # must not raise
        assert len(out) == 60, decoder.__name__


def test_audio_decoders_survive_list_chunk_containing_data_text(spark):
    """r14 review: the data chunk was located with payload.find(b"data")
    — the first byte-string match ANYWHERE — so a LIST/INFO metadata
    chunk whose text contains 'data' (ICMT 'metadata v2', common in
    real WAVs) misaligned every sample read. The decoders now walk
    chunk headers (wav_data_offset); features must equal the
    plain-container decode bit for bit."""
    import struct as _struct

    from datapipeline_spike_spark.sources.multimodal import (
        decode_audio_fingerprint,
        decode_audio_pcm_features,
        synthetic_wav_pattern,
        wav_data_offset,
    )

    def with_list_chunk(wav: bytes) -> bytes:
        # splice a LIST chunk (body contains the bytes 'data') between
        # fmt and data, fixing up the RIFF size
        body = b"INFOICMT" + _struct.pack("<I", 12) + b"metadata v2\x00"
        chunk = b"LIST" + _struct.pack("<I", len(body)) + body
        di = wav.find(b"data")  # plain synthetic wav: first hit IS the chunk
        out = wav[:di] + chunk + wav[di:]
        return out[:4] + _struct.pack("<I", len(out) - 8) + out[8:]

    plain = synthetic_wav_pattern(seed=3, n_samples=65 * 64)
    tricky = with_list_chunk(plain)
    # the trap really exists: naive find() hits the LIST body first
    assert tricky.find(b"data") < wav_data_offset(tricky) - 8
    df = spark.createDataFrame(
        [(1, plain), (2, tricky)], "media_id long, payload binary"
    )
    pcm = {r["media_id"]: r for r in decode_audio_pcm_features(df).collect()}
    assert pcm[2]["rms"] == pcm[1]["rms"]
    assert pcm[2]["peak"] == pcm[1]["peak"]
    assert pcm[2]["mean_amplitude"] == pcm[1]["mean_amplitude"]
    fp = {r["media_id"]: r for r in decode_audio_fingerprint(df).collect()}
    assert fp[2]["fp_w0"] == fp[1]["fp_w0"] is not None
    assert fp[2]["fp_w1"] == fp[1]["fp_w1"]


def test_frame_grain_decoders_fuzz_contract(spark):
    """r14 wave-2/3 frame-grain decoders (VAD frame energy, scene-cut
    frame diffs) under the same fuzz contract: byte-mutants must decode
    (fully or not at all — these emit 0..n_frames rows per clip), never
    raise out of the Arrow batch; and the full segmentation operators
    built on them must survive the same corpus."""
    import random

    from datapipeline_spike_spark.sources.multimodal import (
        audio_vad_segments,
        decode_audio_frame_energy,
        decode_video_frame_diffs,
        synthetic_scene_mp4,
        synthetic_wav_vad,
        video_scene_cuts,
    )

    rng = random.Random(77)

    def mutants(blob: bytes, n: int = 60) -> list[tuple[int, bytearray]]:
        rows = [(0, bytearray(blob))]
        for i in range(1, n):
            m = bytearray(blob)
            if i % 5 == 0:
                m = m[: rng.randrange(1, len(m))]
            else:
                for _ in range(rng.randint(1, 6)):
                    m[rng.randrange(len(m))] = rng.randrange(256)
            rows.append((i, m))
        return rows

    for decoder, op, blob, max_frames in (
        (decode_audio_frame_energy, audio_vad_segments,
         synthetic_wav_vad(5, 96), 12),
        (decode_video_frame_diffs, video_scene_cuts,
         synthetic_scene_mp4(7, 6), 6),
    ):
        df = spark.createDataFrame(
            mutants(blob), "media_id long, payload binary"
        )
        frames = decoder(df).collect()  # must not raise
        per_clip: dict[int, int] = {}
        for r in frames:
            per_clip[r["media_id"]] = per_clip.get(r["media_id"], 0) + 1
        assert all(v <= max_frames for v in per_clip.values())
        # the intact original always decodes fully
        assert per_clip.get(0) == max_frames
        op(df.withColumn("media_type", F.lit("x"))).collect()  # must not raise
