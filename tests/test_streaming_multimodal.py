"""Streaming-vs-batch equivalence and multimodal byte-level checks that the
DuckDB oracle cannot express (byte-slice checksums, NotImplementedError
gating)."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from aci_export_spark import multimodal as MM
from aci_export_spark import streaming as ST
from aci_export_spark.sources import read_table
from tests.conftest import SF_SMOKE


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_streaming_hourly_agg_equals_batch(spark):
    from aci_export_spark.harness_streaming import streaming_hourly_agg

    got = streaming_hourly_agg(spark, SF_SMOKE)
    ev = read_table(spark, SF_SMOKE, "events")
    want = (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
            F.sum(F.get_json_object("props", "$.k").cast("long")).alias("sum_k"),
        )
    )
    cols = ["hour", "event_type", "n_events", "sum_value", "sum_k"]
    assert _rows(got, cols) == _rows(want, cols)


def test_streaming_sessionization_equals_batch(spark):
    from aci_export_spark.harness_llm import events_sessionization
    from aci_export_spark.harness_streaming import streaming_sessionization

    got = streaming_sessionization(spark, SF_SMOKE)
    want = events_sessionization(spark, SF_SMOKE)
    cols = ["user_id", "session_no", "session_start", "session_end", "n_events"]
    assert _rows(got, cols) == _rows(want, cols)


def test_streaming_session_window_equals_closed_batch_sessions(spark):
    """The JVM-native session_window twin must equal the batch lag+cumsum
    sessionization under session_window's own conventions: >= gap breaks,
    and only sessions the end-of-feed watermark closed are emitted."""
    from pyspark.sql import Window

    from aci_export_spark.harness_streaming import streaming_session_window
    from aci_export_spark.sources import read_table as rt

    got = streaming_session_window(spark, SF_SMOKE)
    ev = rt(spark, SF_SMOKE, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = micros - F.lag(micros).over(w)
    flag = F.when(gap.isNull() | (gap >= 30 * 60 * 1_000_000), 1).otherwise(0)
    wc = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = ev.withColumn("__f", flag).withColumn("session_no", F.sum("__f").over(wc))
    agg = sess.groupBy("user_id", "session_no").agg(
        F.min("ts").alias("__smin"),
        F.max("ts").alias("__smax"),
        F.count(F.lit(1)).alias("n_events"),
    )
    mx = ev.agg(F.max("ts")).collect()[0][0]
    want = (
        agg.filter(F.col("__smax") + F.expr("INTERVAL 30 MINUTES") <= F.lit(mx))
        .select(
            "user_id",
            F.col("session_no").cast("long").alias("session_no"),
            F.date_format("__smin", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("__smax", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
        )
    )
    cols = ["user_id", "session_no", "session_start", "session_end", "n_events"]
    assert _rows(got, cols) == _rows(want, cols)
    # sanity: nearly every session closes on the smoke fixture
    assert got.count() >= ev.select("user_id").distinct().count()


def test_reconcile_session_windows_dedupes_replayed_snapshots(spark):
    """A sink accumulating multiple runs carries superseded snapshots:
    grown/merged spans must shadow contained ones, same-span re-emissions
    keep the max count, and numbering follows start order."""
    from aci_export_spark.streaming.core import reconcile_session_windows

    snaps = spark.createDataFrame(
        [
            # user 1: early partial (contained), its grown form, same-span re-emit
            (1, "2026-01-01 10:00:00", "2026-01-01 10:05:00", 2),
            (1, "2026-01-01 10:00:00", "2026-01-01 10:20:00", 3),
            (1, "2026-01-01 10:00:00", "2026-01-01 10:20:00", 5),
            # user 1: a later disjoint session
            (1, "2026-01-01 12:00:00", "2026-01-01 12:01:00", 1),
            # user 2: single session
            (2, "2026-01-01 09:00:00", "2026-01-01 09:30:00", 4),
        ],
        schema="user_id long, session_start string, session_end string, n_events long",
    )
    rows = sorted(
        (r["user_id"], r["session_no"], r["session_start"], r["n_events"])
        for r in reconcile_session_windows(snaps, dedupe_replays=True).collect()
    )
    assert rows == [
        (1, 1, "2026-01-01 10:00:00", 5),
        (1, 2, "2026-01-01 12:00:00", 1),
        (2, 1, "2026-01-01 09:00:00", 4),
    ]


def test_frame_checksums_match_byte_slices(spark):
    docs = read_table(spark, SF_SMOKE, "documents").limit(50)
    media = MM.attach_media(docs)
    frames = {
        (r["doc_id"], r["frame_no"]): (r["frame_offset"], r["frame_len"], r["frame_checksum"])
        for r in MM.sample_frames(media).collect()
    }
    for row in docs.select("doc_id", "text").collect():
        data = row["text"].encode("utf-8")
        n_frames = max(1, math.ceil(len(data) / MM.FRAME_BYTES))
        for i in range(n_frames):
            chunk = data[i * MM.FRAME_BYTES : (i + 1) * MM.FRAME_BYTES]
            off, flen, csum = frames[(row["doc_id"], i)]
            assert off == i * MM.FRAME_BYTES
            assert flen == len(chunk)
            assert csum == hashlib.md5(chunk).hexdigest()
        assert (row["doc_id"], n_frames) not in frames


def test_real_decode_rejects_non_image_payloads(spark):
    # text bytes are not a PNG/JPEG/GIF container → image rows must fail
    # loudly (not fabricate dims); audio/video rows stay codec-gated
    docs = read_table(spark, SF_SMOKE, "documents").limit(6)
    media = MM.attach_media(docs)
    with pytest.raises(Exception) as exc_info:
        MM.decode_metadata(media, real=True).collect()
    msg = str(exc_info.value)
    assert (
        "unrecognized image container" in msg
        or "NotImplementedError" in msg
        or "codec" in msg
    )


def _png(w: int, h: int) -> bytes:
    return (
        b"\x89PNG\r\n\x1a\n"
        + b"\x00\x00\x00\rIHDR"
        + w.to_bytes(4, "big")
        + h.to_bytes(4, "big")
        + b"\x08\x06\x00\x00\x00"
    )


def _gif(w: int, h: int) -> bytes:
    return b"GIF89a" + w.to_bytes(2, "little") + h.to_bytes(2, "little") + b"\xf7\x00\x00"


def _jpeg(w: int, h: int) -> bytes:
    # SOI + APP0 (JFIF) + COM + SOF0 carrying the dimensions
    app0 = b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    com = b"\xff\xfe" + (7).to_bytes(2, "big") + b"hello"
    sof0 = (
        b"\xff\xc0"
        + (17).to_bytes(2, "big")
        + b"\x08"
        + h.to_bytes(2, "big")
        + w.to_bytes(2, "big")
        + b"\x03\x01\x22\x00\x02\x11\x01\x03\x11\x01"
    )
    return b"\xff\xd8" + app0 + com + sof0


def test_parse_image_dims_headers():
    assert MM.parse_image_dims(_png(131, 47)) == (131, 47)
    assert MM.parse_image_dims(_gif(320, 200)) == (320, 200)
    assert MM.parse_image_dims(_jpeg(1920, 1080)) == (1920, 1080)
    assert MM.parse_image_dims(b"not an image at all") is None
    assert MM.parse_image_dims(b"\x89PNG\r\n\x1a\n\x00\x00") is None  # truncated
    assert MM.parse_image_dims(b"\xff\xd8\xff\xd9") is None  # JPEG with no SOF


def test_real_decode_metadata_on_genuine_image_bytes(spark):
    payloads = [
        (1, _png(640, 480)),
        (2, _jpeg(1024, 768)),
        (3, _gif(88, 31)),
    ]
    media = spark.createDataFrame(
        [(i, bytearray(b), "image") for i, b in payloads],
        "doc_id long, content binary, media_type string",
    )
    got = {
        r["doc_id"]: (r["width"], r["height"], r["byte_len"], r["checksum"])
        for r in MM.decode_metadata(media, real=True).collect()
    }
    import hashlib as _hl

    assert got == {
        i: (w, h, len(b), _hl.md5(b).hexdigest())
        for (i, b), (w, h) in zip(payloads, [(640, 480), (1024, 768), (88, 31)])
    }


def _wav(sample_rate: int, channels: int, n_samples: int, bits: int = 16) -> bytes:
    import struct

    block_align = channels * bits // 8
    byte_rate = sample_rate * block_align
    data = b"\x00" * (n_samples * block_align)
    fmt = struct.pack("<HHIIHH", 1, channels, sample_rate, byte_rate, block_align, bits)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def _mp4(duration: int, timescale: int, w: int | None = None, h: int | None = None) -> bytes:
    import struct

    def box(btype: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + btype + payload

    ftyp = box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
    mvhd = box(
        b"mvhd",
        b"\x00\x00\x00\x00"  # version 0 + flags
        + struct.pack(">II", 0, 0)  # creation/modification
        + struct.pack(">II", timescale, duration)
        + b"\x00" * 80,  # rate/volume/reserved/matrix/predefined/next_track
    )
    children = mvhd
    if w is not None:
        tkhd = box(
            b"tkhd",
            b"\x00\x00\x00\x07"
            + struct.pack(">II", 0, 0)  # times
            + struct.pack(">I", 1)  # track id
            + b"\x00" * 4
            + struct.pack(">I", duration)
            + b"\x00" * 8  # reserved
            + b"\x00" * 8  # layer/alternate/volume/reserved
            + b"\x00" * 36  # matrix
            + struct.pack(">II", w << 16, h << 16),
        )
        children += box(b"trak", tkhd)
    return ftyp + box(b"moov", children)


def test_parse_wav_meta():
    # 44100 Hz stereo 16-bit, 22050 samples = 500 ms
    assert MM.parse_wav_meta(_wav(44100, 2, 22050)) == (500, 44100, 2)
    # 8 kHz mono, 8000 samples = 1 s
    assert MM.parse_wav_meta(_wav(8000, 1, 8000)) == (1000, 8000, 1)
    assert MM.parse_wav_meta(b"RIFFxxxxNOPE") is None
    assert MM.parse_wav_meta(b"\x00" * 40) is None
    # fmt without data chunk → None
    import struct

    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    no_data = b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt)) + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    assert MM.parse_wav_meta(no_data) is None


def test_parse_mp4_meta():
    # duration 90000 at timescale 600 = 150000 ms, 1280x720 video track
    assert MM.parse_mp4_meta(_mp4(90000, 600, 1280, 720)) == (150000, 1280, 720)
    # audio-only MP4 (no tkhd dims)
    assert MM.parse_mp4_meta(_mp4(44100, 44100)) == (1000, None, None)
    assert MM.parse_mp4_meta(b"not a video") is None
    assert MM.parse_mp4_meta(b"\x00" * 64) is None


def test_decode_av_metadata_real_on_genuine_containers(spark):
    payloads = [
        (1, _png(640, 480), "image"),
        (2, _wav(16000, 1, 16000), "audio"),
        (3, _mp4(1200, 600, 320, 240), "video"),
    ]
    media = spark.createDataFrame(
        [(i, bytearray(b), t) for i, b, t in payloads],
        "doc_id long, content binary, media_type string",
    )
    got = {
        r["doc_id"]: (
            r["duration_ms"], r["sample_rate"], r["channels"],
            r["width"], r["height"],
        )
        for r in MM.decode_av_metadata(media, real=True).collect()
    }
    assert got == {
        1: (None, None, None, 640, 480),
        2: (1000, 16000, 1, None, None),
        3: (2000, None, None, 320, 240),
    }


def test_decode_av_metadata_real_rejects_wrong_container(spark):
    media = spark.createDataFrame(
        [(1, bytearray(b"plain text, not audio"), "audio")],
        "doc_id long, content binary, media_type string",
    )
    with pytest.raises(Exception) as exc_info:
        MM.decode_av_metadata(media, real=True).collect()
    assert "unrecognized audio container" in str(exc_info.value)


def test_stream_into_mirror_foreachbatch(spark, tmp_path):
    """foreachBatch mirror load: streaming the events file into a parquet
    mirror equals the batch table; a second (re)run converges — upsert
    idempotence through the streaming path."""
    from aci_export_spark.streaming.core import stream_into_mirror

    target = str(tmp_path / "mirror.parquet")
    events = ST.read_events_stream(spark, SF_SMOKE).select("event_id", "user_id", "value")
    stream_into_mirror(events, target, str(tmp_path / "ckpt1"), keys=["event_id"])
    batch = read_table(spark, SF_SMOKE, "events")
    assert spark.read.parquet(target).count() == batch.count()

    # re-run from a fresh checkpoint: same data upserts over itself
    events2 = ST.read_events_stream(spark, SF_SMOKE).select("event_id", "user_id", "value")
    stream_into_mirror(events2, target, str(tmp_path / "ckpt2"), keys=["event_id"])
    assert spark.read.parquet(target).count() == batch.count()


def test_phash_blocked_pairs_match_bruteforce(spark):
    """Pigeonhole-blocked Hamming pairs over the dHash table equal the
    all-pairs join, and identical payloads land at hamming 0."""
    from pyspark.sql import functions as F

    from aci_export_spark import multimodal as MM
    from tests.conftest import SF_SMOKE
    from aci_export_spark.sources import read_table

    docs = read_table(spark, SF_SMOKE, "documents")
    media = MM.attach_media(docs)
    got = sorted(
        (r.id_a, r.id_b, r.hamming)
        for r in MM.phash_pairs(media, max_hamming=6).collect()
    )
    ph = MM.phash_table(media)
    a = ph.select(F.col("doc_id").alias("id_a"), F.col("phash").alias("ha"))
    b = ph.select(F.col("doc_id").alias("id_b"), F.col("phash").alias("hb"))
    brute = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("int"))
        .filter(F.col("hamming") <= 6)
    )
    want = sorted((r.id_a, r.id_b, r.hamming) for r in brute.collect())
    assert got == want and len(got) > 0
    # exact-duplicate payloads must collapse to hamming 0
    dup_texts = (
        docs.groupBy("text").agg(F.collect_list("doc_id").alias("ids"))
        .filter(F.size("ids") >= 2)
        .limit(1)
        .collect()
    )
    if dup_texts:
        ids = sorted(dup_texts[0].ids)[:2]
        assert (ids[0], ids[1], 0) in got


def test_phash_real_mode_gated(spark):
    import pytest as _pytest

    from aci_export_spark import multimodal as MM
    from tests.conftest import SF_SMOKE
    from aci_export_spark.sources import read_table

    media = MM.attach_media(read_table(spark, SF_SMOKE, "documents"))
    # text payloads aren't an image container at all; PNG/GIF/baseline-JPEG
    # payloads now decode for real, so the remaining failure modes are
    # malformed containers and the arithmetic-coding gate
    with _pytest.raises(Exception, match="unrecognized image container"):
        MM.phash_table(media, real=True).collect()
    jpeg_hdr = spark.createDataFrame(
        [(1, bytearray(b"\xff\xd8\xff\xc0\x00\x11\x08\x00\x10\x00\x20" + b"\x00" * 8 + b"\xff\xd9"), "image")],
        "doc_id long, content binary, media_type string",
    )
    # an SOF with no scan is malformed, not gated
    with _pytest.raises(Exception, match="missing SOF or SOS"):
        MM.phash_table(jpeg_hdr, real=True).collect()
    arith_hdr = spark.createDataFrame(
        [(1, bytearray(b"\xff\xd8\xff\xc9\x00\x11\x08\x00\x10\x00\x20" + b"\x00" * 8 + b"\xff\xd9"), "image")],
        "doc_id long, content binary, media_type string",
    )
    with _pytest.raises(Exception, match="SOF9"):
        MM.phash_table(arith_hdr, real=True).collect()


def test_streaming_funnel_equals_batch(spark):
    from aci_export_spark.harness_llm import events_funnel_steps
    from aci_export_spark.harness_streaming import streaming_funnel

    got = streaming_funnel(spark, SF_SMOKE)
    want = events_funnel_steps(spark, SF_SMOKE)
    cols = ["user_id", "t_signup", "t_view", "t_click", "t_purchase", "stage_reached"]
    assert _rows(got, cols) == _rows(want, cols)


def test_streaming_funnel_multi_batch_snapshots(spark, tmp_path):
    """Split the feed into multiple files and force one-file micro-batches:
    write-once slots must survive arbitrary batching and reconcile to the
    single-batch result."""
    import glob

    from aci_export_spark.streaming.core import (
        funnel_stream, reconcile_funnel_snapshots, run_stream_to_table,
    )

    ev = read_table(spark, SF_SMOKE, "events").orderBy("ts", "event_id")
    src = str(tmp_path / "feed")
    # 4 sequential chunks — events stay time-ordered across files, matching
    # the watermark-ordered per-user contract
    ev.coalesce(1).write.parquet(src)
    single = {
        tuple(r)
        for r in run_stream_to_table(
            funnel_stream(
                spark.readStream.schema(ev.schema).parquet(src)
            ),
            spark,
            output_mode="update",
        ).groupBy().count().collect()
    }
    assert single  # stream produced snapshots
    # chunked replay
    chunked_dir = str(tmp_path / "chunks")
    n = ev.count()
    import math
    per = math.ceil(n / 4)
    pdf = ev.toPandas()
    import os
    os.makedirs(chunked_dir)
    for i in range(4):
        part = pdf.iloc[i * per : (i + 1) * per]
        if len(part):
            spark.createDataFrame(part, schema=ev.schema).coalesce(1).write.parquet(
                f"{chunked_dir}/c{i}", mode="overwrite"
            )
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{chunked_dir}/c*")
    )
    landed = run_stream_to_table(funnel_stream(stream), spark, output_mode="update")
    final = reconcile_funnel_snapshots(landed)
    from aci_export_spark.harness_llm import events_funnel_steps

    want = events_funnel_steps(spark, SF_SMOKE)
    cols = ["user_id", "t_signup", "t_view", "t_click", "t_purchase", "stage_reached"]
    assert _rows(final, cols) == _rows(want, cols)


def test_read_events_stream_directory_layout(spark, tmp_path):
    """events.parquet as a DIRECTORY of part files (any df.write.parquet
    output) must stream real rows: the old pathGlobFilter-on-parent read
    matched zero leaf files on this layout and the stream ran 'green' over
    an empty feed (caught by the 10× stress as impossible 0.1× growth)."""
    from aci_export_spark.streaming.core import read_events_stream, run_stream_to_table

    ev = read_table(spark, SF_SMOKE, "events")
    sf_dir = str(tmp_path)
    ev.repartition(3).write.parquet(f"{sf_dir}/events.parquet")
    stream = read_events_stream(spark, sf_dir)
    landed = run_stream_to_table(
        stream.select("event_id"), spark, output_mode="append"
    )
    assert landed.count() == ev.count()


def test_funnel_foreach_batch_equals_batch(spark):
    from aci_export_spark.harness_llm import events_funnel_steps
    from aci_export_spark.harness_streaming import streaming_funnel_native

    got = streaming_funnel_native(spark, SF_SMOKE)
    want = events_funnel_steps(spark, SF_SMOKE)
    cols = ["user_id", "t_signup", "t_view", "t_click", "t_purchase", "stage_reached"]
    assert _rows(got, cols) == _rows(want, cols)


def test_funnel_foreach_batch_multi_batch_merge(spark, tmp_path):
    """One-file micro-batches over a time-ordered chunked feed: the
    synthetic-event state merge must reproduce the single-batch (= batch
    funnel) result across arbitrary batching."""
    import math
    import os

    from pyspark.sql import functions as F

    from aci_export_spark.harness_llm import events_funnel_steps
    from aci_export_spark.streaming.core import FUNNEL_STEPS, funnel_foreach_batch

    ev = read_table(spark, SF_SMOKE, "events").orderBy("ts", "event_id")
    chunked_dir = str(tmp_path / "chunks")
    os.makedirs(chunked_dir)
    n = ev.count()
    per = math.ceil(n / 4)
    pdf = ev.toPandas()
    for i in range(4):
        part = pdf.iloc[i * per : (i + 1) * per]
        if len(part):
            spark.createDataFrame(part, schema=ev.schema).coalesce(1).write.parquet(
                f"{chunked_dir}/c{i}", mode="overwrite"
            )
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{chunked_dir}/c*")
    )
    final = funnel_foreach_batch(stream, spark).select(
        "user_id",
        *[
            F.date_format(f"t_{s}", "yyyy-MM-dd HH:mm:ss").alias(f"t_{s}")
            for s in FUNNEL_STEPS
        ],
        "stage_reached",
    )
    want = events_funnel_steps(spark, SF_SMOKE)
    cols = ["user_id", "t_signup", "t_view", "t_click", "t_purchase", "stage_reached"]
    assert _rows(final, cols) == _rows(want, cols)


def test_funnel_foreach_batch_leaves_only_its_result_checkpointed(spark, tmp_path):
    """Each micro-batch checkpoints its merge inputs and state; the funnel
    releases every one it superseded, so after a multi-batch run only the
    returned chain stays. Left to the garbage collector, they were freed
    minutes later, in the middle of unrelated work."""
    from aci_export_spark.streaming.core import funnel_foreach_batch

    ev = read_table(spark, SF_SMOKE, "events")
    ids = [r[0] for r in ev.select("event_id").orderBy("event_id").collect()]
    per = math.ceil(len(ids) / 3)
    for i in range(3):
        part = ev.filter(F.col("event_id").isin(ids[i * per:(i + 1) * per]))
        part.coalesce(1).write.parquet(str(tmp_path / f"c{i}"))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "c*"))
    )
    held = spark.sparkContext._jsc.getPersistentRDDs
    before = held().size()
    final = funnel_foreach_batch(stream, spark)
    assert held().size() <= before + 1
    assert final.count() > 0


def test_stream_into_mirror_resumes_from_checkpoint(spark, tmp_path):
    """The exactly-once contract the foreachBatch mirror actually relies
    on: resuming with the SAME checkpoint after new files land processes
    ONLY the new files (no reprocessing, no loss), and the mirror ends
    equal to the batch upsert of both chunks; an immediate re-run with
    nothing new is a no-op."""
    from pyspark.sql import functions as F

    from aci_export_spark.operators.mirror import upsert
    from aci_export_spark.streaming.core import stream_into_mirror

    landing = tmp_path / "landing"
    landing.mkdir()
    target = str(tmp_path / "mirror.parquet")
    ckpt = str(tmp_path / "ckpt")

    chunk1 = spark.createDataFrame(
        [(1, 10, 1.0), (2, 20, 2.0), (3, 30, 3.0)],
        "event_id long, user_id long, value double",
    )
    chunk1.coalesce(1).write.mode("overwrite").parquet(str(landing / "c1"))

    def stream():
        return (
            spark.readStream.schema(chunk1.schema)
            .option("pathGlobFilter", "*.parquet")
            .option("recursiveFileLookup", "true")
            .parquet(str(landing))
        )

    stream_into_mirror(stream(), target, ckpt, keys=["event_id"])
    got1 = {r["event_id"]: r["value"] for r in spark.read.parquet(target).collect()}
    assert got1 == {1: 1.0, 2: 2.0, 3: 3.0}

    # new chunk lands: one overlapping key (2 -> 2.5, source wins) and one new
    chunk2 = spark.createDataFrame(
        [(2, 20, 2.5), (4, 40, 4.0)],
        "event_id long, user_id long, value double",
    )
    chunk2.coalesce(1).write.mode("overwrite").parquet(str(landing / "c2"))
    stream_into_mirror(stream(), target, ckpt, keys=["event_id"])
    got2 = {r["event_id"]: r["value"] for r in spark.read.parquet(target).collect()}
    expect = {
        r["event_id"]: r["value"]
        for r in upsert(chunk1, chunk2, ["event_id"]).collect()
    }
    assert got2 == expect == {1: 1.0, 2: 2.5, 3: 3.0, 4: 4.0}

    # nothing new: resume is a no-op, mirror unchanged
    stream_into_mirror(stream(), target, ckpt, keys=["event_id"])
    got3 = {r["event_id"]: r["value"] for r in spark.read.parquet(target).collect()}
    assert got3 == got2


# ---------------------------------------------------------------------------
# real PNG pixel decode (round 7: zlib inflate + numpy unfilter, no codec)
# ---------------------------------------------------------------------------


def _png_encode(px, color_type, filters):
    """Minimal PNG writer for tests: 8-bit, chosen color type, one filter
    byte per scanline (0-4, ENCODED per spec so decoding must invert it)."""
    import struct
    import zlib

    import numpy as np

    h, w = px.shape[:2]
    ch = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
    flat = px.reshape(h, w * ch).astype(np.int32)
    bpp = ch
    raw = bytearray()
    prev = np.zeros(w * ch, dtype=np.int32)
    for y in range(h):
        f = filters[y % len(filters)]
        row = flat[y]
        enc = np.zeros(w * ch, dtype=np.int32)
        for x in range(w * ch):
            a = int(row[x - bpp]) if x >= bpp else 0
            b = int(prev[x])
            c = int(prev[x - bpp]) if x >= bpp else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            enc[x] = (int(row[x]) - pred) & 0xFF
        raw.append(f)
        raw.extend(enc.astype(np.uint8).tobytes())
        prev = row

    def chunk(ctype, payload):
        return (
            struct.pack(">I", len(payload))
            + ctype
            + payload
            + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def _expected_luma(px, color_type):
    import numpy as np

    if color_type in (0, 4):
        return px if px.ndim == 2 else px[:, :, 0]
    r = px[:, :, 0].astype(np.uint32)
    g = px[:, :, 1].astype(np.uint32)
    b = px[:, :, 2].astype(np.uint32)
    return ((77 * r + 150 * g + 29 * b) >> 8).astype(np.uint8)


def test_png_decode_round_trip_all_filters_and_color_types():
    import numpy as np

    from aci_export_spark.multimodal import decode_png_luma

    rng = np.random.RandomState(42)
    for color_type, ch in [(0, 1), (2, 3), (4, 2), (6, 4)]:
        for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
            h, w = int(rng.randint(1, 12)), int(rng.randint(1, 12))
            px = rng.randint(0, 256, size=(h, w, ch), dtype=np.uint8)
            if ch == 1:
                data = _png_encode(px[:, :, 0], color_type, filters)
                want = _expected_luma(px[:, :, 0], color_type)
            else:
                data = _png_encode(px, color_type, filters)
                want = _expected_luma(px, color_type)
            got = decode_png_luma(data)
            assert got.shape == (h, w), (color_type, filters)
            assert (got == want).all(), (color_type, filters)


def test_png_decode_gates():
    import numpy as np
    import pytest

    from aci_export_spark.multimodal import decode_png_luma

    px = np.zeros((4, 4), dtype=np.uint8)
    good = _png_encode(px, 0, [0])
    # corrupt the IDAT payload bytes (zlib stream) -> ValueError, not garbage
    bad = bytearray(good)
    idat_at = good.index(b"IDAT")
    bad[idat_at + 6] ^= 0xFF
    with pytest.raises(ValueError):
        decode_png_luma(bytes(bad))
    # truncated file
    with pytest.raises(ValueError):
        decode_png_luma(good[: len(good) // 2])
    # not a PNG at all
    with pytest.raises(ValueError):
        decode_png_luma(b"plain text payload")
    # 16-bit/palette/interlace now DECODE (r8, test_png_extended.py); an
    # IHDR rewritten to claim them over an 8-bit payload is malformed and
    # must fail loudly, not silently mis-decode
    import struct

    def rewrite_ihdr(depth=8, ctype=0, interlace=0):
        ihdr = struct.pack(">IIBBBBB", 4, 4, depth, ctype, 0, 0, interlace)
        out = bytearray(good)
        at = good.index(b"IHDR") + 4
        out[at : at + 13] = ihdr
        return bytes(out)

    with pytest.raises(ValueError, match="short|expected"):
        decode_png_luma(rewrite_ihdr(depth=16))  # payload half the claim
    with pytest.raises(ValueError, match="missing PLTE"):
        decode_png_luma(rewrite_ihdr(ctype=3))
    with pytest.raises(ValueError, match="expected|short"):
        decode_png_luma(rewrite_ihdr(interlace=1))  # pass sizes disagree
    with pytest.raises(ValueError, match="illegal PNG bit depth"):
        decode_png_luma(rewrite_ihdr(depth=4, ctype=2))  # 4-bit RGB illegal


def test_downscale_luma_box_mean_and_nearest():
    import numpy as np

    from aci_export_spark.multimodal import downscale_luma

    # 4x4 -> 2x2 exact box means
    src = np.arange(16, dtype=np.uint8).reshape(4, 4)
    got = downscale_luma(src, 2, 2)
    want = np.array(
        [[(0 + 1 + 4 + 5) // 4, (2 + 3 + 6 + 7) // 4],
         [(8 + 9 + 12 + 13) // 4, (10 + 11 + 14 + 15) // 4]],
        dtype=np.uint8,
    )
    assert (got == want).all()
    # upscale path: nearest-neighbor, deterministic
    tiny = np.array([[10, 200]], dtype=np.uint8)
    up = downscale_luma(tiny, 2, 4)
    assert up.shape == (2, 4)
    assert set(np.unique(up)) <= {10, 200}


def test_phash_real_png_through_spark(spark):
    """mm pHash with real=True over synthetic PNGs: gradient bits computed
    from genuine decoded luma, verified against a direct numpy replica;
    near-identical images land within small Hamming distance."""
    import numpy as np

    from aci_export_spark.multimodal import (
        PHASH_COLS,
        PHASH_ROWS,
        decode_png_luma,
        downscale_luma,
        phash_table,
    )

    rng = np.random.RandomState(7)
    base = rng.randint(0, 256, size=(32, 40, 3), dtype=np.uint8)
    near = base.copy()
    near[0, 0] = [0, 0, 0]  # one-pixel change
    far = rng.randint(0, 256, size=(32, 40, 3), dtype=np.uint8)
    rows = [
        (1, bytearray(_png_encode(base, 2, [0, 1, 2, 3, 4])), "image"),
        (2, bytearray(_png_encode(near, 2, [4, 3, 2, 1, 0])), "image"),
        (3, bytearray(_png_encode(far, 2, [2])), "image"),
    ]
    media = spark.createDataFrame(
        rows, "doc_id long, content binary, media_type string"
    )
    got = {r["doc_id"]: r["phash"] for r in phash_table(media, real=True).collect()}

    def expect(px):
        grid = downscale_luma(
            decode_png_luma(_png_encode(px, 2, [0])), PHASH_ROWS, PHASH_COLS + 1
        )
        h = 0
        for r in range(PHASH_ROWS):
            for c in range(PHASH_COLS):
                if int(grid[r, c]) < int(grid[r, c + 1]):
                    h |= 1 << (r * PHASH_COLS + c)
        return h

    assert got[1] == expect(base)
    assert got[2] == expect(near)
    assert got[3] == expect(far)
    # dHash locality: 1-pixel edit flips at most a couple gradient bits
    assert bin(got[1] ^ got[2]).count("1") <= 4
    # filters don't matter: same pixels -> same hash regardless of encoding
    refilter = spark.createDataFrame(
        [(9, bytearray(_png_encode(base, 2, [3])), "image")],
        "doc_id long, content binary, media_type string",
    )
    assert phash_table(refilter, real=True).collect()[0]["phash"] == got[1]


def test_resize_plan_real_png_through_spark(spark):
    import numpy as np
    import pytest

    from aci_export_spark.multimodal import resize_plan

    rng = np.random.RandomState(3)
    big = rng.randint(0, 256, size=(64, 256), dtype=np.uint8)  # 256x64 image
    small = rng.randint(0, 256, size=(8, 10), dtype=np.uint8)
    media = spark.createDataFrame(
        [
            (1, bytearray(_png_encode(big, 0, [0, 2])), "image"),
            (2, bytearray(_png_encode(small, 0, [1])), "image"),
        ],
        "doc_id long, content binary, media_type string",
    )
    rows = {r["doc_id"]: r for r in resize_plan(media, max_dim=128, real=True).collect()}
    assert (rows[1]["width"], rows[1]["height"]) == (256, 64)
    assert (rows[1]["new_width"], rows[1]["new_height"]) == (128, 32)
    assert rows[1]["new_byte_len"] == 128 * 32
    assert (rows[2]["new_width"], rows[2]["new_height"]) == (10, 8)  # under cap
    # non-PNG payload under real=True raises through the gate
    gif = spark.createDataFrame(
        [(3, bytearray(b"GIF89a" + b"\x05\x00\x04\x00" + b"\x00" * 20), "image")],
        "doc_id long, content binary, media_type string",
    )
    with pytest.raises(Exception):
        resize_plan(gif, real=True).collect()
