"""Multimodal plumbing + Structured Streaming contracts."""

from __future__ import annotations

import hashlib

import pandas as pd
import pytest
from pyspark.sql import functions as F


def _media_df(spark, n=20):
    """Binary column with real magic numbers (no codec needed)."""
    payloads = []
    for i in range(n):
        body = f"payload-{i}".encode() * (i + 1)
        magic = [b"\x89PNG\r\n\x1a\n", b"\xff\xd8\xff\xe0", b"GIF89a", b"\x00\x00\x00\x18ftypmp42"][
            i % 4
        ]
        payloads.append((i, magic + body))
    return spark.createDataFrame(payloads, "id long, blob binary")


def test_media_metadata_jvm_side(spark):
    from pydala2_spark.operators.multimodal import with_media_metadata

    df = with_media_metadata(_media_df(spark), "blob")
    rows = {r["id"]: r["media_meta"] for r in df.collect()}
    assert rows[0]["format"] == "png"
    assert rows[1]["format"] == "jpeg"
    assert rows[2]["format"] == "gif"
    assert rows[3]["format"] == "mp4"
    assert all(m["size_bytes"] > 0 and len(m["content_md5"]) == 32 for m in rows.values())
    # metadata must be pure built-ins: no BatchEvalPython / ArrowEval in plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan


def test_decode_images_deterministic(spark):
    """Decode follows the documented ladder: real header parse first
    (the GIF rows here carry a real magic, so their body bytes ARE the
    header-parsed dimensions — garbage in, faithfully decoded out),
    null dimensions plus ``decode_error`` for everything unparseable
    (the PNG rows fail IHDR validation, the JPEG rows fail the segment
    walk, the MP4 rows are not images)."""
    from pydala2_spark.operators.multimodal import decode_images, parse_image_header

    src = _media_df(spark, n=10)
    out = decode_images(src, "blob", passthrough=["id"]).collect()
    assert len(out) == 10
    raw = {r["id"]: bytes(r["blob"]) for r in src.collect()}
    for r in out:
        dims = parse_image_header(raw[r["id"]])
        if dims is None:
            assert (r["width"], r["height"], r["channels"]) == (None, None, None)
            assert r["decode_error"] == "unrecognized image container"
        else:
            assert (r["width"], r["height"], r["channels"]) == dims
            assert r["decode_error"] is None
    # the fake-magic PNG/JPEG payloads fail validation -> null + error
    assert parse_image_header(raw[0]) is None and parse_image_header(raw[1]) is None
    assert parse_image_header(raw[2]) is not None  # GIF screen descriptor
    # deterministic across runs
    again = decode_images(src, "blob", passthrough=["id"]).collect()
    assert sorted(map(str, out)) == sorted(map(str, again))


def _png_bytes(w, h, color_type=6):
    import struct
    import zlib

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    chunk = struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr
    chunk += struct.pack(">I", zlib.crc32(b"IHDR" + ihdr))
    return b"\x89PNG\r\n\x1a\n" + chunk


def _gif_bytes(w, h):
    import struct

    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00" * 6


def _jpeg_bytes(w, h, channels=3):
    import struct

    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof0 = b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * channels, 8, h, w, channels)
    return b"\xff\xd8" + app0 + sof0 + b"\x00" * 8


def _wav_bytes(rate, ch, n_samples, bits=16):
    import struct

    data_len = n_samples * ch * bits // 8
    fmt = struct.pack("<HHIIHH", 1, ch, rate, rate * ch * bits // 8, ch * bits // 8, bits)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", data_len) + b"\x00" * data_len
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_decode_images_real_headers(spark):
    """Recognized containers get REAL header-derived dimensions (no
    codec lib needed); unrecognized payloads get null dimensions and
    a ``decode_error`` — the ladder the decode stage documents."""
    from pydala2_spark.operators.multimodal import (
        decode_images,
        parse_image_header,
        sniff_format,
    )

    blobs = [
        (1, _png_bytes(640, 480)),  # RGBA -> 4 channels
        (2, _gif_bytes(320, 200)),
        (3, _jpeg_bytes(1920, 1080, 3)),
        (4, _png_bytes(12, 7, color_type=2)),  # RGB -> 3
        (5, b"not an image at all"),
    ]
    df = spark.createDataFrame(blobs, "id long, blob binary")
    got = {
        r["id"]: (r["width"], r["height"], r["channels"], r["decode_error"])
        for r in decode_images(df, "blob", passthrough=["id"]).collect()
    }
    assert got[1] == (640, 480, 4, None)
    assert got[2] == (320, 200, 3, None)
    assert got[3] == (1920, 1080, 3, None)
    assert got[4] == (12, 7, 3, None)
    assert got[5] == (None, None, None, "unrecognized image container")
    assert parse_image_header(b"not an image at all") is None
    # the JVM-side magic sniffer agrees on the container formats
    fmts = {
        r["id"]: r["f"]
        for r in df.select("id", sniff_format("blob").alias("f")).collect()
    }
    assert fmts[1] == "png" and fmts[2] == "gif" and fmts[3] == "jpeg"


def _mp4_bytes(duration_ms):
    """Minimal ISO-BMFF file: ``ftyp`` then ``moov/mvhd`` (version 0,
    timescale 1000)."""

    def box(typ, body):
        return (8 + len(body)).to_bytes(4, "big") + typ + body

    mvhd = box(b"mvhd", bytes(12) + (1000).to_bytes(4, "big") + duration_ms.to_bytes(4, "big"))
    return box(b"ftyp", b"isom" + bytes(4) + b"isomiso2") + box(b"moov", mvhd)


# stage -> (keyword args, payload kind, fields the ladder derives)
_LADDER_STAGES = {
    "decode_images": ({}, "image", ["width", "height", "channels"]),
    "extract_features": ({"dim": 4}, "image", ["features"]),
    "image_pixel_stats": (
        {},
        "image",
        ["width", "height", "channels", "n_pixels", "px_sum", "px_min", "px_max", "px_topleft"],
    ),
    "audio_pcm_stats": (
        {},
        "audio",
        ["sample_rate", "n_channels", "n_samples", "abs_sum", "s_min", "s_max", "zero_crossings"],
    ),
    "extract_audio_features": (
        {},
        "audio",
        ["sample_rate", "duration_ms", "n_channels", "mfcc"],
    ),
    "resize_images": (
        {"max_side": 4},
        "image",
        ["width", "height", "resized_width", "resized_height"],
    ),
    "resize_images[emit_payload]": (
        {"max_side": 4, "emit_payload": True},
        "image",
        ["width", "height", "resized_width", "resized_height", "resized_payload"],
    ),
    "sample_frames": ({"n_frames": 3}, "video", ["ts_ms"]),
}


@pytest.mark.parametrize("stage", list(_LADDER_STAGES))
def test_decode_stage_ladder_real_row_and_not_media(spark, stage):
    """Every decode stage ends its ladder in null fields plus a
    ``decode_error``: a real payload decodes with a null error, and
    ``b"not media"`` gets null derived fields and a named reason —
    never a value invented from the bytes."""
    import numpy as np

    from pydala2_spark.operators import multimodal as mm

    kwargs, kind, derived = _LADDER_STAGES[stage]
    real = {
        "image": _gradient_bmp(6, 5, seed=4)[0],
        "audio": mm.encode_wav_pcm16(np.array([100, -50, 25, -25], np.int16), 8000),
        "video": _mp4_bytes(3000),
    }[kind]
    df = spark.createDataFrame([(0, real), (1, b"not media")], "id long, blob binary")
    rows = getattr(mm, stage.split("[")[0])(df, "blob", ["id"], **kwargs).collect()
    assert {r["id"] for r in rows} == {0, 1}
    for r in rows:
        if r["id"] == 0:
            assert r["decode_error"] is None, r
            assert all(r[c] is not None for c in derived), r
        else:
            assert r["decode_error"] == f"unrecognized {kind} container", r
            assert all(r[c] is None for c in derived), r


def test_header_values_stay_when_only_pixels_or_samples_fail(spark):
    """A container the header parser recognizes but the pure kernels
    cannot decode (lossy VP8 WebP, FLAC) keeps its real header fields;
    only the pixel / sample fields are null, and ``decode_error``
    names the failed rung."""
    from pydala2_spark.operators.multimodal import (
        extract_audio_features,
        extract_features,
        image_pixel_stats,
        resize_images,
    )

    vp8 = (
        b"RIFF" + (30).to_bytes(4, "little") + b"WEBP" + b"VP8 "
        + (24).to_bytes(4, "little") + bytes(3) + b"\x9d\x01\x2a"
        + (320).to_bytes(2, "little") + (240).to_bytes(2, "little") + bytes(10)
    )
    img = spark.createDataFrame([(0, vp8)], "id long, blob binary")
    r = image_pixel_stats(img, "blob", ["id"]).collect()[0]
    assert (r["width"], r["height"], r["channels"]) == (320, 240, 3)
    assert r["px_sum"] is None and r["decode_error"] == "undecodable image pixels"
    r = resize_images(img, "blob", ["id"], max_side=32, emit_payload=True).collect()[0]
    assert (r["resized_width"], r["resized_height"]) == (32, 24)
    assert r["resized_payload"] is None and r["decode_error"] == "undecodable image pixels"
    r = extract_features(img, "blob", ["id"], dim=4).collect()[0]
    assert r["features"] is None and r["decode_error"] == "undecodable image pixels"

    # FLAC STREAMINFO: 16 kHz, 2 channels, 32000 samples -> 2000 ms
    packed = (16000 << 44) | (1 << 41) | (15 << 36) | 32000
    flac = b"fLaC" + bytes([0]) + (34).to_bytes(3, "big") + bytes(10)
    flac += packed.to_bytes(8, "big") + bytes(16)
    aud = spark.createDataFrame([(0, flac)], "id long, blob binary")
    r = extract_audio_features(aud, "blob", ["id"]).collect()[0]
    assert (r["sample_rate"], r["n_channels"], r["duration_ms"]) == (16000, 2, 2000)
    assert r["mfcc"] is None and r["decode_error"] == "undecodable audio samples"


def test_media_header_parsers_hostile_inputs():
    """Corrupt/hostile containers must fall back (None), never crash
    or fabricate: int32-overflowing WAV rates, truncated data chunks,
    JPEG fill bytes before markers."""
    import struct

    from pydala2_spark.operators.multimodal import (
        parse_image_header,
        parse_wav_header,
    )

    # WAV with a rate that would overflow the int32 output column
    bad = bytearray(_wav_bytes(44100, 2, 100))
    bad[24:28] = b"\xff\xff\xff\xff"  # fmt rate field
    assert parse_wav_header(bytes(bad)) is None
    # truncated data chunk: declared 4 GB, payload holds 100 samples —
    # duration must come from the REAL bytes, not the declared length
    t = bytearray(_wav_bytes(1000, 1, 100, bits=16))  # 100 samples @ 1 kHz
    data_pos = bytes(t).find(b"data")
    t[data_pos + 4 : data_pos + 8] = struct.pack("<I", 0xFFFFFF00)
    rate, ch, dur = parse_wav_header(bytes(t))
    assert (rate, ch) == (1000, 1) and dur == 100  # 100 real samples = 100 ms
    # JPEG fill bytes (any number of 0xFF before a marker) must not
    # desync the segment walk
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof0 = b"\xff\xff\xff\xc0" + struct.pack(">HBHHB", 17, 8, 77, 66, 3)
    assert parse_image_header(b"\xff\xd8" + app0 + sof0 + b"\x00" * 8) == (66, 77, 3)
    # zero-channel WAV rejected (division guard + sanity gate)
    z = bytearray(_wav_bytes(8000, 1, 10))
    z[22:24] = b"\x00\x00"  # fmt channels field
    assert parse_wav_header(bytes(z)) is None
    # SOS before any SOF: entropy-coded data follows, and its stuffed
    # bytes must NOT be misread as segments — a 0xFF 0xC0 pair inside
    # the scan stream previously yielded garbage dimensions. The walk
    # must stop at SOS (and at EOI) and reject the payload.
    sos = b"\xff\xda" + struct.pack(">H", 8) + b"\x01\x01\x00\x00\x3f\x00"
    fake_sof_in_scan = b"\x12\xff\xc0" + struct.pack(">HBHHB", 17, 8, 9, 9, 3)
    assert parse_image_header(b"\xff\xd8" + app0 + sos + fake_sof_in_scan) is None
    eoi_first = b"\xff\xd8" + app0 + b"\xff\xd9" + sof0
    assert parse_image_header(eoi_first) is None


def test_audio_features_real_wav_header(spark):
    from pydala2_spark.operators.multimodal import (
        extract_audio_features,
        parse_wav_header,
    )

    wav = _wav_bytes(44100, 2, 44100 * 3)  # 3 s stereo
    assert parse_wav_header(wav) == (44100, 2, 3000)
    df = spark.createDataFrame(
        [(1, wav), (2, b"compressed-or-unknown payload")], "id long, blob binary"
    )
    got = {
        r["id"]: r for r in extract_audio_features(df, "blob", passthrough=["id"]).collect()
    }
    r = got[1]
    assert (r["sample_rate"], r["n_channels"], r["duration_ms"], len(r["mfcc"])) == (
        44100,
        2,
        3000,
        13,
    )
    assert r["decode_error"] is None
    # unrecognized payload: every field null, the reason named
    r = got[2]
    assert (r["sample_rate"], r["n_channels"], r["duration_ms"], r["mfcc"]) == (
        None,
        None,
        None,
        None,
    )
    assert r["decode_error"] == "unrecognized audio container"


def test_extract_features_shape(spark):
    from pydala2_spark.operators.multimodal import extract_features

    imgs = [(100 + i, _gradient_bmp(5 + i, 4, seed=i)[0]) for i in range(3)]
    src = _media_df(spark, n=6).union(spark.createDataFrame(imgs, "id long, blob binary"))
    out = extract_features(src, "blob", passthrough=["id"], dim=32)
    assert dict(out.dtypes)["features"] == "array<float>"
    rows = out.collect()
    real = [r for r in rows if r["id"] >= 100]
    assert len(real) == 3 and all(r["decode_error"] is None for r in real)
    assert all(len(r["features"]) == 32 for r in real)
    assert all(all(-1.0 <= v <= 1.0 for v in r["features"]) for r in real)
    # magic-only payloads decode to nothing: null features, reason named
    for r in rows:
        if r["id"] < 100:
            assert r["features"] is None and r["decode_error"] is not None
    # deterministic across runs
    again = extract_features(src, "blob", passthrough=["id"], dim=32).collect()
    assert sorted(map(str, rows)) == sorted(map(str, again))


def test_resize_and_frame_sample(spark):
    from pydala2_spark.operators.multimodal import resize_images, sample_frames

    resized = resize_images(_media_df(spark, n=8), "blob", passthrough=["id"], max_side=64).collect()
    for r in resized:
        if r["width"] is None:  # no parseable header: nothing to scale
            assert r["resized_width"] is None and r["resized_height"] is None
            assert r["decode_error"] == "unrecognized image container"
            continue
        assert max(r["resized_width"], r["resized_height"]) <= 64
        assert r["resized_width"] <= r["width"] and r["resized_height"] <= r["height"]
    assert any(r["width"] is not None for r in resized)  # the GIF rows

    frames = sample_frames(_media_df(spark, n=5), "blob", passthrough=["id"], n_frames=3)
    rows = frames.collect()
    assert len(rows) == 15  # 5 videos x 3 frames
    by_id = {}
    for r in rows:
        by_id.setdefault(r["id"], []).append(r)
    for vid_frames in by_id.values():
        assert sorted(f["frame_index"] for f in vid_frames) == [0, 1, 2]
        # magic-only payloads carry no moov/mvhd: timestamps unknown
        assert all(f["ts_ms"] is None for f in vid_frames)
        assert all(f["decode_error"] == "unrecognized video container" for f in vid_frames)
        assert len({f["frame_md5"] for f in vid_frames}) == 3


# -- streaming -----------------------------------------------------------


@pytest.fixture()
def landing_dir(sf_dir, tmp_path):
    """The streaming file source wants a directory; stage the single
    events.parquet file into one (a real landing zone is a dir of drops)."""
    import shutil

    d = tmp_path / "events_landing"
    d.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", d / "part-0.parquet")
    return str(d)


def test_streaming_hourly_rollup_matches_batch(spark, sf_dir, landing_dir, tmp_path):
    from pydala2_spark.streaming.pipeline import (
        hourly_rollup_stream,
        read_event_stream,
        run_to_memory,
    )

    events = read_event_stream(spark, landing_dir)
    assert events.isStreaming
    result = run_to_memory(
        hourly_rollup_stream(events), "t_rollup", str(tmp_path / "ckpt")
    )
    got = {
        (r["hour"], r["event_type"]): (r["n_events"], r["total_value"]) for r in result.collect()
    }

    from pydala2_spark.sources.testdata import read_table

    batch = (
        read_table(spark, sf_dir, "events")  # normalizes either ts encoding
        .groupBy(F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00").alias("hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("v"))
    )
    want = {(r["hour"], r["event_type"]): (r["n"], r["v"]) for r in batch.collect()}
    assert got == want


def test_streaming_sessionization_matches_batch(spark, sf_dir, landing_dir, tmp_path):
    from pydala2_spark.queries import queries
    from pydala2_spark.streaming.pipeline import (
        read_event_stream,
        run_to_memory,
        sessionize_stream,
    )

    events = read_event_stream(spark, landing_dir)
    result = run_to_memory(sessionize_stream(events), "t_sessions", str(tmp_path / "ckpt2"))
    got = {r["user_id"]: (r["n_sessions"], r["n_events"]) for r in result.collect()}

    batch = queries()["ev_sessionization"](spark, sf_dir)
    want = {r["user_id"]: (r["n_sessions"], r["n_events"]) for r in batch.collect()}
    assert got == want


def test_incremental_rollup_processes_new_files_only(spark, tmp_path):
    from pydala2_spark.streaming.pipeline import incremental_append_rollup

    src = str(tmp_path / "landing")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt3")

    def batch(n0, n, hours_offset=0):
        base = 1_700_000_000_000_000_000 + hours_offset * 3_600 * 10**9
        pdf = pd.DataFrame(
            {
                "event_id": range(n0, n0 + n),
                "user_id": [i % 3 for i in range(n)],
                "event_type": ["click"] * n,
                "ts": [base + i * 10**9 for i in range(n)],
                "value": [1.0] * n,
                "properties": ["{}"] * n,
            }
        )
        spark.createDataFrame(pdf).repartition(1).write.mode("append").parquet(src)

    def sink_total():
        try:
            return spark.read.parquet(sink).agg(F.sum("n_events")).first()[0] or 0
        except Exception:
            return 0

    # append mode emits a window only once the watermark passes it:
    # after the first batch nothing is final yet
    batch(0, 10)
    incremental_append_rollup(spark, src, sink, ckpt)
    assert sink_total() == 0

    # a batch 6 h later pushes the watermark (2 h delay) past hour 0 —
    # ONLY the new file is read (checkpoint), and the closed window
    # with the original 10 events lands in the sink exactly once
    batch(100, 5, hours_offset=6)
    incremental_append_rollup(spark, src, sink, ckpt)
    assert sink_total() == 10


def test_streaming_dedup_drops_repeats(spark, tmp_path):
    from pydala2_spark.streaming.pipeline import dedup_stream, read_event_stream, run_to_memory

    src = tmp_path / "dedup_landing"
    src.mkdir()
    pdf = pd.DataFrame(
        {
            "event_id": [1, 2, 2, 3, 1],  # event 1 and 2 delivered twice
            "user_id": [10, 11, 11, 12, 10],
            "event_type": ["click"] * 5,
            "ts": [1_700_000_000_000_000_000 + i * 10**9 for i in range(5)],
            "value": [1.0] * 5,
            "properties": ["{}"] * 5,
        }
    )
    import pyspark.sql

    spark.createDataFrame(pdf).repartition(1).write.parquet(str(src / "batch"))
    events = read_event_stream(spark, str(src / "batch"))
    out = run_to_memory(
        dedup_stream(events, keys=["event_id"]), "t_dedup", str(tmp_path / "ckpt_dd")
    )
    assert sorted(r["event_id"] for r in out.collect()) == [1, 2, 3]


def test_merge_stream_upserts_incrementally(spark, tmp_path):
    """foreachBatch streaming merge: drop 1 bootstraps the target,
    drop 2 (overlapping keys) updates matched rows and inserts new
    ones; the checkpoint makes re-runs exactly-once per file."""
    import datetime as dt

    from pydala2_spark.streaming.pipeline import merge_stream

    landing = tmp_path / "landing"
    landing.mkdir()
    target = str(tmp_path / "target_ds")
    ckpt = str(tmp_path / "ckpt_merge")

    def drop(name, rows):
        df = spark.createDataFrame(
            [
                (i, i % 3, "click", dt.datetime(2024, 1, 1, 0, i), v, "{}")
                for i, v in rows
            ],
            "event_id long, user_id long, event_type string, ts timestamp, value double, props string",
        )
        df.repartition(1).write.parquet(str(tmp_path / f"stage_{name}"))
        import glob as _g
        import shutil

        src = _g.glob(str(tmp_path / f"stage_{name}" / "part-*.parquet"))[0]
        shutil.copy(src, landing / f"{name}.parquet")

    drop("d1", [(i, 1.0) for i in range(1, 6)])
    merge_stream(spark, str(landing), target, ["event_id"], ckpt)
    assert spark.read.parquet(target).count() == 5

    drop("d2", [(i, 2.0) for i in range(4, 9)])
    merge_stream(spark, str(landing), target, ["event_id"], ckpt)
    out = {r["event_id"]: r["value"] for r in spark.read.parquet(target).collect()}
    assert len(out) == 8
    assert out[3] == 1.0 and out[4] == 2.0 and out[5] == 2.0 and out[8] == 2.0

    # idempotent: nothing new landed -> re-run is a no-op
    merge_stream(spark, str(landing), target, ["event_id"], ckpt)
    assert spark.read.parquet(target).count() == 8


def test_merge_stream_batch_marker_skips_replayed_batch(spark, tmp_path):
    """foreachBatch is at-least-once: a crash between the merge and the
    checkpoint commit replays the batch. The per-batch marker under
    <target>/_stream_batches must make the replay a no-op — a marked
    batch id is skipped even when the checkpoint forgot it."""
    import datetime as dt
    import hashlib
    import shutil

    from pydala2_spark.streaming.pipeline import merge_stream

    landing = tmp_path / "landing"
    landing.mkdir()
    target = str(tmp_path / "target_ds")
    ckpt = str(tmp_path / "ckpt_replay")

    df = spark.createDataFrame(
        [(1, 1, "click", dt.datetime(2024, 1, 1), 1.0, "{}")],
        "event_id long, user_id long, event_type string, ts timestamp, value double, props string",
    )
    df.repartition(1).write.parquet(str(tmp_path / "stage"))
    import glob as _g

    shutil.copy(
        _g.glob(str(tmp_path / "stage" / "part-*.parquet"))[0],
        landing / "d1.parquet",
    )

    # simulate the crash window: batch 0's marker exists (merge had
    # committed) but the checkpoint doesn't — the rerun replays batch 0
    cp_id = hashlib.md5(ckpt.encode()).hexdigest()[:12]
    marker_root = tmp_path / "target_ds" / "_stream_batches" / cp_id / "0"
    marker_root.mkdir(parents=True)
    merge_stream(spark, str(landing), target, ["event_id"], ckpt)
    import os

    # the replayed batch was skipped: no data files written to target
    assert not any(
        f.endswith(".parquet")
        for _, _, fs in os.walk(target)
        for f in fs
    ), "marked batch must not re-merge"

    # a fresh checkpoint (new cp scope, no marker) processes normally
    merge_stream(
        spark, str(landing), target, ["event_id"], str(tmp_path / "ckpt_fresh")
    )
    assert spark.read.parquet(target).count() == 1


def test_sniff_ts_type_all_encodings(spark, tmp_path):
    """TIMESTAMP(NANOS) must sniff to LongType (the nanosAsLong scan
    delivers int64), micros-ntz to TimestampNTZ, int64 to Long, and
    no-sample to the modern NTZ default."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from pydala2_spark.streaming.pipeline import _sniff_ts_type

    ns = str(tmp_path / "ns.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([1, 2], type=pa.timestamp("ns"))}), ns,
        use_deprecated_int96_timestamps=False, coerce_timestamps=None,
        store_schema=False,
    )
    us = str(tmp_path / "us.parquet")
    pq.write_table(pa.table({"ts": pa.array([1, 2], type=pa.timestamp("us"))}), us)
    i64 = str(tmp_path / "i64.parquet")
    pq.write_table(pa.table({"ts": pa.array([1, 2], type=pa.int64())}), i64)

    assert isinstance(_sniff_ts_type(ns), T.LongType)
    assert isinstance(_sniff_ts_type(us), T.TimestampNTZType)
    assert isinstance(_sniff_ts_type(i64), T.LongType)
    assert isinstance(_sniff_ts_type(None), T.TimestampNTZType)


def test_curate_stream_gates_and_replays(spark, tmp_path):
    """Streaming curation end to end: quality floor, batch-internal
    exact dedup, near-dup screen against the persisted index, index
    growth across batches, and exactly-once under checkpoint loss
    (idempotent by construction, not by marker ordering)."""
    import shutil

    from pydala2_spark.operators.dedup import build_minhash_index
    from pydala2_spark.streaming.pipeline import curate_stream

    land = str(tmp_path / "landing")
    target = str(tmp_path / "target")
    index = str(tmp_path / "mh_index")
    ck = str(tmp_path / "ck")

    base = "the quick brown fox jumps over the lazy dog again and again today"
    seed = spark.createDataFrame(
        [(1000, base + " in the seed corpus version")], "doc_id long, text string"
    )
    build_minhash_index(spark, seed, index, num_hashes=12, bands=6, k=2)

    batch1 = spark.createDataFrame(
        [
            (1, "a completely different document about distributed query engines and shuffles"),
            (2, "a completely different document about distributed query engines and shuffles"),  # exact dup of 1
            (3, base + " in the seed corpus edition"),  # near-dup of the seed doc
            (4, "the the the the the the"),  # stopword stuffing fails the floor
            (5, "another unique piece of text with many distinct informative tokens overall"),
        ],
        "doc_id long, text string",
    )
    batch1.write.parquet(land)
    c1 = curate_stream(spark, land, target, index, ck, min_quality=0.3, jaccard_threshold=0.5)
    got1 = sorted(r["doc_id"] for r in spark.read.parquet(target).collect())
    assert got1 == [1, 5], got1
    assert c1["ingested"] == 2 and c1["screened"] == 3

    # batch 2: near-dup of an INGESTED doc must be screened by the
    # index the stream itself extended
    spark.createDataFrame(
        [
            (6, "a completely different document about distributed query engines and exchanges"),
            (7, "fresh unrelated content mentioning watermark semantics and state stores at length"),
        ],
        "doc_id long, text string",
    ).write.mode("append").parquet(land)
    curate_stream(spark, land, target, index, ck, min_quality=0.3, jaccard_threshold=0.5)
    got2 = sorted(r["doc_id"] for r in spark.read.parquet(target).collect())
    assert got2 == [1, 5, 7], got2

    # checkpoint loss: the full landing zone replays; idempotence gates
    # must re-select zero rows (no duplicates, index unchanged)
    shutil.rmtree(ck)
    n_sigs = spark.read.parquet(f"{index}/signatures").count()
    c3 = curate_stream(spark, land, target, index, str(tmp_path / "ck2"),
                       min_quality=0.3, jaccard_threshold=0.5)
    assert c3["ingested"] == 0
    assert sorted(r["doc_id"] for r in spark.read.parquet(target).collect()) == [1, 5, 7]
    assert spark.read.parquet(f"{index}/signatures").count() == n_sigs

    # crash window between the two appends: a doc lands in the TARGET
    # but its signatures never reach the index. The replay must
    # BACKFILL the signatures (so future near-dups screen against it)
    # without duplicating the document.
    crashed = spark.createDataFrame(
        [(9, "document that reached the target before the indexing append crashed midway")],
        "doc_id long, text string",
    )
    crashed.write.mode("append").parquet(target)  # simulated half-commit
    crashed.write.mode("append").parquet(land)
    curate_stream(spark, land, target, index, str(tmp_path / "ck3"),
                  min_quality=0.3, jaccard_threshold=0.5)
    assert sorted(r["doc_id"] for r in spark.read.parquet(target).collect()) == [1, 5, 7, 9]
    sig_ids = {r["doc_id"] for r in spark.read.parquet(f"{index}/signatures").select("doc_id").collect()}
    assert 9 in sig_ids  # signatures backfilled
    # and the backfilled index now screens near-dups of the crashed doc
    spark.createDataFrame(
        [(10, "document that reached the target before the indexing append crashed halfway")],
        "doc_id long, text string",
    ).write.mode("append").parquet(land)
    curate_stream(spark, land, target, index, str(tmp_path / "ck4"),
                  min_quality=0.3, jaccard_threshold=0.5)
    assert sorted(r["doc_id"] for r in spark.read.parquet(target).collect()) == [1, 5, 7, 9]


def test_media_header_parsers_never_crash_on_random_bytes():
    """Total-function property: arbitrary byte strings — including
    ones starting with each real magic — must parse to None or a sane
    tuple, never raise (a crashing parser kills a whole Arrow batch
    at ingest)."""
    import random

    from pydala2_spark.operators.multimodal import (
        parse_image_header,
        parse_wav_header,
    )

    rnd = random.Random(23)
    magics = [
        b"", b"\x89PNG\r\n\x1a\n", b"GIF89a", b"\xff\xd8\xff",
        b"RIFF", b"RIFFxxxxWAVE",
    ]
    for _ in range(500):
        payload = rnd.choice(magics) + bytes(
            rnd.getrandbits(8) for _ in range(rnd.randint(0, 200))
        )
        img = parse_image_header(payload)
        assert img is None or (
            len(img) == 3 and all(isinstance(v, int) for v in img)
        )
        wav = parse_wav_header(payload)
        if wav is not None:
            rate, ch, dur = wav
            assert 0 < rate < 2**31 and 0 < ch <= 2**15 and dur >= 0


# ---------------------------------------------------------------------------
# REAL pixel/sample kernels (round 6): BMP/PPM/PGM pixels, PCM samples
# ---------------------------------------------------------------------------


def _gradient_bmp(w, h, seed=0):
    import numpy as np

    from pydala2_spark.operators.multimodal import encode_bmp

    v = (np.arange(h)[:, None] * 11 + np.arange(w)[None, :] * 7 + seed) % 256
    arr = np.repeat(v[:, :, None], 3, axis=2).astype(np.uint8)
    return encode_bmp(arr), arr


def test_bmp_roundtrip_padding_and_orientation():
    """encode_bmp ↔ decode_image_pixels round-trips bit-exactly across
    odd widths (4-byte row padding) and a hand-flipped top-down
    variant — the two classic BMP decoder bugs."""
    import struct

    import numpy as np

    from pydala2_spark.operators.multimodal import decode_image_pixels, encode_bmp

    for w, h in [(1, 1), (3, 2), (5, 7), (13, 4), (16, 16)]:
        arr = (np.arange(h * w * 3, dtype=np.int64) % 251).astype(np.uint8).reshape(h, w, 3)
        assert np.array_equal(decode_image_pixels(encode_bmp(arr)), arr), (w, h)
    # top-down: negative height + reversed stored rows = same image
    arr = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    p = bytearray(encode_bmp(arr))
    p[22:26] = struct.pack("<i", -2)
    stride = (3 * 3 + 3) & ~3
    pix = bytes(p[54:])
    rows = [pix[i * stride : (i + 1) * stride] for i in range(2)]
    assert np.array_equal(
        decode_image_pixels(bytes(p[:54]) + b"".join(reversed(rows))), arr
    )


def test_pnm_decode_comments_and_gray():
    import numpy as np

    from pydala2_spark.operators.multimodal import decode_image_pixels

    ppm = b"P6 # comment\n3 2\n255\n" + bytes(range(18))
    assert decode_image_pixels(ppm).flatten().tolist() == list(range(18))
    pgm = b"P5\n2 2 255\n" + bytes([10, 20, 30, 40])
    assert decode_image_pixels(pgm).shape == (2, 2, 1)
    # truncated pixel data -> None (never a partial array)
    assert decode_image_pixels(b"P6\n4 4\n255\n" + b"\x00" * 10) is None


def test_wav_pcm_roundtrip_and_exotic_depths():
    import numpy as np

    from pydala2_spark.operators.multimodal import (
        decode_wav_samples,
        encode_wav_pcm16,
        parse_wav_header,
    )

    s = (np.sin(2 * np.pi * 440 * np.arange(8000) / 8000) * 20000).astype(np.int16)
    wav = encode_wav_pcm16(s, 8000)
    assert parse_wav_header(wav) == (8000, 1, 1000)
    rate, back = decode_wav_samples(wav)
    assert rate == 8000 and np.array_equal(back[:, 0], s.astype(np.int32))
    st = np.stack([s, -s], axis=1)
    rate, back = decode_wav_samples(encode_wav_pcm16(st, 44100))
    assert back.shape == (8000, 2) and np.array_equal(back, st.astype(np.int32))
    # 8-bit: stored unsigned, decoded re-centered
    w8 = bytearray(_wav_bytes(1000, 1, 0, bits=8))
    w8 = bytes(w8[: len(w8) - 0])
    hdr = _wav_bytes(1000, 1, 4, bits=8)
    # replace the 4 data bytes with known values 0,128,255,200
    w8 = hdr[:-4] + bytes([0, 128, 255, 200])
    rate, back = decode_wav_samples(w8)
    assert back[:, 0].tolist() == [-128, 0, 127, 72]
    # 24-bit: sign extension
    hdr24 = _wav_bytes(1000, 1, 2, bits=24)
    w24 = hdr24[:-6] + (8388607).to_bytes(3, "little") + (-8388608).to_bytes(
        3, "little", signed=True
    )
    rate, back = decode_wav_samples(w24)
    assert back[:, 0].tolist() == [8388607, -8388608]
    # float WAV (format 3) DECODES since round 6 (scaled to the int16
    # grid — zeroed payload = silence); a compressed format (ADPCM,
    # format 2) still returns None, not garbage
    f32 = bytearray(_wav_bytes(1000, 1, 4, bits=32))
    f32[20:22] = (3).to_bytes(2, "little")
    rate, s = decode_wav_samples(bytes(f32))
    assert rate == 1000 and s[:, 0].tolist() == [0, 0, 0, 0]  # 4 silent floats
    adpcm = bytearray(_wav_bytes(1000, 1, 4, bits=16))
    adpcm[20:22] = (2).to_bytes(2, "little")
    assert decode_wav_samples(bytes(adpcm)) is None


def test_pixel_and_sample_decoders_total_over_random_bytes():
    """Fuzz: the REAL decoders must return an array or None for ANY
    byte string — never raise (hostile corpus rule, same contract as
    the header parsers)."""
    import random

    from pydala2_spark.operators.multimodal import (
        decode_image_pixels,
        decode_wav_samples,
    )

    rng = random.Random(99)
    prefixes = [b"", b"BM", b"P6", b"P5", b"P6 ", b"RIFF", b"RIFF1234WAVE"]
    for trial in range(300):
        blob = rng.choice(prefixes) + bytes(
            rng.getrandbits(8) for _ in range(rng.randrange(0, 200))
        )
        decode_image_pixels(blob)
        decode_wav_samples(blob)


def test_sniff_format_structural_guards(spark):
    from pydala2_spark.operators.multimodal import sniff_format

    bmp, _ = _gradient_bmp(4, 3)
    rows = spark.createDataFrame(
        [
            (0, bmp),
            (1, b"BMW dealerships are text"),  # 'BM' text: NOT a bmp
            (2, b"P6\n2 2\n255\n" + bytes(12)),
            (3, b"P6X not netpbm"),
        ],
        "id long, blob binary",
    ).select("id", sniff_format("blob").alias("fmt"))
    got = {r["id"]: r["fmt"] for r in rows.collect()}
    assert got == {0: "bmp", 1: "unknown", 2: "ppm", 3: "unknown"}


def test_image_pixel_stats_real_and_null_ladder(spark):
    """Decodable payloads yield EXACT numpy-verified pixel stats; text
    payloads are null throughout with a ``decode_error`` — never
    fabricated."""
    import numpy as np

    from pydala2_spark.operators.multimodal import image_pixel_stats

    p0, a0 = _gradient_bmp(5, 7, seed=3)
    p1, a1 = _gradient_bmp(12, 4, seed=90)
    df = spark.createDataFrame(
        [(0, p0), (1, p1), (2, b"just text, not an image")],
        "id long, blob binary",
    )
    got = {r["id"]: r for r in image_pixel_stats(df, "blob", ["id"]).collect()}
    for i, a in [(0, a0), (1, a1)]:
        r = got[i]
        assert (r["height"], r["width"], r["channels"]) == a.shape
        assert r["n_pixels"] == a.shape[0] * a.shape[1]
        assert r["px_sum"] == int(a.sum(dtype="int64"))
        assert r["px_min"] == int(a.min()) and r["px_max"] == int(a.max())
        assert r["px_topleft"] == int(a[0, 0, 0])  # pins row order
    assert all(got[i]["decode_error"] is None for i in (0, 1))
    assert got[2]["px_sum"] is None and got[2]["width"] is None
    assert got[2]["decode_error"] == "unrecognized image container"


def test_audio_pcm_stats_exact(spark):
    import numpy as np

    from pydala2_spark.operators.multimodal import audio_pcm_stats, encode_wav_pcm16

    s = np.array([100, -50, 25, -25, 0, 30], dtype=np.int16)  # 3 strict crossings
    st = np.stack([s, np.roll(s, 1)], axis=1)
    df = spark.createDataFrame(
        [
            (0, encode_wav_pcm16(s, 8000)),
            (1, encode_wav_pcm16(st, 16000)),
            (2, b"not audio"),
        ],
        "id long, blob binary",
    )
    got = {r["id"]: r for r in audio_pcm_stats(df, "blob", ["id"]).collect()}
    r = got[0]
    assert (r["sample_rate"], r["n_channels"], r["n_samples"]) == (8000, 1, 6)
    assert r["abs_sum"] == int(np.abs(s.astype(np.int64)).sum())
    assert (r["s_min"], r["s_max"]) == (-50, 100)
    assert r["zero_crossings"] == 3
    assert got[1]["n_channels"] == 2 and got[1]["abs_sum"] == 2 * r["abs_sum"]
    assert got[0]["decode_error"] is None and got[1]["decode_error"] is None
    assert got[2]["n_samples"] is None and got[2]["sample_rate"] is None
    assert got[2]["decode_error"] == "unrecognized audio container"


def test_extract_features_real_grid(spark):
    """A 2x2-block image at dim=4 gives EXACTLY the four block means
    scaled to [-1, 1] — real pixels driving the feature vector."""
    import numpy as np

    from pydala2_spark.operators.multimodal import encode_bmp, extract_features

    blocks = np.zeros((8, 8, 3), np.uint8)
    blocks[:4, 4:] = 51  # -> 51/127.5-1 = -0.6
    blocks[4:, :4] = 102
    blocks[4:, 4:] = 255
    df = spark.createDataFrame([(0, encode_bmp(blocks))], "id long, blob binary")
    feats = extract_features(df, "blob", ["id"], dim=4).collect()[0]["features"]
    assert [round(f, 4) for f in feats] == [-1.0, -0.6, -0.2, 1.0]


def test_mel_filterbank_centers_and_tone_recovery():
    """Mel front-end pins: filter CENTER frequencies sit exactly on
    the closed-form HTK mel grid (recomputed independently here); a
    pure tone's strongest mel filter is the one whose center is
    nearest the tone — at two different frequencies, so the warp
    (narrow filters low, wide filters high) is actually exercised."""
    import numpy as np

    from pydala2_spark.operators.multimodal import (
        _mel_filterbank,
        _mel_spectrogram,
        _mfcc_features,
    )

    rate, n_fft, n_filters = 8000, 512, 26
    # independent HTK grid: n+2 points uniform in mel between 0..Nyquist
    mel = lambda f: 2595.0 * np.log10(1.0 + f / 700.0)  # noqa: E731
    imel = lambda m: 700.0 * (10.0 ** (m / 2595.0) - 1.0)  # noqa: E731
    pts = imel(np.linspace(0.0, mel(rate / 2.0), n_filters + 2))
    centers_hz = pts[1:-1]
    fb = _mel_filterbank(n_filters, n_fft, rate)
    assert fb.shape == (n_filters, n_fft // 2 + 1)
    bin_hz = rate / (n_fft + 1)
    for i in range(n_filters):
        peak_bin = int(np.argmax(fb[i]))
        # the filter's peak bin is the FFT bin holding its mel center
        assert abs(peak_bin * bin_hz - centers_hz[i]) <= bin_hz, i
    # mel warp: low filters narrower (in Hz) than high filters
    widths = (fb > 0).sum(axis=1)
    assert widths[0] < widths[-1]
    # tone recovery through the full front half
    for f_hz in (300, 2500):
        s = (np.sin(2 * np.pi * f_hz * np.arange(rate) / rate) * 20000).astype(
            np.int16
        )[:, None]
        energies = _mel_spectrogram(s, rate, n_filters).mean(axis=0)
        expected = int(np.argmin(np.abs(centers_hz - f_hz)))
        assert abs(int(np.argmax(energies)) - expected) <= 1, f_hz
    # DCT-II back half: orthonormal transform of the log-mel means
    s = (np.sin(2 * np.pi * 440 * np.arange(rate) / rate) * 20000).astype(np.int16)[
        :, None
    ]
    got = _mfcc_features(s, rate, 13)
    logmel = np.log(_mel_spectrogram(s, rate, 26) + 1e-10)
    k = np.arange(13)[:, None]
    dct = np.cos(np.pi * k * (2.0 * np.arange(26)[None, :] + 1.0) / 52.0) * np.sqrt(
        2.0 / 26
    )
    dct[0] *= np.sqrt(0.5)
    want = (logmel @ dct.T).mean(axis=0)
    assert np.allclose(got, want, atol=1e-5)
    assert len(got) == 13


def test_extract_audio_features_real_mfcc(spark):
    """Decodable PCM drives REAL mel-cepstral features through the
    Arrow-batched stage; text payloads get a null ``mfcc`` and a
    ``decode_error``; the distributed result equals the local kernel."""
    import numpy as np

    from pydala2_spark.operators.multimodal import (
        _mfcc_features,
        encode_wav_pcm16,
        extract_audio_features,
    )

    rate, f = 8000, 1200
    s = (np.sin(2 * np.pi * f * np.arange(rate) / rate) * 20000).astype(np.int16)
    text = b"no samples here"
    df = spark.createDataFrame(
        [(0, encode_wav_pcm16(s, rate)), (1, text)], "id long, blob binary"
    )
    got = {
        r["id"]: r for r in extract_audio_features(df, "blob", ["id"], n_mfcc=13).collect()
    }
    want = _mfcc_features(s[:, None], rate, 13)
    assert np.allclose(got[0]["mfcc"], want, atol=1e-5)
    assert got[0]["sample_rate"] == rate and got[0]["duration_ms"] == 1000
    assert got[0]["decode_error"] is None
    assert got[1]["mfcc"] is None and got[1]["sample_rate"] is None
    assert got[1]["decode_error"] == "unrecognized audio container"


def test_resize_images_emit_payload_real(spark):
    """emit_payload=True: the resized payload is a REAL decodable BMP
    whose pixels are the nearest-neighbor sample of the source."""
    import numpy as np

    from pydala2_spark.operators.multimodal import (
        decode_image_pixels,
        encode_bmp,
        resize_images,
    )

    big = np.zeros((64, 32, 3), np.uint8)
    big[:, :, 0] = np.arange(32, dtype=np.uint8)[None, :] * 8  # column ramp
    df = spark.createDataFrame(
        [(0, encode_bmp(big)), (1, b"opaque text payload")], "id long, blob binary"
    )
    got = {
        r["id"]: r
        for r in resize_images(df, "blob", ["id"], max_side=16, emit_payload=True).collect()
    }
    r = got[0]
    assert (r["width"], r["height"], r["resized_width"], r["resized_height"]) == (
        32,
        64,
        8,
        16,
    )
    small = decode_image_pixels(bytes(r["resized_payload"]))
    assert small.shape == (16, 8, 3)
    # nearest-neighbor: output column j samples source column j*32//8
    expect = (np.arange(8) * 32 // 8 * 8).astype(np.uint8)
    assert np.array_equal(small[0, :, 0], expect)
    assert r["decode_error"] is None
    assert got[1]["resized_payload"] is None and got[1]["resized_width"] is None
    assert got[1]["decode_error"] == "unrecognized image container"
    # default (header-only) path: no payload column
    assert "resized_payload" not in resize_images(df, "blob", ["id"]).columns


def _fwd_filter_png(a, ftype):
    """Forward-apply one PNG filter type per scanline and wrap in real
    chunks — the encoder side the spec defines, so decode must invert."""
    import zlib

    import numpy as np

    h, w, nch = a.shape
    stride = w * nch
    flat = a.reshape(h, stride).astype(np.int32)
    rows, prev = [], np.zeros(stride, np.int32)
    for y in range(h):
        cur = flat[y]
        filt = np.zeros(stride, np.int32)
        for x in range(stride):
            left = cur[x - nch] if x >= nch else 0
            up = prev[x]
            ul = prev[x - nch] if x >= nch else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = left
            elif ftype == 2:
                pred = up
            elif ftype == 3:
                pred = (left + up) >> 1
            else:
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if (pa <= pb and pa <= pc) else (up if pb <= pc else ul)
            filt[x] = (cur[x] - pred) & 0xFF
        rows.append(bytes([ftype]) + bytes(filt.astype(np.uint8)))
        prev = cur

    def chunk(cid, data):
        return (
            len(data).to_bytes(4, "big")
            + cid
            + data
            + (zlib.crc32(cid + data) & 0xFFFFFFFF).to_bytes(4, "big")
        )

    ihdr = (
        w.to_bytes(4, "big")
        + h.to_bytes(4, "big")
        + bytes([8, {1: 0, 2: 4, 3: 2, 4: 6}[nch], 0, 0, 0])
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"".join(rows)))
        + chunk(b"IEND", b"")
    )


def test_png_decode_all_filters_palette_and_rejects():
    """Real PNG decode: every filter type (None/Sub/Up/Average/Paeth)
    inverts exactly; palette expands through PLTE; 16-bit, Adam7, and
    truncated streams fall back to None."""
    import zlib

    import numpy as np

    from pydala2_spark.operators.multimodal import (
        decode_image_pixels,
        decode_png_pixels,
        encode_png,
    )

    rng = np.random.default_rng(3)
    for nch in (1, 2, 3, 4):
        a = rng.integers(0, 256, (9, 7, nch), dtype=np.uint8)
        assert np.array_equal(decode_png_pixels(encode_png(a)), a), nch
    a = rng.integers(0, 256, (6, 5, 3), dtype=np.uint8)
    for ft in range(5):
        assert np.array_equal(decode_png_pixels(_fwd_filter_png(a, ft)), a), ft
    # palette: indexes expand to RGB through PLTE
    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, (4, 5), dtype=np.uint8)

    def chunk(cid, data):
        return (
            len(data).to_bytes(4, "big")
            + cid
            + data
            + (zlib.crc32(cid + data) & 0xFFFFFFFF).to_bytes(4, "big")
        )

    ihdr = (5).to_bytes(4, "big") + (4).to_bytes(4, "big") + bytes([8, 3, 0, 0, 0])
    scan = b"".join(b"\x00" + idx[y].tobytes() for y in range(4))
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"PLTE", pal.tobytes())
        + chunk(b"IDAT", zlib.compress(scan))
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_image_pixels(png), pal[idx])
    # rejects: interlace/depth flags CLAIMING a layout the stream's
    # byte count can't satisfy (16-bit and Adam7 are now supported —
    # these streams are simply inconsistent), truncation, palette range
    bad = bytearray(encode_png(a))
    bad[28] = 1  # interlace flag inside IHDR data
    assert decode_png_pixels(bytes(bad)) is None
    bad = bytearray(encode_png(a))
    bad[24] = 16  # bit depth
    assert decode_png_pixels(bytes(bad)) is None
    assert decode_png_pixels(encode_png(a)[:40]) is None
    short_pal = png.replace(chunk(b"PLTE", pal.tobytes()), chunk(b"PLTE", pal.tobytes()[:9]))
    assert decode_png_pixels(short_pal) is None
    # fuzz: total over random bytes with a real PNG signature
    import random

    r = random.Random(7)
    for _ in range(200):
        blob = b"\x89PNG\r\n\x1a\n" + bytes(
            r.getrandbits(8) for _ in range(r.randrange(0, 150))
        )
        decode_png_pixels(blob)


def _encode_png_any(samples, bitd, ct, interlace, plte=None):
    """In-test generic PNG encoder (filter-0 scanlines): any legal
    bit depth 1/2/4/8/16, any color type, non-interlaced or Adam7 —
    the spec-side inverse the extended decoder must invert.
    ``samples`` is (H, W, nch) holding RAW sample values (palette
    indexes for ct=3, 16-bit values for bitd=16)."""
    import zlib

    import numpy as np

    a = np.asarray(samples)
    h, w, nch = a.shape

    def pack_rows(sub):
        ph, pw, _ = sub.shape
        rows = []
        for y in range(ph):
            if bitd == 16:
                row = sub[y].astype(">u2").tobytes()
            elif bitd == 8:
                row = sub[y].astype(np.uint8).tobytes()
            else:
                vals = sub[y, :, 0].astype(np.uint8)
                bits = np.unpackbits(vals[:, None], axis=1)[:, 8 - bitd :]
                flat = bits.flatten()
                pad = (-len(flat)) % 8
                flat = np.concatenate([flat, np.zeros(pad, np.uint8)])
                row = np.packbits(flat).tobytes()
            rows.append(b"\x00" + row)
        return b"".join(rows)

    if interlace == 0:
        scan = pack_rows(a)
    else:
        grid = [
            (0, 0, 8, 8),
            (4, 0, 8, 8),
            (0, 4, 4, 8),
            (2, 0, 2, 4),
            (0, 2, 2, 4),
            (1, 0, 1, 2),
            (0, 1, 1, 2),
        ]
        scan = b"".join(
            pack_rows(a[y0::dy, x0::dx])
            for x0, y0, dx, dy in grid
            if a[y0::dy, x0::dx].size
        )

    def chunk(cid, data):
        return (
            len(data).to_bytes(4, "big")
            + cid
            + data
            + (zlib.crc32(cid + data) & 0xFFFFFFFF).to_bytes(4, "big")
        )

    ihdr = (
        w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([bitd, ct, 0, 0, interlace])
    )
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if plte is not None:
        out += chunk(b"PLTE", plte.tobytes())
    return out + chunk(b"IDAT", zlib.compress(scan)) + chunk(b"IEND", b"")


def test_png_16bit_sub8bit_and_adam7():
    """Extended PNG coverage: 16-bit depth reduces to the MSB across
    every color type; 1/2/4-bit grayscale scales to [0,255]; sub-8
    palette indexes expand through PLTE; Adam7 interlace reconstructs
    the logical grid for 8-bit, 16-bit and sub-8 shapes alike."""
    import numpy as np

    from pydala2_spark.operators.multimodal import decode_png_pixels

    rng = np.random.default_rng(17)
    # 16-bit: gray, RGB, gray+alpha, RGBA — MSB reduction
    for ct, nch in [(0, 1), (2, 3), (4, 2), (6, 4)]:
        a16 = rng.integers(0, 65536, (7, 5, nch), dtype=np.uint16)
        png = _encode_png_any(a16, 16, ct, 0)
        got = decode_png_pixels(png)
        assert got is not None and got.shape == (7, 5, nch), ct
        assert np.array_equal(got, (a16 >> 8).astype(np.uint8)), ct
    # sub-8 grayscale: value v scales to v*255/(2^d-1)
    for bitd in (1, 2, 4):
        mx = (1 << bitd) - 1
        g = rng.integers(0, mx + 1, (6, 11, 1), dtype=np.uint8)
        got = decode_png_pixels(_encode_png_any(g, bitd, 0, 0))
        assert np.array_equal(got, (g.astype(np.int32) * 255 // mx).astype(np.uint8)), bitd
    # sub-8 palette: raw indexes through PLTE
    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, (5, 9, 1), dtype=np.uint8)
    got = decode_png_pixels(_encode_png_any(idx, 4, 3, 0, plte=pal))
    assert np.array_equal(got, pal[idx[:, :, 0]])
    # Adam7: every pass populated (h, w > 8), all depths
    a8 = rng.integers(0, 256, (13, 10, 3), dtype=np.uint8)
    assert np.array_equal(decode_png_pixels(_encode_png_any(a8, 8, 2, 1)), a8)
    a16 = rng.integers(0, 65536, (13, 10, 1), dtype=np.uint16)
    assert np.array_equal(
        decode_png_pixels(_encode_png_any(a16, 16, 0, 1)),
        (a16 >> 8).astype(np.uint8),
    )
    g2 = rng.integers(0, 4, (13, 10, 1), dtype=np.uint8)
    assert np.array_equal(
        decode_png_pixels(_encode_png_any(g2, 2, 0, 1)),
        (g2.astype(np.int32) * 255 // 3).astype(np.uint8),
    )
    # Adam7 on tiny images (some passes empty)
    t = rng.integers(0, 256, (2, 3, 3), dtype=np.uint8)
    assert np.array_equal(decode_png_pixels(_encode_png_any(t, 8, 2, 1)), t)
    one = rng.integers(0, 256, (1, 1, 3), dtype=np.uint8)
    assert np.array_equal(decode_png_pixels(_encode_png_any(one, 8, 2, 1)), one)
    # illegal IHDR combos stay rejected: 16-bit palette, 2-bit RGB
    assert decode_png_pixels(_encode_png_any(idx, 4, 3, 0, plte=pal).replace(
        bytes([4, 3]), bytes([16, 3]), 1)) is None
    assert decode_png_pixels(_encode_png_any(a8, 8, 2, 0).replace(
        bytes([8, 2]), bytes([2, 2]), 1)) is None


def test_image_bomb_ratio_guards_and_wav_fmt_clen():
    """Payload-relative amplification guards: a tiny PNG/GIF claiming
    dims beyond the container's physical expansion limit returns None
    BEFORE the per-byte Python loops run; a WAV fmt chunk with a short
    declared length must not read parameters from the next chunk."""
    import time
    import zlib

    import numpy as np

    from pydala2_spark.operators.multimodal import (
        decode_gif_pixels,
        decode_png_pixels,
        decode_wav_samples,
        encode_wav_pcm16,
        parse_wav_header,
    )

    def chunk(cid, data):
        return (
            len(data).to_bytes(4, "big")
            + cid
            + data
            + (zlib.crc32(cid + data) & 0xFFFFFFFF).to_bytes(4, "big")
        )

    # PNG zlib bomb: ~1 KB of deflate declaring 4096x4096 RGB — the
    # ratio guard must reject without unfiltering (time-bounded)
    ihdr = (4096).to_bytes(4, "big") + (4096).to_bytes(4, "big") + bytes([8, 2, 0, 0, 0])
    bomb_idat = zlib.compress(b"\x00" * 2_000_000)  # ~2 KB compressed
    bomb = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", bomb_idat)
        + chunk(b"IEND", b"")
    )
    t0 = time.monotonic()
    assert decode_png_pixels(bomb) is None
    assert time.monotonic() - t0 < 1.0
    # GIF claiming dims beyond LZW's ~2731x physical expansion limit
    gif = (
        b"GIF89a"
        + (8192).to_bytes(2, "little")
        + (8192).to_bytes(2, "little")
        + bytes([0x80 | 1, 0, 0])  # GCT present, 4 entries
        + b"\x00" * 12  # 4-entry palette
        + b"\x2c"
        + b"\x00\x00\x00\x00"
        + (8192).to_bytes(2, "little")
        + (8192).to_bytes(2, "little")
        + b"\x00"  # no LCT, not interlaced
        + b"\x02"  # LZW min code size
        + bytes([3, 0x44, 0x44, 0x44])  # one tiny sub-block
        + b"\x00\x3b"
    )
    t0 = time.monotonic()
    assert decode_gif_pixels(gif) is None
    assert time.monotonic() - t0 < 1.0
    # WAV: fmt chunk declaring clen=4 — previously the parser read
    # rate/channels/bits from the FOLLOWING chunk's bytes
    samples = np.zeros((8, 1), dtype=np.int16)
    good = encode_wav_pcm16(samples, rate=8000)
    assert decode_wav_samples(good) is not None
    short_fmt = (
        b"RIFF" + (100).to_bytes(4, "little") + b"WAVE"
        + b"fmt " + (4).to_bytes(4, "little") + b"\x01\x00\x01\x00"
        + b"data" + (16).to_bytes(4, "little") + b"\x00" * 16
    )
    assert decode_wav_samples(short_fmt) is None
    assert parse_wav_header(short_fmt) is None


def test_gif_decode_roundtrip_interlace_and_rejects():
    """Real GIF decode: LZW inverts the encoder across palette sizes
    (incl. the 256-color width-growth path), interlaced storage
    deinterlaces, truncated/garbage streams return None."""
    import numpy as np

    from pydala2_spark.operators.multimodal import (
        decode_gif_pixels,
        decode_image_pixels,
        encode_gif,
    )

    rng = np.random.default_rng(5)
    ramp = np.repeat(
        np.arange(256, dtype=np.uint8).reshape(16, 16)[:, :, None], 3, axis=2
    )
    assert np.array_equal(decode_gif_pixels(encode_gif(ramp)), ramp)
    for shape in [(1, 1), (3, 5), (40, 33), (7, 130)]:
        vals = rng.integers(0, 4, shape, dtype=np.uint8) * 80
        arr = np.stack([vals, vals // 2, 255 - vals], axis=2).astype(np.uint8)
        assert np.array_equal(decode_image_pixels(encode_gif(arr)), arr), shape
    # interlaced: encode the rows in GIF pass order, flip the interlace
    # bit — decode must hand back the logical row order
    h = 11
    arr = np.repeat(
        (np.arange(h, dtype=np.uint8) * 20)[:, None, None], 3, axis=2
    ).repeat(4, axis=1)
    order = (
        list(range(0, h, 8))
        + list(range(4, h, 8))
        + list(range(2, h, 4))
        + list(range(1, h, 2))
    )
    p = bytearray(encode_gif(arr[order]))
    desc = bytes(p).find(b"\x2c")
    p[desc + 9] |= 0x40  # image-descriptor interlace flag
    assert np.array_equal(decode_gif_pixels(bytes(p)), arr)
    # rejects + fuzz totality
    assert decode_gif_pixels(encode_gif(ramp)[:30]) is None
    assert decode_gif_pixels(b"GIF89a" + b"\x01" * 20) is None
    import random

    r = random.Random(11)
    for _ in range(300):
        decode_gif_pixels(
            b"GIF89a" + bytes(r.getrandbits(8) for _ in range(r.randrange(0, 150)))
        )
    with pytest.raises(ValueError, match="256"):
        encode_gif(rng.integers(0, 256, (40, 40, 3), dtype=np.uint8))


def test_jpeg_codec_roundtrip_and_rejects():
    """Baseline JPEG: pure-Python Huffman + DCT. Lossy, so the pin is
    bounded reconstruction error — near-exact for uniform blocks
    (DC-only), tight for smooth gradients at high quality; restart
    markers are bit-identical to the unrestarted stream; progressive /
    truncated / fuzzed streams return None."""
    import numpy as np

    from pydala2_spark.operators.jpeg import decode_jpeg_pixels, encode_jpeg
    from pydala2_spark.operators.multimodal import decode_image_pixels

    # uniform image: DC-only, exact reconstruction
    flat = np.full((16, 24, 3), 128, np.uint8)
    assert np.array_equal(decode_jpeg_pixels(encode_jpeg(flat, 90)), flat)
    # smooth gradient at q95: tiny bounded error, via the shared ladder
    y, x = np.mgrid[0:32, 0:24]
    g = (x * 3 + y * 2).astype(np.uint8)
    arr = np.stack([g, g // 2 + 40, 255 - g], axis=2)
    back = decode_image_pixels(encode_jpeg(arr, quality=95))
    assert back.shape == arr.shape
    assert int(np.abs(back.astype(int) - arr.astype(int)).max()) <= 2
    # restart markers decode bit-identically to the unrestarted stream
    plain = decode_jpeg_pixels(encode_jpeg(arr, quality=90))
    rst = decode_jpeg_pixels(encode_jpeg(arr, quality=90, restart_interval=2))
    assert np.array_equal(plain, rst)
    # 2-D gray input, non-multiple-of-8 dims
    gray = np.tile(np.linspace(0, 255, 13).astype(np.uint8), (19, 1))
    back = decode_jpeg_pixels(encode_jpeg(gray, quality=95))
    assert back.shape == (19, 13, 3)
    assert int(np.abs(back[:, :, 0].astype(int) - gray.astype(int)).max()) <= 3
    # noise at q50 stays bounded (no wrap-around / clamp bugs)
    rng = np.random.default_rng(0)
    noise = rng.integers(0, 256, (24, 24, 3), dtype=np.uint8)
    back = decode_jpeg_pixels(encode_jpeg(noise, quality=50))
    assert int(np.abs(back.astype(int) - noise.astype(int)).max()) < 200
    # a SOF2 flag on a BASELINE-layout stream is inconsistent (its SOS
    # declares Ss=0,Se=63 — not a legal progressive scan): None, not
    # garbled pixels
    p = bytearray(encode_jpeg(arr))
    i = bytes(p).find(b"\xff\xc0")
    p[i + 1] = 0xC2
    assert decode_jpeg_pixels(bytes(p)) is None
    # truncation + fuzz totality
    assert decode_jpeg_pixels(encode_jpeg(arr)[:60]) is None
    import random

    r = random.Random(3)
    for _ in range(300):
        decode_jpeg_pixels(
            b"\xff\xd8" + bytes(r.getrandbits(8) for _ in range(r.randrange(0, 200)))
        )


def test_jpeg_progressive_roundtrip_and_partials():
    """Progressive JPEG (T.81 Annex G): the progressive encoder's
    decode is BIT-IDENTICAL to the baseline decode of the same image
    (same quantized coefficients, different scan order), across
    subsamplings, gray, and a sparse image that forces multi-block EOB
    runs; a stream truncated between scans reconstructs the honest
    partial preview; mid-scan truncation and fuzz return None, never
    crash."""
    import numpy as np

    from pydala2_spark.operators.jpeg import (
        decode_jpeg_pixels,
        encode_jpeg,
        encode_jpeg_progressive,
    )
    from pydala2_spark.operators.multimodal import decode_image_pixels

    rng = np.random.default_rng(9)
    for shape, sub in [((16, 24, 3), "444"), ((19, 13, 3), "420"), ((24, 17, 3), "422")]:
        arr = rng.integers(0, 256, shape, dtype=np.uint8)
        prog = decode_jpeg_pixels(encode_jpeg_progressive(arr, 75, sub))
        base = decode_jpeg_pixels(encode_jpeg(arr, 75, subsampling=sub))
        assert prog is not None and np.array_equal(prog, base), (shape, sub)
    # sparse image: long cross-block EOB runs in every AC band
    arr = np.full((40, 40, 3), 128, np.uint8)
    arr[3, 5] = [250, 0, 10]
    arr[30, 33] = [0, 255, 0]
    blob = encode_jpeg_progressive(arr, 90)
    assert np.array_equal(
        decode_jpeg_pixels(blob), decode_jpeg_pixels(encode_jpeg(arr, 90))
    )
    # gray through the shared decode ladder
    gray = np.tile(np.linspace(0, 255, 13).astype(np.uint8), (19, 1))
    assert np.array_equal(
        decode_image_pixels(encode_jpeg_progressive(gray, 95)),
        decode_jpeg_pixels(encode_jpeg(gray, 95)),
    )
    # truncation between scans = an honest partial preview (that IS
    # progressive rendering); find the 3rd SOS and cut right before it
    sos_positions = []
    j = 0
    while True:
        j = blob.find(b"\xff\xda", j + 1)
        if j < 0:
            break
        sos_positions.append(j)
    assert len(sos_positions) >= 4
    partial = decode_jpeg_pixels(blob[: sos_positions[2]] + b"\xff\xd9")
    assert partial is not None and partial.shape == arr.shape
    # mid-entropy truncation: None (desync detected), and fuzz totality
    assert decode_jpeg_pixels(blob[: sos_positions[0] + 30]) is None
    import random

    r = random.Random(5)
    for _ in range(60):
        cut = r.randrange(2, len(blob))
        out = decode_jpeg_pixels(blob[:cut])
        assert out is None or out.shape == arr.shape
    for _ in range(200):
        decode_jpeg_pixels(
            b"\xff\xd8\xff\xc2" + bytes(r.getrandbits(8) for _ in range(r.randrange(0, 150)))
        )


def test_wav_float_and_mulaw_decode(spark):
    """Format-3 IEEE float scales onto the int16 grid (NaN/Inf
    sanitized); format-7 µ-law expands per G.711 (0xFF -> 0,
    0x7F -> -8031); both flow through the same stats stage."""
    import struct

    import numpy as np

    from pydala2_spark.operators.multimodal import (
        audio_pcm_stats,
        decode_wav_samples,
        sniff_format,
    )

    def wav(fmt, ch, rate, bits, data):
        f = struct.pack("<HHIIHH", fmt, ch, rate, rate * ch * bits // 8, ch * bits // 8, bits)
        body = b"WAVE" + b"fmt " + struct.pack("<I", len(f)) + f
        body += b"data" + struct.pack("<I", len(data)) + data
        return b"RIFF" + struct.pack("<I", len(body)) + body

    # float32: ±1.0, 0.5, NaN->0, Inf->full-scale
    fdata = struct.pack("<6f", 1.0, -1.0, 0.5, 0.0, float("nan"), float("inf"))
    rate, s = decode_wav_samples(wav(3, 1, 8000, 32, fdata))
    assert rate == 8000
    assert s[:, 0].tolist() == [32767, -32767, 16384, 0, 0, 32767]
    # float64
    rate, s = decode_wav_samples(wav(3, 1, 16000, 64, struct.pack("<2d", -0.25, 1.0)))
    assert s[:, 0].tolist() == [-8192, 32767]
    # µ-law: Sun ulaw2linear reference points (16-bit scale): 0xFF and
    # 0x7F are the two zero codes, 0x80/0x00 are full-scale ±32124
    rate, s = decode_wav_samples(wav(7, 1, 8000, 8, bytes([0xFF, 0x7F, 0x80, 0x00])))
    assert s[:, 0].tolist() == [0, 0, 32124, -32124]
    # the stats stage consumes them like any PCM clip
    df = spark.createDataFrame(
        [(0, wav(3, 1, 8000, 32, fdata))], "id long, blob binary"
    )
    r = audio_pcm_stats(df, "blob", ["id"]).collect()[0]
    assert r["n_samples"] == 6 and r["s_max"] == 32767
    # RIFF form-type refinement in the JVM sniffer
    got = {
        r["id"]: r["f"]
        for r in spark.createDataFrame(
            [
                (0, wav(1, 1, 8000, 16, b"\x00\x00")),
                (1, b"RIFF\x04\x00\x00\x00WEBPVP8 "),
                (2, b"RIFF\x04\x00\x00\x00AVI LIST"),
                (3, b"RIFF\x04\x00\x00\x00XXXXdata"),
            ],
            "id long, blob binary",
        ).select("id", sniff_format("blob").alias("f")).collect()
    }
    assert got == {0: "wav", 1: "webp", 2: "avi", 3: "riff"}


def test_mp4_and_webp_headers_real(spark):
    """ISO-BMFF box walk (mvhd duration, tkhd 16.16 dims, moov-after-
    mdat streaming layout, 64-bit largesize tolerated) and WebP
    VP8/VP8L/VP8X dimension headers; sample_frames uses the REAL mp4
    duration when parseable."""
    from pydala2_spark.operators.multimodal import (
        parse_image_header,
        parse_mp4_header,
        parse_webp_header,
        sample_frames,
    )

    def box(typ, body):
        return (8 + len(body)).to_bytes(4, "big") + typ + body

    ftyp = box(b"ftyp", b"isom" + b"\x00" * 4 + b"isomiso2")
    mvhd = box(
        b"mvhd",
        bytes(4) + bytes(8) + (1000).to_bytes(4, "big") + (5500).to_bytes(4, "big") + bytes(80),
    )
    tkhd = box(
        b"tkhd",
        bytes(4) + bytes(12) + bytes(4) + bytes(4) + bytes(8) + bytes(8) + bytes(36)
        + (1920 << 16).to_bytes(4, "big") + (1080 << 16).to_bytes(4, "big"),
    )
    mp4 = ftyp + box(b"mdat", b"\x00" * 100) + box(b"moov", mvhd + box(b"trak", tkhd))
    assert parse_mp4_header(mp4) == (5500, 1920, 1080)
    # mvhd version 1 (64-bit duration), audio-only (no tkhd dims)
    mvhd1 = box(
        b"mvhd",
        bytes([1, 0, 0, 0]) + bytes(16) + (90000).to_bytes(4, "big")
        + (90000 * 7).to_bytes(8, "big") + bytes(80),
    )
    assert parse_mp4_header(ftyp + box(b"moov", mvhd1)) == (7000, None, None)
    assert parse_mp4_header(b"\x00" * 40) is None

    vp8 = (
        b"RIFF" + (30).to_bytes(4, "little") + b"WEBP" + b"VP8 "
        + (24).to_bytes(4, "little") + bytes(3) + b"\x9d\x01\x2a"
        + (320).to_bytes(2, "little") + (240).to_bytes(2, "little") + bytes(10)
    )
    assert parse_webp_header(vp8) == (320, 240, 3)
    assert parse_image_header(vp8) == (320, 240, 3)  # ladder routes webp
    bits = 99 | (49 << 14) | (1 << 28)
    vp8l = (
        b"RIFF" + (30).to_bytes(4, "little") + b"WEBP" + b"VP8L"
        + (20).to_bytes(4, "little") + b"\x2f" + bits.to_bytes(4, "little") + bytes(10)
    )
    assert parse_webp_header(vp8l) == (100, 50, 4)
    vp8x = (
        b"RIFF" + (30).to_bytes(4, "little") + b"WEBP" + b"VP8X"
        + (10).to_bytes(4, "little") + bytes([0x10]) + bytes(3)
        + (639).to_bytes(3, "little") + (479).to_bytes(3, "little") + bytes(6)
    )
    assert parse_webp_header(vp8x) == (640, 480, 4)

    # sample_frames: real mp4 duration drives the timestamps
    df = spark.createDataFrame(
        [(0, mp4), (1, b"not a video")], "id long, blob binary"
    )
    got = {}
    for r in sample_frames(df, "blob", ["id"], n_frames=4).collect():
        got.setdefault(r["id"], []).append((r["ts_ms"], r["decode_error"]))
    assert sorted(got[0]) == [(5500 * i // 4, None) for i in range(4)]
    # not a video: four frame rows, unknown timestamps, the reason named
    assert got[1] == [(None, "unrecognized video container")] * 4


def test_resize_emit_payload_handles_every_channel_count(spark):
    """Gray / gray+alpha / RGB / RGBA sources all re-encode (BMP wants
    3 channels: luma replicates, alpha drops) — a 2-channel PNG
    previously had no branch and would kill the Arrow task."""
    import numpy as np

    from pydala2_spark.operators.multimodal import (
        decode_image_pixels,
        encode_png,
        resize_images,
    )

    rng = np.random.default_rng(1)
    rows = [
        (nch, encode_png(rng.integers(0, 256, (20, 16, nch), dtype=np.uint8)))
        for nch in (1, 2, 3, 4)
    ]
    df = spark.createDataFrame(rows, "id long, blob binary")
    out = resize_images(df, "blob", ["id"], max_side=8, emit_payload=True).collect()
    assert len(out) == 4
    for r in out:
        small = decode_image_pixels(bytes(r["resized_payload"]))
        assert small.shape == (8, 7, 3), r["id"]  # 16x20 -> 7x8, aspect kept


def test_hostile_media_findings_round6_review():
    """Round-6 adversarial-review regressions: zero/overflowing header
    dims, PNM offset ambiguity, JPEG amplification, gray-JPEG
    sampling factors — every one must fall back or decode correctly,
    never crash a batch or fabricate pixels."""
    import struct

    import numpy as np

    from pydala2_spark.operators.jpeg import decode_jpeg_pixels, encode_jpeg
    from pydala2_spark.operators.multimodal import (
        _parse_pnm_header,
        parse_image_header,
    )

    # 0x0 GIF screen / 0-dim PNG IHDR / over-int32 PNG -> None (the
    # int32 Arrow columns and the resize divide-by-zero both need it)
    assert parse_image_header(b"GIF89a" + b"\x00" * 10) is None
    zero_png = _png_bytes(0, 0)
    assert parse_image_header(zero_png) is None
    big_png = _png_bytes(0x80000005, 7)
    assert parse_image_header(big_png) is None
    # JPEG SOF with h=0 (pre-DNL form) -> None, not a 0-height image
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof0 = b"\xff\xc0" + struct.pack(">HBHHB", 17, 8, 0, 64, 3)
    assert parse_image_header(b"\xff\xd8" + app0 + sof0) is None
    # PNM: non-whitespace byte after maxval = ambiguous data offset
    assert _parse_pnm_header(b"P6 5 5 255X" + b"\x00" * 75) is None
    assert _parse_pnm_header(b"P6 5 5 255\n" + b"\x00" * 75) is not None
    # JPEG amplification: tiny payload declaring 8000x8000 -> None fast
    bomb = bytearray(encode_jpeg(np.zeros((8, 8, 3), np.uint8)))
    i = bytes(bomb).find(b"\xff\xc0")
    bomb[i + 5 : i + 9] = struct.pack(">HH", 8000, 8000)
    assert decode_jpeg_pixels(bytes(bomb)) is None
    # gray JPEG declaring 2x2 sampling: single-component scans are
    # non-interleaved per T.81 A.2.2 — must decode IDENTICALLY to the
    # same stream declaring 1x1 (previously block-shuffled/desynced)
    gray = np.tile(np.linspace(0, 255, 16).astype(np.uint8), (32, 1))
    p = bytearray(encode_jpeg(gray, quality=95))
    i = bytes(p).find(b"\xff\xc0")
    ref = decode_jpeg_pixels(bytes(p))
    p[i + 11] = 0x22  # SOF component sampling byte
    patched = decode_jpeg_pixels(bytes(p))
    assert patched is not None and np.array_equal(patched, ref)


def test_scheme_registry_s3a_alias(tmp_path):
    """register_scheme_filesystem('s3a', fs) must not be silently
    ignored: lookups happen AFTER s3a->s3 normalization, so the
    registration key normalizes the same way."""
    import pyarrow.fs as pafs

    from pydala2_spark.plans.stats import (
        _pa_fs,
        register_scheme_filesystem,
        unregister_scheme_filesystem,
    )

    fs = pafs.SubTreeFileSystem(str(tmp_path), pafs.LocalFileSystem())
    register_scheme_filesystem("s3a", fs)
    try:
        got, inner = _pa_fs("s3a://bucket/key.parquet")
        assert got is fs and inner == "bucket/key.parquet"
        got2, _ = _pa_fs("s3://bucket/key.parquet")  # same registration
        assert got2 is fs
    finally:
        unregister_scheme_filesystem("s3a")


def test_jpeg_subsampled_roundtrip():
    """4:2:2 / 4:2:0 encoding (the layout nearly every real JPEG uses)
    round-trips through the decoder's chroma-upsample path natively:
    bounded error on smooth gradients, exact-ish on uniform color,
    restart markers + odd dimensions composable."""
    import numpy as np

    from pydala2_spark.operators.jpeg import decode_jpeg_pixels, encode_jpeg

    y, x = np.mgrid[0:40, 0:36]
    g = (x * 3 + y * 2).astype(np.uint8)
    arr = np.stack([g, g // 2 + 40, 255 - g], axis=2)
    for ss, bound in (("444", 3), ("422", 6), ("420", 8)):
        back = decode_jpeg_pixels(encode_jpeg(arr, quality=95, subsampling=ss))
        assert back.shape == arr.shape
        assert int(np.abs(back.astype(int) - arr.astype(int)).max()) <= bound, ss
    # uniform color: chroma is constant, so subsampling loses nothing
    flat = np.full((24, 40, 3), 0, np.uint8)
    flat[:] = (200, 30, 90)
    back = decode_jpeg_pixels(encode_jpeg(flat, quality=95, subsampling="420"))
    assert int(np.abs(back.astype(int) - flat.astype(int)).max()) <= 2
    # odd dims + restart markers compose with 4:2:0 MCUs
    odd = arr[:37, :33]
    back = decode_jpeg_pixels(
        encode_jpeg(odd, quality=92, subsampling="420", restart_interval=2)
    )
    assert back.shape == odd.shape
    assert int(np.abs(back.astype(int) - odd.astype(int)).max()) <= 10
    with pytest.raises(ValueError, match="subsampling"):
        encode_jpeg(arr, subsampling="411")


def _ima_adpcm_encode(samples, rate, block_samples=505):
    """In-test IMA ADPCM encoder (mono/stereo): the spec's quantizer
    state machine. Returns ``(wav_bytes, reconstruction)`` where the
    reconstruction is the encoder's own predictor track — the decoder
    must reproduce it EXACTLY (ADPCM is lossy vs the input, but
    decode(encode(x)) is deterministic)."""
    import numpy as np

    from pydala2_spark.operators.multimodal import _IMA_INDEX, _IMA_STEPS

    s = np.asarray(samples, dtype=np.int32)
    if s.ndim == 1:
        s = s[:, None]
    n, ch = s.shape
    spb = block_samples
    data_per_ch = (spb - 1) // 2  # nibble bytes per channel per block
    assert (spb - 1) % 8 == 0, "block must hold whole 4-byte groups"
    block_align = 4 * ch + data_per_ch * ch
    blocks = bytearray()
    recon = np.zeros_like(s)
    idxs = [0] * ch
    for b0 in range(0, n, spb):
        chunk = s[b0 : b0 + spb]
        if chunk.shape[0] < spb:  # pad the tail block
            chunk = np.vstack([chunk, np.repeat(chunk[-1:], spb - chunk.shape[0], 0)])
        preds = [int(chunk[0, c]) for c in range(ch)]
        for c in range(ch):
            blocks += int(preds[c]).to_bytes(2, "little", signed=True)
            blocks += bytes([idxs[c], 0])
            if b0 + 0 < n:
                recon[b0, c] = preds[c]
        nibs: list[list[int]] = [[] for _ in range(ch)]
        for k in range(1, spb):
            for c in range(ch):
                step = _IMA_STEPS[idxs[c]]
                diff = int(chunk[k, c]) - preds[c]
                nib = 8 if diff < 0 else 0
                diff = abs(diff)
                q = step >> 3
                if diff >= step:
                    nib |= 4
                    diff -= step
                    q += step
                if diff >= step >> 1:
                    nib |= 2
                    diff -= step >> 1
                    q += step >> 1
                if diff >= step >> 2:
                    nib |= 1
                    q += step >> 2
                preds[c] = preds[c] - q if nib & 8 else preds[c] + q
                preds[c] = max(-32768, min(32767, preds[c]))
                idxs[c] = max(0, min(88, idxs[c] + _IMA_INDEX[nib & 7]))
                nibs[c].append(nib)
                if b0 + k < n:
                    recon[b0 + k, c] = preds[c]
        # pack: 4-byte groups (8 nibbles, low first) rotating channels
        per_group = [
            [c_nibs[g : g + 8] for g in range(0, len(c_nibs), 8)] for c_nibs in nibs
        ]
        for g in range(len(per_group[0])):
            for c in range(ch):
                eight = per_group[c][g]
                for j in range(0, 8, 2):
                    blocks.append(eight[j] | (eight[j + 1] << 4))
    fmt = (
        (0x11).to_bytes(2, "little")
        + ch.to_bytes(2, "little")
        + rate.to_bytes(4, "little")
        + (rate * block_align // spb).to_bytes(4, "little")
        + block_align.to_bytes(2, "little")
        + (4).to_bytes(2, "little")
    )
    body = (
        b"WAVE"
        + b"fmt "
        + len(fmt).to_bytes(4, "little")
        + fmt
        + b"data"
        + len(blocks).to_bytes(4, "little")
        + bytes(blocks)
    )
    return b"RIFF" + len(body).to_bytes(4, "little") + body, recon


def test_wav_alaw_and_ima_adpcm_decode():
    """A-law expands per G.711 (0xD5 -> +8 silence, 0xAA -> +32256
    full scale); IMA ADPCM reproduces the encoder's predictor track
    BIT-EXACTLY (mono and stereo, multi-block), tracks a sine within
    quantizer error, and malformed blocks return None."""
    import struct

    import numpy as np

    from pydala2_spark.operators.multimodal import (
        decode_wav_samples,
        parse_wav_header,
    )

    def wav(fmt, ch, rate, bits, data, block_align=None):
        ba = block_align if block_align is not None else ch * bits // 8
        f = struct.pack("<HHIIHH", fmt, ch, rate, rate * ba, ba, bits)
        body = b"WAVE" + b"fmt " + struct.pack("<I", len(f)) + f
        body += b"data" + struct.pack("<I", len(data)) + data
        return b"RIFF" + struct.pack("<I", len(body)) + body

    # A-law G.711 reference points
    rate, s = decode_wav_samples(wav(6, 1, 8000, 8, bytes([0xD5, 0x55, 0xAA, 0x2A])))
    assert rate == 8000
    assert s[:, 0].tolist() == [8, -8, 32256, -32256]
    # IMA ADPCM: decode == the encoder's own reconstruction, exactly
    t = np.arange(2000)
    sine = (np.sin(2 * np.pi * 440 * t / 8000) * 12000).astype(np.int32)
    payload, recon = _ima_adpcm_encode(sine, 8000, block_samples=505)
    rate, got = decode_wav_samples(payload)
    assert rate == 8000
    assert got.shape[0] >= 2000
    assert np.array_equal(got[:2000, 0], recon[:, 0])
    # lossy-but-close: quantizer tracks the sine
    err = np.abs(got[:2000, 0].astype(float) - sine.astype(float))
    assert float(np.median(err)) < 500
    # stereo: channels decode independently and interleave by 4-byte groups
    stereo = np.stack([sine[:1000], -sine[:1000]], axis=1)
    payload, recon = _ima_adpcm_encode(stereo, 16000, block_samples=249)
    rate, got = decode_wav_samples(payload)
    assert rate == 16000 and got.shape[1] == 2
    assert np.array_equal(got[:1000], recon)
    # header parser agrees on duration for the block-structured format
    hdr = parse_wav_header(payload)
    assert hdr is not None and hdr[0] == 16000 and hdr[1] == 2
    # malformed: step index > 88, bad block_align
    bad = bytearray(payload)
    di = bytes(bad).find(b"data") + 8 + 2  # step-index byte of ch 0
    bad[di] = 99
    assert decode_wav_samples(bytes(bad)) is None
    assert decode_wav_samples(wav(0x11, 1, 8000, 4, b"\x00" * 32, block_align=13)) is None


def test_flac_and_mp3_header_parse():
    """REAL FLAC STREAMINFO and MPEG Layer III frame-header metadata:
    hand-packed headers with known parameters, hostile truncations,
    and the combined parse_audio_header ladder dispatch."""
    from pydala2_spark.operators.multimodal import (
        parse_audio_header,
        parse_flac_header,
        parse_mp3_header,
    )

    # FLAC: rate 44100, stereo, 441000 samples (10 s)
    packed = (44100 << 44) | ((2 - 1) << 41) | ((16 - 1) << 36) | 441000
    streaminfo = bytes(10) + packed.to_bytes(8, "big") + bytes(16)
    flac = b"fLaC" + bytes([0x80]) + len(streaminfo).to_bytes(3, "big") + streaminfo
    assert parse_flac_header(flac) == (44100, 2, 10000)
    assert parse_audio_header(flac) == (44100, 2, 10000)
    # unknown total samples -> duration 0, never fabricated
    packed0 = (48000 << 44) | (0 << 41) | (23 << 36)
    si0 = bytes(10) + packed0.to_bytes(8, "big") + bytes(16)
    flac0 = b"fLaC" + bytes([0x00]) + len(si0).to_bytes(3, "big") + si0
    assert parse_flac_header(flac0) == (48000, 1, 0)
    # first block not STREAMINFO / truncated / zero rate -> None
    assert parse_flac_header(b"fLaC" + bytes([0x84]) + bytes(40)) is None
    assert parse_flac_header(flac[:12]) is None
    bad_rate = bytes(10) + (0).to_bytes(8, "big") + bytes(16)
    assert (
        parse_flac_header(b"fLaC\x00" + len(bad_rate).to_bytes(3, "big") + bad_rate)
        is None
    )

    # MP3: MPEG1 Layer III, 128 kbps, 44100 Hz, joint stereo; 4000
    # payload bytes at 128 kbps -> 250 ms
    hdr = bytes([0xFF, 0xFB, 0x90, 0x40])
    mp3 = hdr + bytes(3996)
    assert parse_mp3_header(mp3) == (44100, 2, 250)
    # mono mode bits
    assert parse_mp3_header(bytes([0xFF, 0xFB, 0x90, 0xC0]) + bytes(3996))[1] == 1
    # MPEG2 table: bitrate idx 9 -> 80 kbps, rate idx 0 -> 22050
    assert parse_mp3_header(bytes([0xFF, 0xF3, 0x90, 0x40]) + bytes(996))[0] == 22050
    # ID3v2 tag skipped (synchsafe size 100)
    tagged = b"ID3\x04\x00\x00\x00\x00\x00\x64" + bytes(100) + mp3
    assert parse_mp3_header(tagged) == (44100, 2, 250)
    assert parse_audio_header(tagged) == (44100, 2, 250)
    # free-format (idx 0) / bad (15) / reserved rate or version -> None
    assert parse_mp3_header(bytes([0xFF, 0xFB, 0x00, 0x40]) + bytes(64)) is None
    assert parse_mp3_header(bytes([0xFF, 0xFB, 0xF0, 0x40]) + bytes(64)) is None
    assert parse_mp3_header(bytes([0xFF, 0xFB, 0x9C, 0x40]) + bytes(64)) is None
    assert parse_mp3_header(bytes([0xFF, 0xEB, 0x90, 0x40]) + bytes(64)) is None
    # Layer I/II out of scope -> None
    assert parse_mp3_header(bytes([0xFF, 0xFD, 0x90, 0x40]) + bytes(64)) is None
    # totality over random bytes
    import random

    rng = random.Random(17)
    for _ in range(200):
        blob = bytes(rng.getrandbits(8) for _ in range(rng.randrange(0, 64)))
        parse_flac_header(blob)
        parse_mp3_header(blob)
        parse_audio_header(blob)


def test_sniff_format_flac_mp3(spark):
    from pydala2_spark.operators.multimodal import sniff_format

    rows = [
        (b"fLaC\x00\x00\x00\x22" + bytes(40), "flac"),
        (b"ID3\x04\x00\x00\x00\x00\x00\x10" + bytes(64), "mp3"),
        (bytes([0xFF, 0xFB, 0x90, 0x40]) + bytes(64), "mp3"),
        (bytes([0xFF, 0xF3, 0x90, 0x40]) + bytes(64), "mp3"),
    ]
    df = spark.createDataFrame([(p,) for p, _ in rows], "payload binary")
    got = [r["fmt"] for r in df.select(sniff_format("payload").alias("fmt")).collect()]
    assert got == [want for _, want in rows]


def test_gif_animation_roundtrip_composition_and_disposal():
    """Animated GIF: full-frame round-trip with per-frame delays;
    patch composition (disposal 1), restore-background (2), restore-
    previous (3), transparency holes; hostile truncation → None."""
    import numpy as np

    from pydala2_spark.operators.multimodal import (
        decode_gif_frames,
        decode_gif_pixels,
        encode_gif,
        encode_gif_animation,
    )

    rng = np.random.default_rng(7)
    frames = [rng.integers(0, 6, size=(9, 7, 3)).astype(np.uint8) * 40 for _ in range(4)]
    pay = encode_gif_animation(frames, delays_cs=[2, 3, 4, 5])
    got, delays = decode_gif_frames(pay)
    assert delays == [20, 30, 40, 50]
    assert all(np.array_equal(a, b) for a, b in zip(frames, got))

    # patch composition onto the kept canvas
    base = np.zeros((8, 8, 3), np.uint8)
    patch = np.full((3, 3, 3), 200, np.uint8)
    pay = encode_gif_animation([base, patch], offsets=[(0, 0), (2, 4)])
    got, _ = decode_gif_frames(pay)
    exp = base.copy()
    exp[4:7, 2:5] = 200
    assert np.array_equal(got[1], exp)

    # transparency: the transparent color leaves the canvas showing
    base = np.full((6, 6, 3), 10, np.uint8)
    patch = np.full((2, 2, 3), 99, np.uint8)
    patch[0, 0] = (1, 2, 3)
    pay = encode_gif_animation(
        [base, patch], offsets=[(0, 0), (1, 1)], transparent_color=(1, 2, 3)
    )
    got, _ = decode_gif_frames(pay)
    exp = base.copy()
    exp[1:3, 1:3] = 99
    exp[1, 1] = 10
    assert np.array_equal(got[1], exp)

    # disposal 2: frame rect restores to the background color after
    f0 = np.full((5, 5, 3), 7, np.uint8)
    p1 = np.full((2, 2, 3), 50, np.uint8)
    p2 = np.full((1, 1, 3), 90, np.uint8)
    pay = encode_gif_animation(
        [f0, p1, p2], offsets=[(0, 0), (0, 0), (3, 3)], disposals=[1, 2, 1]
    )
    got, _ = decode_gif_frames(pay)
    bg = got[0][0, 0]  # background = global palette entry 0
    exp2 = f0.copy()
    exp2[0:2, 0:2] = bg
    exp2[3, 3] = 90
    assert np.array_equal(got[2], exp2)

    # disposal 3: previous canvas restored before the next frame
    pay = encode_gif_animation(
        [f0, p1, p2], offsets=[(0, 0), (0, 0), (3, 3)], disposals=[1, 3, 1]
    )
    got, _ = decode_gif_frames(pay)
    exp3 = f0.copy()
    exp3[3, 3] = 90
    assert np.array_equal(got[2], exp3)

    # agreement with the single-frame decoder; hostile inputs total
    a = rng.integers(0, 5, size=(6, 6, 3)).astype(np.uint8) * 50
    single = encode_gif(a)
    assert np.array_equal(decode_gif_frames(single)[0][0], decode_gif_pixels(single))
    assert decode_gif_frames(pay[:20]) is None
    assert decode_gif_frames(b"GIF89a" + b"\x01" * 30) is None


def test_gif_frame_stats_real_timeline(spark):
    """gif_frame_stats emits one row per decoded frame with the true
    cumulative-delay timestamp; even sampling picks j*total//n; non-GIF
    payloads emit nothing."""
    import numpy as np

    from pydala2_spark.operators.multimodal import (
        encode_gif_animation,
        gif_frame_stats,
    )

    frames = [np.full((4, 4, 3), 30 * i, np.uint8) for i in range(5)]
    pay = encode_gif_animation(frames, delays_cs=[1, 2, 3, 4, 5])
    df = spark.createDataFrame(
        [(1, bytearray(pay)), (2, bytearray(b"not a gif"))],
        "id long, blob binary",
    )
    rows = {
        (r["id"], r["frame_index"]): (r["ts_ms"], r["px_sum"])
        for r in gif_frame_stats(df, "blob", ["id"]).collect()
    }
    assert set(k[0] for k in rows) == {1}
    assert [rows[(1, i)][0] for i in range(5)] == [0, 10, 30, 60, 100]
    assert rows[(1, 2)][1] == 4 * 4 * 3 * 60

    sampled = gif_frame_stats(df, "blob", ["id"], n_frames=2).collect()
    assert sorted(r["frame_index"] for r in sampled) == [0, 2]  # j*5//2


def test_streaming_sample_sketch_multibatch_equals_batch(spark, sf_dir, tmp_path):
    """The order-independence punchline, exercised across REAL
    micro-batch boundaries: events split into 3 landing files drained
    one file per trigger must leave EXACTLY the batch sketch in state
    (same hashes, same keys, same values), because a bottom-k is a
    pure function of the row set. Also pins the multi-snapshot
    reduction: update mode emits one state snapshot per group per
    touching batch, and sample_sketch_rows must keep only the last."""
    from pydala2_spark.functions.sketch import sample_bottom_k_grouped
    from pydala2_spark.sources.testdata import read_table
    from pydala2_spark.streaming.pipeline import (
        read_event_stream,
        run_to_memory,
        sample_sketch_rows,
        sample_sketch_stream,
    )

    batch_events = read_table(spark, sf_dir, "events")
    d = tmp_path / "landing3"
    batch_events.repartition(3).write.parquet(str(d))

    stream = read_event_stream(spark, str(d), max_files_per_trigger=1)
    sk = sample_sketch_stream(stream, "event_type", "event_id", "value", k=16)
    drained = run_to_memory(
        sk, "t_kmvq", str(tmp_path / "ckpt_kmvq"), state_partitions=2
    )
    # multi-batch really happened: some group has >1 snapshot row
    per_group = drained.groupBy("event_type").count().collect()
    assert max(r["count"] for r in per_group) > 1

    got = sorted(
        (r["event_type"], r["h"], r["__key"], r["__val"])
        for r in sample_sketch_rows(drained, "event_type").collect()
    )
    want = sorted(
        (r["event_type"], r["h"], r["__key"], float(r["__val"]))
        for r in sample_bottom_k_grouped(
            batch_events, "event_type", "event_id", "value", k=16
        ).collect()
    )
    assert got == want


def test_parse_exif_both_orders_and_hostile():
    """EXIF walk: orientation/resunit from IFD0 and ISO from the
    0x8769 sub-IFD in both byte orders; no-APP1 JPEGs and truncated
    payloads return None; out-of-range orientation normalizes to 1."""
    from pydala2_spark.operators.multimodal import parse_exif

    def blob(orientation, resunit, iso, bo):
        head = b"II*\x00" if bo == "little" else b"MM\x00*"

        def ent(tag, typ, count, val, four=False):
            v = val.to_bytes(4, bo) if four else val.to_bytes(2, bo) + b"\x00\x00"
            return tag.to_bytes(2, bo) + typ.to_bytes(2, bo) + count.to_bytes(4, bo) + v

        ifd0 = (
            (3).to_bytes(2, bo)
            + ent(0x0112, 3, 1, orientation)
            + ent(0x0128, 3, 1, resunit)
            + ent(0x8769, 4, 1, 50, four=True)
            + (0).to_bytes(4, bo)
        )
        sub = (1).to_bytes(2, bo) + ent(0x8827, 3, 1, iso) + (0).to_bytes(4, bo)
        tiff = head + (8).to_bytes(4, bo) + ifd0 + sub
        body = b"Exif\x00\x00" + tiff
        return (
            b"\xff\xd8"
            + b"\xff\xe1"
            + (len(body) + 2).to_bytes(2, "big")
            + body
            + b"\xff\xd9"
        )

    for bo in ("little", "big"):
        assert parse_exif(blob(6, 2, 400, bo)) == (6, 2, 400), bo
    assert parse_exif(blob(99, 2, 400, "little"))[0] == 1  # normalize
    assert parse_exif(b"\xff\xd8\xff\xd9") is None          # no APP1
    assert parse_exif(b"\x89PNG\r\n\x1a\n") is None          # not JPEG
    b = blob(3, 1, 200, "big")
    for cut in (3, 7, 15, len(b) - 3):
        parse_exif(b[:cut])  # must not raise


def test_streaming_cusum_multibatch_matches_bruteforce(spark, sf_dir, tmp_path):
    """Day-range-split landing files drained one per trigger — and
    the file source is free to deliver them in ANY order (observed:
    newest-first): the order-free day-count state must still land on
    a plain Python computation over the daily counts exactly."""
    from pyspark.sql import functions as F

    from pydala2_spark.sources.testdata import read_table
    from pydala2_spark.streaming.pipeline import (
        cusum_volume_stream,
        read_event_stream,
        run_to_memory,
    )

    ev = read_table(spark, sf_dir, "events")
    # three files, split by day RANGE; arrival order is NOT assumed
    d = tmp_path / "cusum_landing"
    d.mkdir()
    days = sorted(r["d"] for r in ev.select(F.to_date("ts").alias("d")).distinct().collect())
    cuts = [days[len(days) // 3], days[2 * len(days) // 3]]
    ev.filter(F.to_date("ts") < F.lit(cuts[0])).coalesce(1).write.parquet(str(d / "f0"))
    ev.filter((F.to_date("ts") >= F.lit(cuts[0])) & (F.to_date("ts") < F.lit(cuts[1]))).coalesce(1).write.parquet(str(d / "f1"))
    ev.filter(F.to_date("ts") >= F.lit(cuts[1])).coalesce(1).write.parquet(str(d / "f2"))
    import glob
    import shutil

    for i, f in enumerate(sorted(glob.glob(str(d / "f*" / "*.parquet")))):
        shutil.copy(f, d / f"part-{i}.parquet")
    for sub in ("f0", "f1", "f2"):
        shutil.rmtree(d / sub)

    mu_k_h = {}
    daily = {}
    for r in ev.groupBy("event_type", F.to_date("ts").alias("day")).count().collect():
        daily.setdefault(r["event_type"], {})[r["day"]] = r["count"]
    for g, m in daily.items():
        mu = int(sum(m.values()) / len(m))
        mu_k_h[g] = (mu, max(1, mu // 10), mu)

    params = spark.createDataFrame(
        [(g, *v) for g, v in mu_k_h.items()],
        "event_type string, mu long, k long, h long",
    )
    stream = read_event_stream(spark, str(d), max_files_per_trigger=1)
    drained = run_to_memory(
        cusum_volume_stream(stream, params),
        "t_cusum",
        str(tmp_path / "ck_cusum"),
        state_partitions=2,
    )
    assert drained.groupBy("event_type").count().agg(F.max("count")).first()[0] > 1
    last = {
        r["event_type"]: r.asDict()
        for r in drained.orderBy("n_seen")
        .groupBy("event_type")
        .agg(
            F.max_by(
                F.struct("n_days", "g_final", "max_g", "n_above"), "n_seen"
            ).alias("s")
        )
        .select("event_type", "s.*")
        .collect()
    }
    for g, m in daily.items():
        mu, k, h = mu_k_h[g]
        s = mins = 0
        max_g = n_above = 0
        for day in sorted(m):
            s += m[day] - mu - k
            mins = min(mins, s)
            gv = s - min(0, mins)
            max_g = max(max_g, gv)
            n_above += 1 if gv > h else 0
        r = last[g]
        assert r["n_days"] == len(m) and r["g_final"] == s - min(0, mins)
        assert r["max_g"] == max_g and r["n_above"] == n_above, g


def test_streaming_topk_multibatch_order_free(spark, sf_dir, tmp_path):
    """Top-k state is a pure function of the row set: a 3-file RANDOM
    split (no day ordering at all) drained one file per trigger must
    equal the batch top-k exactly, ids, ranks and values."""
    from pyspark.sql import functions as F

    from pydala2_spark.sources.testdata import read_table
    from pydala2_spark.streaming.pipeline import (
        read_event_stream,
        run_to_memory,
        topk_stream,
    )

    ev = read_table(spark, sf_dir, "events")
    d = tmp_path / "topk_landing"
    ev.repartition(3).write.parquet(str(d))
    stream = read_event_stream(spark, str(d), max_files_per_trigger=1)
    drained = run_to_memory(
        topk_stream(stream, k=4),
        "t_topk",
        str(tmp_path / "ck_topk"),
        state_partitions=2,
    )
    assert drained.groupBy("event_type").count().agg(F.max("count")).first()[0] > 1
    last = {
        r["event_type"]: (list(r["s"]["ids"]), list(r["s"]["vals"]))
        for r in drained.groupBy("event_type")
        .agg(F.max_by(F.struct("ids", "vals"), "n_seen").alias("s"))
        .collect()
    }
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy(
        F.desc("value"), F.asc("event_id")
    )
    want = {}
    for r in (
        ev.withColumn("rn", F.row_number().over(w)).filter("rn <= 4").collect()
    ):
        want.setdefault(r["event_type"], ([], []))
        want[r["event_type"]][0].append(r["event_id"])
        want[r["event_type"]][1].append(r["value"])
    assert last == want


def test_stream_stream_interval_join_matches_batch(spark, sf_dir, landing_dir, tmp_path):
    from pydala2_spark.streaming.pipeline import (
        interval_join_streams,
        read_event_stream,
        run_to_memory,
    )

    ev = read_event_stream(spark, landing_dir)
    clicks = ev.filter("event_type = 'click'").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("c_ts"),
    )
    purchases = ev.filter("event_type = 'purchase'").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
    )
    joined = interval_join_streams(
        clicks, purchases, key="user_id", left_ts="c_ts",
        right_ts="p_ts", upper="30 minutes",
    ).select("click_id", "purchase_id", "user_id")
    got = sorted(
        tuple(r)
        for r in run_to_memory(
            joined, "ssj_test", str(tmp_path / "ck"), state_partitions=2,
            output_mode="append",
        ).collect()
    )
    # batch reference: identical interval join on the static frame
    bev = spark.read.parquet(landing_dir)
    c = bev.filter("event_type = 'click'").select(
        F.col("event_id").alias("click_id"), "user_id",
        F.col("ts").alias("c_ts"),
    )
    p = bev.filter("event_type = 'purchase'").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("u2"),
        F.col("ts").alias("p_ts"),
    )
    want = sorted(
        tuple(r)
        for r in c.join(
            p,
            (F.col("user_id") == F.col("u2"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
        )
        .select("click_id", "purchase_id", "user_id")
        .collect()
    )
    assert got == want and len(got) > 0
