"""Multimodal plumbing: Arrow binary transfer through mapInPandas,
decode stub gating, frame-sample fan-out."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cascading_hive_spark.operators import multimodal as M
from cascading_hive_spark.tables import load_table


@pytest.fixture(scope="module")
def media(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return M.attach_binary(docs, "doc_id", "text").cache()


def test_attach_binary_schema(media):
    assert [f.name for f in media.schema.fields] == ["id", "payload", "meta"]
    assert media.schema["payload"].dataType.simpleString() == "binary"
    assert media.schema["meta"].dataType.simpleString() == "struct<mime:string,n_bytes:int>"


def test_extract_meta_roundtrip(spark, media, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    out = M.extract_meta(media)
    joined = out.join(docs, out.id == docs.doc_id).select(
        "id", "n_bytes", "first_byte", F.length("text").alias("expected_len")
    )
    bad = joined.filter(F.col("n_bytes") != F.col("expected_len")).count()
    assert bad == 0
    row = out.filter(F.col("id") == 0).collect()[0]
    text0 = docs.filter(F.col("doc_id") == 0).collect()[0].text
    assert row.first_byte == ord(text0[0])
    assert row.checksum == (len(text0.encode()) * 2654435761 + ord(text0[0])) % (1 << 31)


def test_decode_image_works_without_pil(media):
    # decode_image is a real header parser now (r6) — no codec
    # libraries required; text payloads surface as unknown, not errors
    out = M.decode_image(media).limit(5).collect()
    assert all(r.format == "unknown" and r.width is None for r in out)


def test_frame_sample_offsets(media):
    out = M.frame_sample(media, every_n_bytes=64)
    r = out.filter(F.col("id") == 0).collect()
    offsets = sorted(x.offset for x in r)
    assert offsets[0] == 0
    assert all(o % 64 == 0 for o in offsets)


def test_resize_payload_binary_roundtrip(spark, media, sf_dir):
    out = M.resize_payload(media, factor=4)
    docs = load_table(spark, sf_dir, "documents")
    row = out.filter(F.col("id") == 0).collect()[0]
    text0 = docs.filter(F.col("doc_id") == 0).collect()[0].text.encode()
    assert bytes(row.payload) == text0[::4]  # binary OUT of Arrow intact
    assert row.orig_bytes == len(text0)
    # schema carries a true binary column
    assert dict((f.name, f.dataType.simpleString()) for f in out.schema.fields)["payload"] == "binary"


def test_partition_by_content_prefix_spreads_skewed_blobs(spark, media):
    """A deliberately single-partition clustered input must spread
    across buckets: many non-empty output partitions, no partition
    holding a skewed share, deterministic bucket per content."""
    clustered = media.coalesce(1)
    out = M.partition_by_content_prefix(clustered, n_buckets=16)
    sizes = (
        out.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
        .collect()
    )
    n_rows = sum(r["count"] for r in sizes)
    assert len(sizes) >= 8  # spread well beyond the 1 input partition
    assert max(r["count"] for r in sizes) <= 0.3 * n_rows  # no skewed task
    # hash partitioning reached the plan (not round-robin)
    assert "hashpartitioning" in out._jdf.queryExecution().executedPlan().toString()
    # deterministic: same content -> same bucket across two runs
    a = {(r.id, r.bucket) for r in out.select("id", "bucket").collect()}
    b = {
        (r.id, r.bucket)
        for r in M.partition_by_content_prefix(clustered, n_buckets=16)
        .select("id", "bucket")
        .collect()
    }
    assert a == b


def _png(w, h):
    return (
        b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\x0dIHDR"
        + w.to_bytes(4, "big") + h.to_bytes(4, "big") + b"\x08\x06\x00\x00\x00"
    )


def _jpeg(w, h, pad_segments=0):
    b = b"\xff\xd8"
    for _ in range(pad_segments):  # APP0-style segments before the SOF
        b += b"\xff\xe0\x00\x04\x00\x00"
    return b + b"\xff\xc0\x00\x0b\x08" + h.to_bytes(2, "big") + w.to_bytes(2, "big") + b"\x01\x01\x11\x00"


def _gif(w, h):
    return b"GIF89a" + w.to_bytes(2, "little") + h.to_bytes(2, "little")


def test_parse_image_dims_pure_python():
    from cascading_hive_spark.operators.multimodal import parse_image_dims

    assert parse_image_dims(_png(640, 480)) == ("png", 640, 480)
    assert parse_image_dims(_jpeg(123, 77)) == ("jpeg", 123, 77)
    assert parse_image_dims(_jpeg(123, 77, pad_segments=3)) == ("jpeg", 123, 77)
    assert parse_image_dims(_gif(19, 7)) == ("gif", 19, 7)
    # progressive JPEG (SOF2) and fill bytes
    prog = b"\xff\xd8\xff\xff\xff\xc2\x00\x0b\x08" + (9).to_bytes(2, "big") + (4).to_bytes(2, "big") + b"\x01\x01\x11\x00"
    assert parse_image_dims(prog) == ("jpeg", 4, 9)
    # corrupt / truncated payloads degrade, never raise
    assert parse_image_dims(b"") == ("unknown", None, None)
    assert parse_image_dims(b"\x89PNG\r\n\x1a\x00 not a png") == ("unknown", None, None)
    assert parse_image_dims(b"\xff\xd8\x00\x00") == ("jpeg", None, None)
    assert parse_image_dims(b"\xff\xd8\xff\xd9") == ("jpeg", None, None)
    assert parse_image_dims(_png(640, 480)[:20]) == ("unknown", None, None)


def test_decode_image_roundtrip(spark):
    from cascading_hive_spark.operators.multimodal import decode_image

    rows = [
        (1, _png(640, 480)),
        (2, _jpeg(1024, 768)),
        (3, _gif(32, 16)),
        (4, b"not an image at all"),
    ]
    df = spark.createDataFrame(rows, "id long, payload binary")
    got = {r.id: (r.format, r.width, r.height) for r in decode_image(df).collect()}
    assert got[1] == ("png", 640, 480)
    assert got[2] == ("jpeg", 1024, 768)
    assert got[3] == ("gif", 32, 16)
    assert got[4] == ("unknown", None, None)


def test_synth_image_payload_parses_back(spark):
    """The JVM-side header builder and the Python parser agree on
    every format branch and on boundary dims (1x1, 640x480, >255)."""
    from pyspark.sql import functions as F

    from cascading_hive_spark.operators.multimodal import (
        parse_image_dims,
        synth_image_payload,
    )

    df = spark.createDataFrame(
        [(i, w, h) for i, (w, h) in enumerate([(1, 1), (640, 480), (300, 257), (65535, 1)])],
        "id long, w int, h int",
    )
    for fmt_code, fmt in ((0, "png"), (1, "jpeg"), (2, "gif")):
        out = df.select(
            "id", "w", "h",
            synth_image_payload(F.col("w"), F.col("h"), F.lit(fmt_code)).alias("p"),
        ).collect()
        for r in out:
            assert parse_image_dims(bytes(r.p)) == (fmt, r.w, r.h), (fmt, r.w, r.h)


# --- WAV header parsing (pure Python, no Spark needed) --------------
def _wav(channels=2, rate=44100, bits=16, n_samples=1000, extra_chunk=False,
         data_first=False, with_body=True):
    import struct

    block = channels * bits // 8
    data_size = n_samples * block
    fmt = b"fmt " + struct.pack("<I", 16) + struct.pack(
        "<HHIIHH", 1, channels, rate, rate * block, block, bits
    )
    body = b"\x00" * data_size if with_body else b""
    data = b"data" + struct.pack("<I", data_size) + body
    junk = b"LIST" + struct.pack("<I", 5) + b"junk!" + b"\x00"  # odd size + pad
    chunks = (data + fmt) if data_first else (fmt + (junk if extra_chunk else b"") + data)
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_parse_wav_meta_well_formed():
    from cascading_hive_spark.operators.multimodal import parse_wav_meta

    assert parse_wav_meta(_wav()) == (2, 44100, 16, 1000)
    assert parse_wav_meta(_wav(1, 8000, 8, 37)) == (1, 8000, 8, 37)


def test_parse_wav_meta_chunk_order_and_padding():
    from cascading_hive_spark.operators.multimodal import parse_wav_meta

    # unknown odd-sized chunk between fmt and data (word-align skip)
    assert parse_wav_meta(_wav(extra_chunk=True)) == (2, 44100, 16, 1000)
    # data before fmt: both must still be found
    assert parse_wav_meta(_wav(data_first=True)) == (2, 44100, 16, 1000)


def test_parse_wav_meta_corrupt_returns_nulls():
    from cascading_hive_spark.operators.multimodal import parse_wav_meta

    assert parse_wav_meta(b"") == (None, None, None, None)
    assert parse_wav_meta(b"RIFF\x00\x00\x00\x00AVI ") == (None, None, None, None)
    assert parse_wav_meta(b"RIFF\x04\x00\x00\x00WAVE") == (None, None, None, None)


def test_decode_audio_roundtrip_through_arrow(spark):
    from pyspark.sql import functions as F

    from cascading_hive_spark.operators.multimodal import (
        decode_audio,
        synth_wav_payload,
    )

    df = spark.range(0, 50).select(
        F.col("id"),
        synth_wav_payload(
            (F.pmod("id", F.lit(2)) + 1).cast("int"),
            F.lit(16000),
            F.lit(16),
            F.col("id") + 1,
        ).alias("payload"),
    )
    rows = {r.id: r for r in decode_audio(df).collect()}
    assert rows[0].n_channels == 1 and rows[1].n_channels == 2
    assert all(r.sample_rate == 16000 for r in rows.values())
    assert rows[7].n_samples == 8


# --- MP4/ISO-BMFF box walk (pure Python, no Spark needed) -----------
def _box(tag: bytes, body: bytes, largesize=False, size_zero=False) -> bytes:
    import struct

    if largesize:
        return struct.pack(">I", 1) + tag + struct.pack(">Q", 16 + len(body)) + body
    if size_zero:
        return struct.pack(">I", 0) + tag + body
    return struct.pack(">I", 8 + len(body)) + tag + body


def _mvhd(timescale=600, duration=6000, version=0) -> bytes:
    import struct

    if version == 1:
        body = (
            bytes([1, 0, 0, 0])
            + struct.pack(">QQIQ", 0, 0, timescale, duration)
            + b"\x00" * 80
        )
    else:
        body = (
            bytes([0, 0, 0, 0])
            + struct.pack(">IIII", 0, 0, timescale, duration)
            + b"\x00" * 80
        )
    return _box(b"mvhd", body)


def _mp4(timescale=600, duration=6000, n_tracks=1, version=0, **moov_kw) -> bytes:
    ftyp = _box(b"ftyp", b"isom" + b"\x00" * 4)
    moov = _box(
        b"moov",
        _mvhd(timescale, duration, version) + _box(b"trak", b"") * n_tracks,
        **moov_kw,
    )
    return ftyp + moov


def test_parse_mp4_meta_well_formed():
    from cascading_hive_spark.operators.multimodal import parse_mp4_meta

    assert parse_mp4_meta(_mp4()) == ("isom", 600, 6000, 1)
    assert parse_mp4_meta(_mp4(90000, 123456789, 3)) == ("isom", 90000, 123456789, 3)
    assert parse_mp4_meta(_mp4(n_tracks=0)) == ("isom", 600, 6000, 0)


def test_parse_mp4_meta_version1_and_size_encodings():
    from cascading_hive_spark.operators.multimodal import parse_mp4_meta

    # version-1 mvhd: 64-bit times
    assert parse_mp4_meta(_mp4(1000, 2**33, version=1)) == ("isom", 1000, 2**33, 1)
    # moov carried in a 64-bit largesize box
    assert parse_mp4_meta(_mp4(largesize=True)) == ("isom", 600, 6000, 1)
    # moov with size==0 (extends to end of file)
    assert parse_mp4_meta(_mp4(size_zero=True)) == ("isom", 600, 6000, 1)
    # unknown sibling boxes before/inside moov are skipped
    ftyp = _box(b"ftyp", b"mp42" + b"\x00" * 4)
    moov = _box(b"moov", _box(b"junk", b"x" * 9) + _mvhd() + _box(b"trak", b""))
    assert parse_mp4_meta(_box(b"free", b"") + ftyp + moov) == ("mp42", 600, 6000, 1)


def test_parse_mp4_meta_corrupt_returns_nulls():
    from cascading_hive_spark.operators.multimodal import parse_mp4_meta

    assert parse_mp4_meta(b"") == (None, None, None, None)
    assert parse_mp4_meta(b"\x00\x00\x00\x08ftyp") == (None, None, None, None)  # short ftyp, no moov
    # declared size overruns the buffer -> walk stops, no moov seen
    assert parse_mp4_meta(b"\x00\x00\xff\xffmoovxxxx") == (None, None, None, None)
    # size < 8 is structurally invalid
    assert parse_mp4_meta(b"\x00\x00\x00\x03ftypisom") == (None, None, None, None)
    # well-formed ftyp but truncated mvhd body -> timescale/duration NULL... 
    ftyp = _box(b"ftyp", b"isom" + b"\x00" * 4)
    short_mvhd = _box(b"mvhd", bytes([0, 0, 0, 0]) + b"\x00" * 4)
    got = parse_mp4_meta(ftyp + _box(b"moov", short_mvhd))
    assert got == ("isom", None, None, 0)
    # WAV bytes are not an MP4
    assert parse_mp4_meta(_wav()) == (None, None, None, None)


def test_decode_video_roundtrip_through_arrow(spark):
    from pyspark.sql import functions as F

    from cascading_hive_spark.operators.multimodal import (
        decode_video,
        synth_mp4_payload,
    )

    df = spark.range(0, 60).select(
        F.col("id"),
        synth_mp4_payload(
            F.lit(600), (F.col("id") + 1) * 100, F.pmod("id", F.lit(4))
        ).alias("payload"),
    )
    rows = {r.id: r for r in decode_video(df).collect()}
    assert all(r.major_brand == "isom" for r in rows.values())
    assert all(r.timescale == 600 for r in rows.values())
    assert rows[5].duration == 600 and rows[5].duration_ms == 1000
    assert rows[7].n_tracks == 3 and rows[8].n_tracks == 0
    # JVM-built bytes parse back identically in pure Python
    from cascading_hive_spark.operators.multimodal import parse_mp4_meta

    one = df.filter(F.col("id") == 9).collect()[0]
    assert parse_mp4_meta(bytes(one.payload)) == ("isom", 600, 1000, 1)


# --- stts frame-timing walk (pure Python + Arrow round-trip) --------
def _stts(runs) -> bytes:
    import struct

    body = bytes([0, 0, 0, 0]) + struct.pack(">I", len(runs))
    for c, d in runs:
        body += struct.pack(">II", c, d)
    return _box(b"stts", body)


def _video_mp4(timescale=600, runs=((3, 100),), mdhd_version=0) -> bytes:
    import struct

    if mdhd_version == 1:
        mdhd = _box(
            b"mdhd",
            bytes([1, 0, 0, 0]) + struct.pack(">QQIQ", 0, 0, timescale, 0) + b"\x00" * 4,
        )
    else:
        mdhd = _box(
            b"mdhd",
            bytes([0, 0, 0, 0]) + struct.pack(">IIII", 0, 0, timescale, 0) + b"\x00" * 4,
        )
    stbl = _box(b"stbl", _stts(runs))
    minf = _box(b"minf", stbl)
    mdia = _box(b"mdia", mdhd + minf)
    trak = _box(b"trak", mdia)
    ftyp = _box(b"ftyp", b"isom" + b"\x00" * 4)
    return ftyp + _box(b"moov", _mvhd() + trak)


def test_parse_mp4_frame_runs_well_formed_and_v1():
    from cascading_hive_spark.operators.multimodal import parse_mp4_frame_runs

    assert parse_mp4_frame_runs(_video_mp4()) == (600, [(3, 100)])
    assert parse_mp4_frame_runs(
        _video_mp4(90000, ((24, 3750), (1, 7500)))
    ) == (90000, [(24, 3750), (1, 7500)])
    assert parse_mp4_frame_runs(_video_mp4(1000, mdhd_version=1)) == (
        1000,
        [(3, 100)],
    )


def test_parse_mp4_frame_runs_corrupt_and_absent():
    import struct

    from cascading_hive_spark.operators.multimodal import parse_mp4_frame_runs

    # metadata-only MP4 (no trak timing chain) -> no runs
    assert parse_mp4_frame_runs(_mp4()) == (None, None)
    assert parse_mp4_frame_runs(b"") == (None, None)
    assert parse_mp4_frame_runs(_wav()) == (None, None)
    # stts declaring more entries than its box holds -> malformed
    bad_stts = _box(
        b"stts", bytes([0, 0, 0, 0]) + struct.pack(">I", 99) + struct.pack(">II", 1, 1)
    )
    mdia = _box(b"mdia", _box(b"minf", _box(b"stbl", bad_stts)))
    blob = _box(b"ftyp", b"isom" + b"\x00" * 4) + _box(
        b"moov", _mvhd() + _box(b"trak", mdia)
    )
    assert parse_mp4_frame_runs(blob) == (None, None)


def test_video_frame_sample_roundtrip_and_run_boundaries(spark):
    from pyspark.sql import functions as F

    from cascading_hive_spark.operators.multimodal import (
        synth_mp4_with_stts,
        video_frame_sample,
    )

    # id=0: runs (3,100),(2,250) -> frames at 0,100,200,300,550;
    # every_k=2 samples idx 0,2,4 -> pts 0,200,550 (crosses the run
    # boundary: idx 4 = 300 + 1*250)
    df = spark.range(0, 1).select(
        F.col("id"),
        synth_mp4_with_stts(
            F.lit(600), F.lit(3), F.lit(100), F.lit(2), F.lit(250)
        ).alias("payload"),
    )
    rows = sorted(
        video_frame_sample(df, every_k=2).collect(), key=lambda r: r.frame_idx
    )
    assert [(r.frame_idx, r.pts) for r in rows] == [(0, 0), (2, 200), (4, 550)]
    assert all(r.timescale == 600 for r in rows)
    # every_k=1 materializes every frame
    all_rows = video_frame_sample(df, every_k=1).collect()
    assert sorted(r.pts for r in all_rows) == [0, 100, 200, 300, 550]
    # non-video blobs emit no rows
    nonvideo = spark.createDataFrame(
        [(9, bytearray(b"not an mp4"))], "id long, payload binary"
    )
    assert video_frame_sample(nonvideo).count() == 0
    import pytest

    with pytest.raises(ValueError, match="every_k"):
        video_frame_sample(df, every_k=0)


# --- PCM quality stats -------------------------------------------------------


def _pcm_wav(samples: list[int], bits=16, channels=1, declared=None, extra=b"") -> bytes:
    import struct

    body = b"".join(struct.pack("<h", s) for s in samples)
    size = declared if declared is not None else len(body)
    fmt = struct.pack("<HHIIHH", 1, channels, 16000, 32000, 2 * channels, bits)
    return (
        b"RIFF"
        + struct.pack("<I", 36 + size)
        + b"WAVE"
        + extra
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", size)
        + body
    )


def test_wav_pcm_samples_pure_python():
    assert M.wav_pcm_samples(_pcm_wav([0, 100, -100, 32767, -32768])) == [
        0, 100, -100, 32767, -32768,
    ]
    # unknown chunk before fmt/data is skipped (RIFF chunk-order law)
    junk = b"LIST" + (4).to_bytes(4, "little") + b"INFO"
    assert M.wav_pcm_samples(_pcm_wav([7, -7], extra=junk)) == [7, -7]
    # declared size past the real bytes: whole samples only (stream tail)
    truncated = _pcm_wav([1, 2, 3], declared=10)
    assert M.wav_pcm_samples(truncated) == [1, 2, 3]
    # odd byte dangling: the half sample is dropped
    assert M.wav_pcm_samples(_pcm_wav([1, 2]) + b"x") == [1, 2]
    # non-mono / non-16-bit / non-WAV refuse with None, never raise
    assert M.wav_pcm_samples(_pcm_wav([1], channels=2)) is None
    assert M.wav_pcm_samples(_pcm_wav([1], bits=8)) is None
    assert M.wav_pcm_samples(b"RIFFxxxx") is None
    assert M.wav_pcm_samples(b"") is None


def test_analyze_pcm_stats_and_nulls(spark):
    rows = [
        (1, bytearray(_pcm_wav([0, 10, -32768, 32767, 300, -328]))),
        (2, bytearray(b"not a wav")),
        (3, bytearray(_pcm_wav([]))),
    ]
    df = spark.createDataFrame(rows, "id long, payload binary")
    out = {r.id: r for r in M.analyze_pcm(df).collect()}
    r1 = out[1]
    assert r1.n_samples == 6
    assert r1.peak == 32768
    assert r1.energy == 0 + 100 + 32768**2 + 32767**2 + 300**2 + 328**2
    assert r1.n_clipped == 2  # |s| >= 32767: the two rail samples
    assert r1.n_silent == 3  # |0|, |10|, |300| < 328 (|-328| is not)
    assert out[2].n_samples is None and out[2].energy is None
    assert out[3].n_samples == 0 and out[3].peak == 0 and out[3].energy == 0


def test_synth_wav_pcm_payload_matches_python_model(spark):
    df = spark.range(5).select(
        "id", M.synth_wav_pcm_payload(F.col("id"), F.lit(9)).alias("payload")
    )
    for r in df.collect():
        got = M.wav_pcm_samples(bytes(r.payload))
        exp = [(r.id * 37 + i * 1009) % 65536 for i in range(9)]
        exp = [x - 65536 if x >= 32768 else x for x in exp]
        assert got == exp, (r.id, got, exp)


# --- perceptual hash ---------------------------------------------------------


def test_image_dhash_pure_python_laws():
    # identical bitmaps -> identical hash; a single pixel flip that
    # crosses a comparison boundary flips at most 2 bits
    base = bytes((r * 31 + c * 7) % 256 for r in range(8) for c in range(9))
    h1 = M.image_dhash_hex(base)
    assert h1 == M.image_dhash_hex(bytes(base))
    assert len(h1) == 16 and all(ch in "0123456789abcdef" for ch in h1)
    mutated = bytearray(base)
    mutated[0] = (mutated[0] + 128) % 256
    h2 = M.image_dhash_hex(bytes(mutated))
    diff = bin(int(h1, 16) ^ int(h2, 16)).count("1")
    assert 0 <= diff <= 2
    # wrong-size payload refuses with None
    assert M.image_dhash_hex(b"short") is None


def test_dhash_images_matches_pure_python_and_groups(spark):
    df = spark.range(20).select(
        "id",
        M.synth_gray_bitmap_payload(F.pmod(F.col("id"), F.lit(4))).alias(
            "payload"
        ),
    )
    rows = M.dhash_images(df).collect()
    pure = {
        r.id: M.image_dhash_hex(bytes(p.payload))
        for r, p in zip(rows, df.collect())
    }
    for r in rows:
        assert r.dhash == pure[r.id]
    # equal classes -> equal hashes (planted duplicate groups)
    by_cls = {}
    for r in rows:
        by_cls.setdefault(r.id % 4, set()).add(r.dhash)
    assert all(len(v) == 1 for v in by_cls.values()), by_cls


# ---------------------------------------------------------------------------
# encoded-image (PNG) decode -> dHash
# ---------------------------------------------------------------------------
def test_png_roundtrip_all_filters_and_color_types():
    """encode_png/decode_png round-trip bit-exactly through every
    filter type (None/Sub/Up/Average/Paeth) for gray and RGB; RGB
    reduces by the integer luma."""
    import numpy as np

    from cascading_hive_spark.operators.multimodal import (
        decode_png,
        encode_png,
        synth_png_pixels,
    )

    for cls in range(10):
        px = synth_png_pixels(cls, w=18, h=16)
        ct = 0 if cls % 2 == 0 else 2
        for filters in ([y % 5 for y in range(16)], [4] * 16, [3] * 16):
            b = encode_png(px, color_type=ct, filters=filters)
            w, h, c, gray = decode_png(b)
            assert (w, h, c) == (18, 16, ct)
            if ct == 0:
                assert np.array_equal(gray, px)
            else:
                rgb = px.astype(np.int64)
                luma = (
                    (299 * rgb[:, :, 0] + 587 * rgb[:, :, 1] + 114 * rgb[:, :, 2])
                    // 1000
                ).astype(np.uint8)
                assert np.array_equal(gray, luma)


def test_png_decode_rejects_malformed():
    """Wrong magic, truncation, corrupt deflate, unsupported depth —
    all yield None, never an exception (100 TB scan discipline)."""
    import numpy as np

    from cascading_hive_spark.operators.multimodal import decode_png, encode_png

    good = encode_png(np.zeros((4, 4), dtype=np.uint8))
    assert decode_png(good) is not None
    assert decode_png(b"") is None
    assert decode_png(b"\x89PNG\r\n\x1a\njunkjunkjunkjunkjunkjunk") is None
    assert decode_png(good[:30]) is None
    corrupt = bytearray(good)
    corrupt[44] ^= 0xFF  # flip a byte inside IDAT's deflate stream
    assert decode_png(bytes(corrupt)) is None  # adler32/inflate rejects
    depth16 = bytearray(good)
    depth16[24] = 16  # IHDR bit depth
    assert decode_png(bytes(depth16)) is None


def test_png_rgba_alpha_dropped():
    """Color type 6 (RGBA) decodes with alpha ignored: build the RGBA
    scanline stream by hand (encode_png only writes 0/2) and check the
    luma equals the RGB-only reduction."""
    import struct
    import zlib

    import numpy as np

    from cascading_hive_spark.operators.multimodal import _PNG_SIG, decode_png

    h, w = 3, 5
    rng = np.arange(h * w * 4, dtype=np.uint8).reshape(h, w, 4)
    raw = b"".join(b"\x00" + rng[y].tobytes() for y in range(h))

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    png = (
        _PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    got = decode_png(png)
    assert got is not None
    gw, gh, ct, gray = got
    assert (gw, gh, ct) == (w, h, 6)
    rgb = rng[:, :, :3].astype(np.int64)
    luma = ((299 * rgb[:, :, 0] + 587 * rgb[:, :, 1] + 114 * rgb[:, :, 2]) // 1000)
    assert np.array_equal(gray, luma.astype(np.uint8))


def test_dhash_encoded_images_dedup_and_nulls(spark):
    """Planted duplicate classes produce identical dhashes across
    different filter choices (the hash is of the DECODED pixels, not
    the bytes); junk blobs yield NULL rows, not failures; non-trivial
    downsample ratios sample the documented nearest grid."""
    import numpy as np

    from cascading_hive_spark.operators.multimodal import (
        dhash_encoded_images,
        encode_png,
        synth_png_pixels,
    )

    px = synth_png_pixels(7, w=20, h=13)  # odd ratios: 20/9, 13/8
    rows = [
        (1, bytearray(encode_png(px, color_type=2, filters=[0] * 13))),
        (2, bytearray(encode_png(px, color_type=2, filters=[(y % 5) for y in range(13)]))),
        (3, bytearray(b"not a png at all")),
    ]
    df = spark.createDataFrame(rows, "id long, payload binary")
    got = {r.id: r for r in dhash_encoded_images(df).collect()}
    assert got[1].dhash == got[2].dhash  # same pixels, different encodings
    assert got[1].img_width == 20 and got[1].img_height == 13
    assert got[3].dhash is None and got[3].img_width is None
    # independent reference for the nearest-grid dHash
    rgb = px.astype(np.int64)
    gray = ((299 * rgb[:, :, 0] + 587 * rgb[:, :, 1] + 114 * rgb[:, :, 2]) // 1000)
    ys = (np.arange(8) * 13) // 8
    xs = (np.arange(9) * 20) // 9
    ds = gray[np.ix_(ys, xs)]
    val = 0
    for bit in (ds[:, :-1] > ds[:, 1:]).flatten().tolist():
        val = (val << 1) | int(bit)
    assert got[1].dhash == format(val, "016x")


# ---------------------------------------------------------------------------
# encoded-image (baseline JPEG) decode
# ---------------------------------------------------------------------------
def test_jpeg_flat_blocks_roundtrip_exact():
    """DC-only blocks under the all-8 quant table decode to exactly
    block value per pixel (the oracle's arithmetic handle), through
    real Huffman coding and DC prediction (values rise and fall so
    diffs go negative)."""
    import numpy as np

    from cascading_hive_spark.operators.multimodal import (
        decode_jpeg_gray,
        encode_jpeg_flat_gray,
    )

    vals = np.array(
        [[(r * 2003 + c * 307 + 7 * 131) % 256 for c in range(9)]
         for r in range(8)]
    )
    w, h, nc, gray = decode_jpeg_gray(encode_jpeg_flat_gray(vals))
    assert (w, h, nc) == (72, 64, 1)
    exp = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1).astype(np.uint8)
    assert np.array_equal(gray, exp)


def test_jpeg_general_coefficients_match_reference_idct():
    """Arbitrary quantized coefficients (AC runs, ZRL gaps, negative
    values, non-uniform quant) survive encode -> entropy decode ->
    dequant -> de-zigzag -> IDCT: compare against an INDEPENDENT
    brute-force double-sum IDCT computed here, not the decoder's
    matmul path."""
    import math

    import numpy as np

    from cascading_hive_spark.operators.multimodal import (
        _JPG_ZIGZAG,
        decode_jpeg_gray,
        encode_jpeg_gray_coeffs,
    )

    quant = [(3 + (i * 7) % 13) for i in range(64)]
    blocks = []
    for n in range(4):
        blk = [0] * 64
        blk[0] = (n * 37) % 100 - 50
        blk[1] = 9 - n
        blk[5] = -7 + n
        blk[20 + n] = 15
        blk[63] = -3  # forces a long zero run + tail coefficient
        blocks.append(blk)
    b = encode_jpeg_gray_coeffs(blocks, 2, 2, quant)
    out = decode_jpeg_gray(b)
    assert out is not None
    w, h, nc, gray = out
    assert (w, h, nc) == (16, 16, 1)

    def ref_block(zz, pred):
        S = np.zeros((8, 8))
        total = list(zz)
        total[0] = pred
        for k, rast in enumerate(_JPG_ZIGZAG):
            S[rast // 8, rast % 8] = total[k] * quant[k]
        px = np.zeros((8, 8))
        for x in range(8):
            for y in range(8):
                acc = 0.0
                for u in range(8):
                    for v in range(8):
                        cu = 1 / math.sqrt(2) if u == 0 else 1.0
                        cv = 1 / math.sqrt(2) if v == 0 else 1.0
                        acc += (
                            cu * cv / 4.0 * S[u, v]
                            * math.cos((2 * x + 1) * u * math.pi / 16)
                            * math.cos((2 * y + 1) * v * math.pi / 16)
                        )
                px[x, y] = acc
        return np.clip(np.rint(px + 128.0), 0, 255).astype(np.uint8)

    # DC values are absolute in the block lists; the codec's
    # differential predictors must re-derive exactly these
    preds = [blocks[i][0] for i in range(4)]
    tiles = [(0, 0), (0, 1), (1, 0), (1, 1)]
    for i, (ty, tx) in enumerate(tiles):
        exp = ref_block(blocks[i], preds[i])
        got = gray[ty * 8 : ty * 8 + 8, tx * 8 : tx * 8 + 8]
        assert np.array_equal(got, exp), i


def test_jpeg_decode_rejects_unsupported():
    """Progressive frames, restart intervals, truncation, junk — all
    None, never an exception."""
    import numpy as np

    from cascading_hive_spark.operators.multimodal import (
        decode_jpeg_gray,
        encode_jpeg_flat_gray,
    )

    good = encode_jpeg_flat_gray(np.full((2, 2), 100))
    assert decode_jpeg_gray(good) is not None
    assert decode_jpeg_gray(b"") is None
    assert decode_jpeg_gray(b"\xff\xd8\xff\xfe\x00\x04xx") is None  # no frame
    prog = bytearray(good)
    i = prog.index(b"\xff\xc0")
    prog[i + 1] = 0xC2  # progressive SOF
    assert decode_jpeg_gray(bytes(prog)) is None
    dri = good[:2] + b"\xff\xdd\x00\x04\x00\x08" + good[2:]
    assert decode_jpeg_gray(dri) is None
    assert decode_jpeg_gray(good[: len(good) // 2]) is None


def test_dhash_encoded_images_dispatches_png_and_jpeg(spark):
    """One binary column carrying PNGs, JPEGs and junk: the operator
    dispatches on magic and hashes the DECODED pixels — a PNG and a
    JPEG of the same image must collide on dhash."""
    import numpy as np

    from cascading_hive_spark.operators.multimodal import (
        dhash_encoded_images,
        encode_jpeg_flat_gray,
        encode_png,
    )

    vals = np.array(
        [[(r * 11 + c * 29) % 256 for c in range(9)] for r in range(8)],
        dtype=np.uint8,
    )
    # PNG of the 72x64 block-expanded image == JPEG of the flat blocks
    big = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1)
    rows = [
        (1, bytearray(encode_png(big))),
        (2, bytearray(encode_jpeg_flat_gray(vals))),
        (3, bytearray(b"GIF89a-not-supported-here")),
    ]
    df = spark.createDataFrame(rows, "id long, payload binary")
    got = {r.id: r for r in dhash_encoded_images(df).collect()}
    assert got[1].dhash == got[2].dhash
    assert (got[1].img_width, got[2].img_width) == (72, 72)
    assert got[3].dhash is None


# ---------------------------------------------------------------------------
# encoded-image (GIF / LZW) decode
# ---------------------------------------------------------------------------
def test_gif_literal_roundtrip_exact():
    """The fixture encoder's literal-code LZW stream decodes to the
    exact pixels through the identity-gray palette."""
    import numpy as np

    from cascading_hive_spark.operators.multimodal import (
        decode_gif_gray,
        encode_gif_gray,
    )

    yy, xx = np.mgrid[0:16, 0:18]
    px = ((yy * 2003 + xx * 307 + 11 * 131) % 256).astype(np.uint8)
    out = decode_gif_gray(encode_gif_gray(px))
    assert out is not None
    w, h, npal, gray = out
    assert (w, h, npal) == (18, 16, 256)
    assert np.array_equal(gray, px)


def _gif_lzw_compress_codes(seq: bytes):
    """Reference GIF LZW COMPRESSOR (test-only): true dynamic string
    table, width growth 9->10->11->12 mirroring the decoder's
    len(table) == 1<<width rule. Returns the LSB-first packed bytes."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    acc = 0
    nbits = 0
    state = {"L": 258, "W": 9, "first": True}

    def put(code: int):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += state["W"]
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
        # decoder appends one table entry per code AFTER the first
        # following a clear, then bumps width at len == 1<<W
        if state["first"]:
            state["first"] = False
        else:
            state["L"] += 1
            if state["L"] == (1 << state["W"]) and state["W"] < 12:
                state["W"] += 1

    # CLEAR itself neither appends nor counts as the 'first'
    acc |= CLEAR << nbits
    nbits += 9
    while nbits >= 8:
        out.append(acc & 0xFF)
        acc >>= 8
        nbits -= 8
    table = {bytes([i]): i for i in range(256)}
    nxt = 258
    s = seq[:1]
    for c in seq[1:]:
        sc = s + bytes([c])
        if sc in table:
            s = sc
        else:
            put(table[s])
            table[sc] = nxt
            nxt += 1
            s = bytes([c])
    put(table[s])
    put(EOI)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def test_gif_dynamic_lzw_width_growth():
    """A REAL compressed stream (dynamic codes, table past 1024 so
    widths walk 9->10->11) decodes pixel-exactly — built by the
    reference compressor above, wrapped in a hand-assembled GIF."""
    import numpy as np

    from cascading_hive_spark.operators.multimodal import decode_gif_gray

    w, h = 100, 80
    yy, xx = np.mgrid[0:h, 0:w]
    px = (((yy // 3) * 31 + (xx // 2) * 7) % 256).astype(np.uint8)
    data = _gif_lzw_compress_codes(px.tobytes())
    gif = bytearray(b"GIF89a")
    gif += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    gif += bytes([0xF7, 0, 0])
    for i in range(256):
        gif += bytes([i, i, i])
    # a skippable comment extension before the image descriptor
    gif += b"\x21\xfe\x05hello\x00"
    gif += b"\x2c" + b"\x00\x00\x00\x00"
    gif += w.to_bytes(2, "little") + h.to_bytes(2, "little") + b"\x00"
    gif.append(8)
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        gif.append(len(chunk))
        gif += chunk
    gif += b"\x00\x3b"
    out = decode_gif_gray(bytes(gif))
    assert out is not None
    gw, gh, npal, gray = out
    assert (gw, gh) == (w, h)
    assert np.array_equal(gray, px)


def test_gif_decode_rejects_malformed():
    import numpy as np

    from cascading_hive_spark.operators.multimodal import (
        decode_gif_gray,
        encode_gif_gray,
    )

    good = encode_gif_gray(np.zeros((4, 4), dtype=np.uint8))
    assert decode_gif_gray(good) is not None
    assert decode_gif_gray(b"") is None
    assert decode_gif_gray(b"GIF89a\x00\x00") is None
    assert decode_gif_gray(good[: len(good) // 2]) is None
    interlaced = bytearray(good)
    # image descriptor starts right after the 13-byte header + the
    # 768-byte global palette; its packed byte is 9 bytes in
    idx = 13 + 768
    assert interlaced[idx] == 0x2C
    interlaced[idx + 9] |= 0x40  # set the interlace flag
    assert decode_gif_gray(bytes(interlaced)) is None


def test_dhash_dispatch_gif_collides_with_png(spark):
    """A GIF and a PNG of the same pixels collide on dhash through
    the magic dispatch — the pixels, not the container, are hashed."""
    import numpy as np

    from cascading_hive_spark.operators.multimodal import (
        dhash_encoded_images,
        encode_gif_gray,
        encode_png,
    )

    yy, xx = np.mgrid[0:16, 0:18]
    px = ((yy * 13 + xx * 41) % 256).astype(np.uint8)
    df = spark.createDataFrame(
        [(1, bytearray(encode_gif_gray(px))), (2, bytearray(encode_png(px)))],
        "id long, payload binary",
    )
    got = {r.id: r.dhash for r in dhash_encoded_images(df).collect()}
    assert got[1] == got[2]


def test_mp4_timing_roundtrip_hypothesis():
    """Pure-Python property: random run-length stts tables, wrapped in
    randomly-noised ISO-BMFF containers (junk sibling boxes, optional
    largesize moov), round-trip through parse_mp4_frame_runs exactly.
    No Spark needed — this is the byte-walk contract."""
    import struct

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from cascading_hive_spark.operators.multimodal import parse_mp4_frame_runs

    def box(tag: bytes, body: bytes, largesize=False) -> bytes:
        if largesize:
            return struct.pack(">I", 1) + tag + struct.pack(">Q", 16 + len(body)) + body
        return struct.pack(">I", 8 + len(body)) + tag + body

    runs_s = st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**31 - 1),
            st.integers(min_value=0, max_value=2**31 - 1),
        ),
        min_size=0,
        max_size=8,
    )

    @settings(max_examples=60, deadline=None)
    @given(
        runs=runs_s,
        timescale=st.integers(min_value=1, max_value=2**31 - 1),
        junk=st.binary(min_size=0, max_size=12),
        largesize=st.booleans(),
        mdhd_version=st.sampled_from([0, 1]),
    )
    def check(runs, timescale, junk, largesize, mdhd_version):
        stts_body = bytes([0, 0, 0, 0]) + struct.pack(">I", len(runs))
        for c, d in runs:
            stts_body += struct.pack(">II", c, d)
        if mdhd_version == 1:
            mdhd = box(
                b"mdhd",
                bytes([1, 0, 0, 0])
                + struct.pack(">QQIQ", 0, 0, timescale, 0)
                + b"\x00" * 4,
            )
        else:
            mdhd = box(
                b"mdhd",
                bytes([0, 0, 0, 0])
                + struct.pack(">IIII", 0, 0, timescale, 0)
                + b"\x00" * 4,
            )
        noise = box(b"free", junk)
        mdia = box(b"mdia", noise + mdhd + box(b"minf", box(b"stbl", noise + box(b"stts", stts_body))))
        moov = box(b"moov", noise + box(b"trak", mdia), largesize=largesize)
        blob = box(b"ftyp", b"isom\x00\x00\x00\x00") + noise + moov
        got_ts, got_runs = parse_mp4_frame_runs(blob)
        assert got_ts == timescale
        assert got_runs == list(runs)
        # and a truncated tail never raises (totality under corruption)
        for cut in (len(blob) - 1, len(blob) // 2, 7, 0):
            parse_mp4_frame_runs(blob[:cut])

    check()


def test_wav_pcm_roundtrip_hypothesis():
    """Pure-Python property: arbitrary int16 sample lists, wrapped in
    RIFF containers with random junk chunks and optional odd-byte
    tails, decode back exactly through wav_pcm_samples."""
    import struct

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from cascading_hive_spark.operators.multimodal import wav_pcm_samples

    samples_s = st.lists(
        st.integers(min_value=-32768, max_value=32767), min_size=0, max_size=64
    )

    @settings(max_examples=80, deadline=None)
    @given(
        samples=samples_s,
        junk=st.binary(min_size=0, max_size=9),
        junk_first=st.booleans(),
        dangle=st.booleans(),
    )
    def prop(samples, junk, junk_first, dangle):
        body = b"".join(struct.pack("<h", s) for s in samples)
        fmt = struct.pack("<HHIIHH", 1, 1, 16000, 32000, 2, 16)
        fmt_chunk = b"fmt " + struct.pack("<I", len(fmt)) + fmt
        junk_chunk = b"JUNK" + struct.pack("<I", len(junk)) + junk
        if len(junk) % 2:
            junk_chunk += b"\x00"  # RIFF word alignment
        data_chunk = b"data" + struct.pack("<I", len(body)) + body
        chunks = (
            junk_chunk + fmt_chunk + data_chunk
            if junk_first
            else fmt_chunk + junk_chunk + data_chunk
        )
        b = b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
        if dangle:
            b += b"\x07"  # trailing half-sample noise after all chunks
        assert wav_pcm_samples(b) == samples

    prop()
