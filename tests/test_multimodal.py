"""Multimodal column plumbing: schemas, mapInPandas batch contracts."""

from __future__ import annotations

import io
import wave

from pride_spark.operators import multimodal as mm


def _media(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(60)
    return mm.synthesize_media_from_documents(docs)


def test_media_schema(spark):
    media = _media(spark)
    assert media.schema.simpleString() == mm.MEDIA_SCHEMA.simpleString()
    kinds = {r["kind"] for r in media.select("kind").distinct().collect()}
    assert kinds == {"image", "audio", "video"}


def test_image_features_deterministic(spark):
    media = _media(spark)
    feats = mm.image_features(media)
    assert feats.schema.simpleString() == mm.IMAGE_FEATURES_SCHEMA.simpleString()
    rows = {r["media_id"]: r for r in feats.collect()}
    n_images = media.filter("kind = 'image'").count()
    assert len(rows) == n_images > 0
    # deterministic: same input → same features
    again = {r["media_id"]: r for r in mm.image_features(media).collect()}
    assert all(rows[k] == again[k] for k in rows)
    assert all(r["n_bytes"] > 0 for r in rows.values())


def test_audio_features_match_reference_arithmetic(spark):
    media = _media(spark)
    feats = mm.audio_features(media)
    assert feats.schema.simpleString() == mm.AUDIO_FEATURES_SCHEMA.simpleString()
    rows = {r["media_id"]: r for r in feats.collect()}
    audio = {r["media_id"]: bytes(r["payload"]) for r in media.filter("kind='audio'").collect()}
    assert set(rows) == set(audio) and rows
    # features must equal the plain-Python computation on the raw bytes
    for mid, payload in audio.items():
        w = [b - 256 if b > 127 else b for b in payload]
        assert rows[mid]["n_samples"] == len(w)
        assert rows[mid]["rms"] == int((sum(s * s for s in w) / len(w)) ** 0.5)
        assert rows[mid]["zero_crossings"] == sum(
            1 for a, b in zip(w, w[1:]) if (a < 0) != (b < 0)
        )


def test_frame_sampling_explodes(spark):
    media = _media(spark)
    frames = mm.sample_frames(media, every_ms=5000)
    per = frames.groupBy("media_id").count().collect()
    vids = {r["media_id"]: r["duration_ms"] for r in media.filter("kind='video'").collect()}
    assert {r["media_id"] for r in per} == set(vids)
    for r in per:
        assert r["count"] == max(vids[r["media_id"]] // 5000, 1)


# --- real-decoder paths (feature-probed; stub stays the hermetic default) ---


def _wav_bytes(samples: list[int]) -> bytes:
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(b"".join(s.to_bytes(2, "little", signed=True) for s in samples))
    return buf.getvalue()


def test_audio_features_real_wav_decode(spark):
    # stdlib wave is always present: the real path runs hermetically in CI
    samples = [0, 1000, -1000, 500, -500, 0, 2000, -2000]
    rows = [(1, "audio", _wav_bytes(samples), "audio/wav", None, None, None)]
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    out = mm.audio_features(media, decoder="real").collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_samples"] == len(samples)
    assert r["rms"] == int((sum(s * s for s in samples) / len(samples)) ** 0.5)
    assert r["zero_crossings"] == sum(
        1 for a, b in zip(samples, samples[1:]) if (a < 0) != (b < 0)
    )


def test_decoder_auto_matches_probe(spark):
    # auto is per-payload best-effort for audio (non-WAV payloads without
    # soundfile fall back to the stub); for image/video it must fall back
    # to the stub when PIL/ffmpeg are absent
    sup = mm.codec_support()
    assert sup["audio"] is True
    media = _media(spark)
    if not sup["audio_soundfile"]:
        # synthesized payloads are text bytes (not RIFF): auto must equal
        # the stub on every row instead of crashing on soundfile import
        stub_a = {r["media_id"]: r for r in mm.audio_features(media).collect()}
        auto_a = {
            r["media_id"]: r
            for r in mm.audio_features(media, decoder="auto").collect()
        }
        assert stub_a == auto_a
    if not sup["image"]:
        stub = {r["media_id"]: r for r in mm.image_features(media).collect()}
        auto = {r["media_id"]: r for r in mm.image_features(media, decoder="auto").collect()}
        assert stub == auto
    if not sup["video"]:
        stub = mm.sample_frames(media, every_ms=5000).count()
        auto = mm.sample_frames(media, every_ms=5000, decoder="auto").count()
        assert stub == auto


def test_decoder_auto_flags_fallback_rows(spark):
    # a valid WAV decodes real (flag True); a corrupt/truncated RIFF falls
    # back to the stub and MUST be flagged decoded_real=False so mixed
    # best-effort output is distinguishable downstream
    good = _wav_bytes([0, 1000, -1000, 500])
    corrupt = b"RIFF" + b"\x00" * 8  # RIFF magic, unparseable body
    rows = [
        (1, "audio", good, "audio/wav", None, None, None),
        (2, "audio", corrupt, "audio/wav", None, None, None),
    ]
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in mm.audio_features(media, decoder="auto").collect()}
    assert out[1]["decoded_real"] is True
    assert out[2]["decoded_real"] is False
    # the fallback row's features are the stub arithmetic over raw bytes
    w = [b - 256 if b > 127 else b for b in corrupt]
    assert out[2]["n_samples"] == len(w)
    # strict modes are uniform: real is all-True, stub all-False
    assert all(
        r["decoded_real"] for r in mm.audio_features(
            spark.createDataFrame(rows[:1], mm.MEDIA_SCHEMA), decoder="real"
        ).collect()
    )
    assert not any(
        r["decoded_real"] for r in mm.audio_features(media).collect()
    )


def _png_rgb(width: int, height: int, rgb: tuple[int, int, int]) -> bytes:
    """Hand-rolled minimal PNG (8-bit RGB, filter 0) — no PIL needed."""
    import struct
    import zlib

    def chunk(typ: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + typ
            + body
            + struct.pack(">I", zlib.crc32(typ + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + bytes(rgb) * width for _ in range(height))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_image_features_real_png_decode(spark):
    # runs hermetically: PIL when installed, else the built-in stdlib
    # PNG decoder — identical RGB bytes either way
    rows = [(1, "image", _png_rgb(4, 2, (10, 20, 30)), "image/png", 4, 2, None)]
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    out = mm.image_features(media, decoder="real").collect()
    assert out[0]["n_bytes"] == 4 * 2 * 3
    assert out[0]["byte_mean"] == 20


def test_builtin_png_decoder_unfilters_all_filter_types(spark):
    # round-trip a non-trivial image through every PNG scanline filter;
    # the builtin decoder must reproduce the original pixels exactly
    import struct
    import zlib

    w, h = 5, 5
    pixels = [
        bytes((x * 37 + y * 11) % 256 for x in range(w * 3)) for y in range(h)
    ]

    def filt(ftype: int, line: bytes, prev: bytes) -> bytes:
        out = bytearray([ftype])
        for x in range(len(line)):
            a = line[x - 3] if x >= 3 else 0
            b = prev[x]
            c = prev[x - 3] if x >= 3 else 0
            if ftype == 0:
                v = line[x]
            elif ftype == 1:
                v = line[x] - a
            elif ftype == 2:
                v = line[x] - b
            elif ftype == 3:
                v = line[x] - ((a + b) >> 1)
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                v = line[x] - pred
            out.append(v & 255)
        return bytes(out)

    prev = bytes(w * 3)
    raw = b""
    for y in range(h):
        raw += filt(y % 5, pixels[y], prev)
        prev = pixels[y]

    def chunk(typ: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body)) + typ + body
            + struct.pack(">I", zlib.crc32(typ + body) & 0xFFFFFFFF)
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    got = mm._decode_png_builtin(png)
    assert got == b"".join(pixels)


def _mjpeg_avi(frames: list[bytes], usec_per_frame: int = 200_000) -> bytes:
    """Hand-rolled minimal MJPEG AVI: avih header + movi frame chunks."""
    import struct

    def chunk(fourcc: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) % 2 else b""
        return fourcc + struct.pack("<I", len(body)) + body + pad

    avih = struct.pack("<I", usec_per_frame) + b"\x00" * 52
    hdrl = chunk(b"LIST", b"hdrl" + chunk(b"avih", avih))
    movi = chunk(b"LIST", b"movi" + b"".join(chunk(b"00dc", f) for f in frames))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_sample_frames_real_decode(spark):
    # runs hermetically: ffmpeg when installed, else the built-in
    # MJPEG-AVI RIFF parser.  5 fps source sampled at 1000ms -> one
    # frame per 5, and every emitted frame is a JPEG (SOI marker).
    jpeg_stub = b"\xff\xd8\xff\xe0" + bytes(32)  # JPEG SOI+APP0 prefix
    frames = [jpeg_stub + bytes([i]) for i in range(10)]  # 10 frames @5fps
    payload = _mjpeg_avi(frames, usec_per_frame=200_000)
    rows = [(1, "video", payload, "video/x-msvideo", None, None, 2000)]
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    out = mm.sample_frames(media, every_ms=1000, decoder="real").collect()
    assert len(out) >= 2
    assert all(bytes(r["frame"])[:2] == b"\xff\xd8" for r in out)  # JPEG SOI
    if not mm.codec_support()["video"]:
        # builtin parser: exact sampling arithmetic is deterministic
        assert len(out) == 2
        assert [bytes(r["frame"])[-1] for r in sorted(out, key=lambda r: r["frame_idx"])] == [0, 5]


# ---------------------------------------------------------------------------
# Third-party codec injection (r10 verdict task 3): a REAL pure-python
# baseline JPEG codec (tests/codec_jpeg.py) injected through `decoder=`
# proves the contract a user wiring Pillow/ffmpeg depends on — callable
# signature, strict error channel, Arrow batch boundaries.
# ---------------------------------------------------------------------------


def _ship_codec(spark):
    """Ship the codec module to executor python workers — the same
    ``addPyFile`` route a production user takes to deploy a third-party
    codec wrapper cluster-wide (the injected callable is pickled BY
    REFERENCE to its module, which must be importable on executors)."""
    import os

    spark.sparkContext.addPyFile(
        os.path.join(os.path.dirname(__file__), "codec_jpeg.py")
    )


def _jpeg_media(spark, n=12):
    """n baseline JPEGs with known flat-block pixels (exact round-trip)."""
    from codec_jpeg import encode_gray

    rows = []
    for i in range(n):
        v1, v2 = (i * 17) % 256, (i * 31 + 5) % 256
        px = [[v1] * 8 + [v2] * 8 for _ in range(8)]
        rows.append(
            (i, "image", bytearray(encode_gray(px)), "image/jpeg", 16, 8, None)
        )
    return spark.createDataFrame(rows, mm.MEDIA_SCHEMA), rows


def test_injected_jpeg_decoder_contract(spark):
    """Schema + values: image_features(decoder=<callable>) runs the
    injected codec inside mapInPandas and the features reflect the
    DECODED RGB pixels, not the compressed payload."""
    _ship_codec(spark)
    from codec_jpeg import decode_rgb

    media, rows = _jpeg_media(spark)
    feats = mm.image_features(media, decoder=decode_rgb)
    assert feats.schema.simpleString() == mm.IMAGE_FEATURES_SCHEMA.simpleString()
    got = {r["media_id"]: r for r in feats.collect()}
    assert len(got) == len(rows)
    for i, _, payload, *_ in rows:
        rgb = decode_rgb(bytes(payload))
        assert got[i]["n_bytes"] == len(rgb) == 16 * 8 * 3
        assert got[i]["byte_mean"] == int(sum(rgb) / len(rgb))
        assert got[i]["phash"] == int.from_bytes(rgb[:8], "big", signed=True)


def test_injected_decoder_error_channel(spark):
    """Strict contract: an undecodable payload FAILS the task (the
    injected codec's exception propagates — no silent fallback)."""
    _ship_codec(spark)
    import pytest
    from py4j.protocol import Py4JJavaError

    from codec_jpeg import decode_rgb

    bad = spark.createDataFrame(
        [(1, "image", bytearray(b"not a jpeg at all"), "image/jpeg", 0, 0, None)],
        mm.MEDIA_SCHEMA,
    )
    with pytest.raises((Py4JJavaError, Exception), match="not a JPEG|SOI"):
        mm.image_features(bad, decoder=decode_rgb).collect()


def test_injected_decoder_batch_boundaries(spark):
    """Batch-shape contract: with a tiny Arrow batch size and several
    partitions, every media_id comes back exactly once — the kernel
    respects batch iteration (no cross-batch state, no dropped tails)."""
    _ship_codec(spark)
    from codec_jpeg import decode_rgb

    media, rows = _jpeg_media(spark, n=23)
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4")
    try:
        feats = mm.image_features(media.repartition(5), decoder=decode_rgb)
        ids = [r["media_id"] for r in feats.collect()]
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    assert sorted(ids) == list(range(23))


def test_injected_audio_decoder_flags_real(spark):
    """audio_features(decoder=<callable>): samples come from the
    injected codec and rows are flagged decoded_real=True."""
    _ship_codec(spark)
    # a "third-party" big-endian 16-bit PCM decoder (builtin paths are
    # RIFF/8-bit only — this codec is genuinely new behavior)
    def decode_be16(p):
        if p is None or len(p) % 2:
            raise ValueError("be16 decode: bad payload")
        return [
            int.from_bytes(p[i : i + 2], "big", signed=True)
            for i in range(0, len(p), 2)
        ]

    payload = b"\x00\x01\xff\xff\x80\x00\x7f\xff"  # 1, -1, -32768, 32767
    media = spark.createDataFrame(
        [(7, "audio", bytearray(payload), "audio/pcm", None, None, 1)],
        mm.MEDIA_SCHEMA,
    )
    rows = mm.audio_features(media, decoder=decode_be16).collect()
    assert len(rows) == 1 and rows[0]["decoded_real"] is True
    w = [1, -1, -32768, 32767]
    assert rows[0]["n_samples"] == 4
    assert rows[0]["rms"] == int((sum(s * s for s in w) / len(w)) ** 0.5)
    assert rows[0]["zero_crossings"] == 2


def test_injected_jpeg_decoder_matches_builtin_contract_on_png(spark):
    """Interchangeability: the SAME media pipeline runs with the builtin
    real decoder (PNG) and an injected codec (JPEG) — identical schema,
    identical feature arithmetic over each codec's decoded pixels."""
    _ship_codec(spark)
    from codec_jpeg import decode_rgb, encode_gray

    # one flat image encoded BOTH ways; gray value 77 everywhere
    px = [[77] * 16 for _ in range(16)]
    jpeg = encode_gray(px)

    import struct
    import zlib

    raw = b"".join(b"\x00" + bytes([77, 77, 77] * 16) for _ in range(16))

    def chunk(typ, body):
        return (
            struct.pack(">I", len(body))
            + typ
            + body
            + struct.pack(">I", zlib.crc32(typ + body))
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 16, 16, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    m_png = spark.createDataFrame(
        [(1, "image", bytearray(png), "image/png", 16, 16, None)], mm.MEDIA_SCHEMA
    )
    m_jpg = spark.createDataFrame(
        [(1, "image", bytearray(jpeg), "image/jpeg", 16, 16, None)], mm.MEDIA_SCHEMA
    )
    a = mm.image_features(m_png, decoder="real").collect()[0]
    b = mm.image_features(m_jpg, decoder=decode_rgb).collect()[0]
    assert a == b  # same decoded pixels -> identical feature row
