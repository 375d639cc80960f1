"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

North-star extension (no reference counterpart): a 100 TB training-data
pipeline carries media as ``binary`` columns with struct metadata, and the
decode / feature-extract / frame-sample steps run as Arrow-batched
``mapInPandas`` stages so bytes never round-trip through Python row by row.

The decode kernels are selected per call via ``decoder=``:

- ``"stub"`` (default) — deterministic fakes behind the ``_decode_*``
  seams, clearly marked; CI and the DuckDB oracles stay hermetic because
  the fake arithmetic is reproducible SQL-side.
- ``"real"`` — actual codecs: PIL for images, stdlib ``wave`` (or
  soundfile when installed) for audio, ffmpeg for video frames.  Raises
  if the codec is absent.
- ``"auto"`` — ``real`` when :func:`codec_support` says the codec is
  importable, else the stub.

Either way the Spark-side plumbing (schemas, Arrow batch iteration,
partitioning, output contracts) is identical — swap the kernel, keep the
plan.
"""

from __future__ import annotations

import importlib.util
import shutil
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: media row: id + opaque payload + typed metadata (SURVEY north-star spec).
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),  # image | audio | video
        StructField("payload", BinaryType()),
        StructField("mime", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", IntegerType()),
    ]
)

IMAGE_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("n_bytes", IntegerType()),
        StructField("byte_mean", IntegerType()),
        StructField("phash", LongType()),
    ]
)

FRAME_SAMPLE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("frame", BinaryType()),
    ]
)


def codec_support() -> dict[str, bool]:
    """Runtime feature probe: which FULL codec stacks this environment
    has (import/binary checks only — nothing loaded eagerly).  These
    flags gate ``decoder="auto"``'s real-vs-stub pick; ``decoder="real"``
    additionally works WITHOUT them for the formats the built-in
    stdlib decoders cover (PNG via :func:`_decode_png_builtin`, WAV via
    ``wave``, MJPEG-AVI via :func:`_extract_frames_avi`) — auto stays
    conservative because arbitrary payloads need the full codec."""
    return {
        "image": importlib.util.find_spec("PIL") is not None,
        "audio": True,  # stdlib wave handles RIFF/WAV; soundfile widens it
        "audio_soundfile": importlib.util.find_spec("soundfile") is not None,
        "video": shutil.which("ffmpeg") is not None,
    }


def _pick(decoder: str, kind: str) -> str:
    if decoder == "auto":
        return "real" if codec_support()[kind] else "stub"
    return decoder


def _decode_image(payload: bytes) -> bytes:
    """STUB decode seam (``decoder="stub"``).

    Deterministic fake: the 'decoded pixels' are the payload itself.
    """
    if payload is None:
        raise NotImplementedError("image decode: payload was None")
    return payload


def _decode_png_builtin(payload: bytes) -> bytes:
    """Minimal pure-stdlib PNG decode: 8-bit RGB (color type 2),
    non-interlaced, all five scanline filters → raw RGB bytes, matching
    what PIL's ``convert("RGB").tobytes()`` returns for such files.
    Exists so ``decoder="real"`` has a genuine codec path in
    environments without PIL (inflate + unfilter is the actual PNG
    algorithm, not a stub)."""
    import struct
    import zlib

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise NotImplementedError("builtin image decode handles PNG only")
    pos, idat = 8, b""
    w = h = bitd = ct = inter = None
    while pos + 8 <= len(payload):
        (ln,), typ = struct.unpack(">I", payload[pos : pos + 4]), payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + ln]
        pos += 8 + ln + 4  # skip CRC
        if typ == b"IHDR":
            w, h, bitd, ct, _comp, _filt, inter = struct.unpack(">IIBBBBB", body)
        elif typ == b"IDAT":
            idat += body
        elif typ == b"IEND":
            break
    if bitd != 8 or ct != 2 or inter:
        raise NotImplementedError(
            f"builtin PNG decode: only 8-bit RGB non-interlaced (got depth={bitd} type={ct})"
        )
    raw = zlib.decompress(idat)
    stride = w * 3
    out = bytearray()
    prev = bytearray(stride)
    i = 0
    for _ in range(h):
        f = raw[i]
        i += 1
        line = bytearray(raw[i : i + stride])
        i += stride
        if f == 1:  # Sub
            for x in range(3, stride):
                line[x] = (line[x] + line[x - 3]) & 255
        elif f == 2:  # Up
            for x in range(stride):
                line[x] = (line[x] + prev[x]) & 255
        elif f == 3:  # Average
            for x in range(stride):
                a = line[x - 3] if x >= 3 else 0
                line[x] = (line[x] + ((a + prev[x]) >> 1)) & 255
        elif f == 4:  # Paeth
            for x in range(stride):
                a = line[x - 3] if x >= 3 else 0
                b = prev[x]
                c = prev[x - 3] if x >= 3 else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[x] = (line[x] + pred) & 255
        elif f != 0:
            raise NotImplementedError(f"PNG filter {f}")
        out += line
        prev = line
    return bytes(out)


def _decode_image_real(payload: bytes) -> bytes:
    """Real image decode: payload → raw RGB pixel bytes.  PIL when
    installed (any format); otherwise the built-in PNG decoder
    (:func:`_decode_png_builtin`), so the real path runs hermetically in
    codec-less CI.  Imports deferred to the executor."""
    import io

    if payload is None:  # same seam contract as the stub
        raise NotImplementedError("image decode: payload was None")
    if importlib.util.find_spec("PIL") is not None:
        from PIL import Image

        with Image.open(io.BytesIO(payload)) as im:
            return im.convert("RGB").tobytes()
    return _decode_png_builtin(payload)


def image_features(
    media: DataFrame, decoder: str | Callable[[bytes], bytes] = "stub"
) -> DataFrame:
    """Arrow-batched feature extraction over image payloads.

    Real plumbing: ``mapInPandas`` receives pandas batches (zero-copy via
    Arrow for binary), emits a narrow feature table.  The per-byte stats
    and the 64-bit perceptual-hash stand-in run over either the stub
    'pixels' (the payload) or the PIL-decoded RGB bytes (``decoder="real"``).

    ``decoder`` may also be a CALLABLE — the third-party-codec injection
    point (e.g. a JPEG library wrapper).  Contract: ``payload: bytes ->
    decoded pixel bytes``; ``None`` payloads reach the callable (raise
    like the built-ins if unsupported); exceptions PROPAGATE and fail the
    task (strict, like ``decoder="real"`` — wrap with your own
    try/except for best-effort).  The callable is pickled to executors,
    so it must be self-contained or importable there.
    """
    if callable(decoder):
        decode = decoder
    else:
        decode = (
            _decode_image_real if _pick(decoder, "image") == "real" else _decode_image
        )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [decode(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "n_bytes": [len(p) for p in payloads],
                    "byte_mean": [int(sum(p) / len(p)) if len(p) else 0 for p in payloads],
                    "phash": [
                        int.from_bytes(p[:8].ljust(8, b"\0"), "big", signed=True)
                        for p in payloads
                    ],
                }
            )

    return media.filter(F.col("kind") == "image").mapInPandas(kernel, IMAGE_FEATURES_SCHEMA)


AUDIO_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("n_samples", IntegerType()),
        StructField("rms", IntegerType()),
        StructField("zero_crossings", IntegerType()),
        # which kernel actually produced this row: True = real codec
        # decode, False = deterministic stub arithmetic.  Matters for
        # decoder="auto", whose per-payload fallback would otherwise mix
        # fake features into real ones indistinguishably.
        StructField("decoded_real", BooleanType(), False),
    ]
)


def _decode_audio(payload: bytes) -> list[int]:
    """STUB decode seam (``decoder="stub"``).  Deterministic fake: payload
    bytes as signed 8-bit PCM."""
    if payload is None:
        raise NotImplementedError("audio decode: payload was None")
    return [b - 256 if b > 127 else b for b in payload]


def _decode_audio_real(payload: bytes) -> list[int]:
    """Real audio decode.  RIFF/WAV via stdlib ``wave`` (always available;
    8/16-bit PCM → signed ints); anything else via soundfile when
    installed."""
    import io

    if payload is None:  # same seam contract as the stub
        raise NotImplementedError("audio decode: payload was None")
    if payload[:4] == b"RIFF":
        import wave

        with wave.open(io.BytesIO(payload)) as w:
            raw = w.readframes(w.getnframes())
            width = w.getsampwidth()
        if width == 1:  # WAV 8-bit is unsigned
            return [b - 128 for b in raw]
        if width == 2:
            return [
                int.from_bytes(raw[i : i + 2], "little", signed=True)
                for i in range(0, len(raw), 2)
            ]
        raise NotImplementedError(f"unsupported WAV sample width {width}")
    import soundfile as sf  # non-WAV containers need the optional codec

    data, _rate = sf.read(io.BytesIO(payload), dtype="int16")
    return [int(v) for v in data.reshape(-1)]


def audio_features(
    media: DataFrame, decoder: str | Callable[[bytes], "list[int]"] = "stub"
) -> DataFrame:
    """Arrow-batched waveform features over audio payloads.

    Same plumbing contract as :func:`image_features`: ``mapInPandas``
    batches in, a narrow feature table out.  Sample count, integer RMS
    and zero-crossing count run over either the fake PCM decode (stub)
    or real WAV/soundfile samples (``decoder="real"``, strict — raises
    on undecodable payloads).  ``decoder="auto"`` is best-effort PER
    PAYLOAD: stdlib ``wave`` handles any RIFF payload, but non-WAV
    containers need the optional soundfile module, so auto falls back to
    the stub for payloads the real decoder cannot handle instead of
    failing the whole task on the first mp3.  Every output row carries a
    ``decoded_real`` flag saying which kernel produced it, so mixed
    best-effort output is distinguishable downstream (a corrupt RIFF that
    fell back to stub arithmetic is flagged False).

    ``decoder`` may also be a CALLABLE — the third-party-codec injection
    point (e.g. an mp3 library wrapper).  Contract: ``payload: bytes ->
    list[int]`` signed samples; exceptions PROPAGATE (strict); output
    rows carry ``decoded_real=True``.  The callable is pickled to
    executors, so it must be self-contained or importable there.
    """
    if callable(decoder):
        _user = decoder

        def decode(p):
            return _user(p), True

    elif decoder == "auto":

        def decode(p):
            try:
                return _decode_audio_real(p), True
            except Exception:
                return _decode_audio(p), False

    elif decoder == "real":

        def decode(p):
            return _decode_audio_real(p), True

    else:

        def decode(p):
            return _decode_audio(p), False

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [decode(p) for p in pdf["payload"]]
            waves = [w for w, _ in decoded]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "n_samples": [len(w) for w in waves],
                    "rms": [
                        int((sum(s * s for s in w) / len(w)) ** 0.5) if w else 0
                        for w in waves
                    ],
                    "zero_crossings": [
                        sum(
                            1
                            for a, b in zip(w, w[1:])
                            if (a < 0) != (b < 0)
                        )
                        for w in waves
                    ],
                    "decoded_real": [real for _, real in decoded],
                }
            )

    return media.filter(F.col("kind") == "audio").mapInPandas(kernel, AUDIO_FEATURES_SCHEMA)


def _extract_frames_stub(payload: bytes, duration_ms: int, every_ms: int) -> list[bytes]:
    """STUB frame extraction (``decoder="stub"``): deterministic payload
    slices, one per sampling interval."""
    n = max(int((duration_ms or 0) // every_ms), 1)
    payload = payload or b""
    return [bytes(payload[i : i + 16]) for i in range(n)]


def _extract_frames_avi(payload: bytes, every_ms: int) -> list[bytes]:
    """Minimal pure-stdlib MJPEG-AVI frame extraction: walk the RIFF
    chunk tree, collect ``00dc``/``00db`` video-frame chunks, read the
    frame period from the ``avih`` header, and sample one frame per
    ``every_ms``.  A genuine container parse (the AVI index-less read
    path), so ``decoder="real"`` has a codec-free video route."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise NotImplementedError("builtin video decode handles AVI only")
    frames: list[bytes] = []
    usec_per_frame = None

    def walk(pos: int, end: int) -> None:
        nonlocal usec_per_frame
        while pos + 8 <= end:
            fourcc = payload[pos : pos + 4]
            ln = struct.unpack("<I", payload[pos + 4 : pos + 8])[0]
            body = pos + 8
            if fourcc == b"LIST":
                walk(body + 4, body + ln)
            elif fourcc == b"avih":
                usec_per_frame = struct.unpack("<I", payload[body : body + 4])[0]
            elif fourcc[2:4] in (b"dc", b"db"):
                frames.append(payload[body : body + ln])
            pos = body + ln + (ln & 1)  # chunks are word-aligned

    walk(12, len(payload))
    if not frames:
        return []
    period_ms = (usec_per_frame or 1_000_000) / 1000.0
    step = max(int(round(every_ms / period_ms)), 1)
    return frames[::step]


def _extract_frames_real(payload: bytes, duration_ms: int, every_ms: int) -> list[bytes]:
    """Real frame extraction: the ffmpeg binary when present (any
    container), else the built-in MJPEG-AVI parser
    (:func:`_extract_frames_avi`) so the real path runs hermetically in
    codec-less CI."""
    import glob
    import os
    import subprocess
    import tempfile

    if shutil.which("ffmpeg") is None:
        return _extract_frames_avi(payload or b"", every_ms)
    with tempfile.TemporaryDirectory() as td:
        src = os.path.join(td, "in.bin")
        with open(src, "wb") as f:
            f.write(payload or b"")
        subprocess.run(
            [
                "ffmpeg", "-nostdin", "-v", "error", "-i", src,
                "-vf", f"fps=1000/{every_ms}",
                os.path.join(td, "f%05d.jpg"),
            ],
            check=True,
        )
        return [
            open(p, "rb").read() for p in sorted(glob.glob(os.path.join(td, "f*.jpg")))
        ]


def sample_frames(media: DataFrame, every_ms: int = 1000, decoder: str = "stub") -> DataFrame:
    """Video → one row per sampled frame (explode in Python batch space).

    Real plumbing either way: a 1→N ``mapInPandas`` producing a tall frame
    table partitioned by ``media_id`` for downstream per-frame
    featurization.  ``decoder="real"`` shells out to ffmpeg per payload;
    the stub slices the payload deterministically.
    """
    extract = (
        _extract_frames_real if _pick(decoder, "video") == "real" else _extract_frames_stub
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for mid, payload, dur in zip(
                pdf["media_id"], pdf["payload"], pdf["duration_ms"]
            ):
                fs = extract(payload, dur, every_ms)
                for i, fr in enumerate(fs):
                    ids.append(mid)
                    idxs.append(i)
                    frames.append(fr)
            yield pd.DataFrame({"media_id": ids, "frame_idx": idxs, "frame": frames})

    return media.filter(F.col("kind") == "video").mapInPandas(kernel, FRAME_SAMPLE_SCHEMA)


def synthesize_media_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic media table from the documents fixture (test substrate):
    text bytes stand in for payloads; kind round-robins by doc_id."""
    kind = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode("text", "UTF-8").cast("binary").alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        F.lit(64).alias("width"),
        F.lit(64).alias("height"),
        (F.col("n_chars").cast("int") * 10).alias("duration_ms"),
    )
