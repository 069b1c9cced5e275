"""Multimodal columns: image/audio/video as opaque binary columns with
typed metadata.

The decode layer is REAL: from-scratch stdlib codecs (functions/media.py
— BMP, PNG incl. palette/tRNS, Adam7 interlacing and 16-bit depth via
zlib, GIF87a/89a with a full LZW decoder, baseline AND progressive
JFIF JPEG, RIFF/WAVE PCM, RIFF/AVI MJPEG video, MPEG Layer III audio
frame walk) back every default hook, so ``with_media_meta`` reports
actual pixel dimensions, video frame-rate durations and sample-accurate
audio durations, ``extract_features`` histograms decoded pixels/samples
(video: the first sampled frame's decoded luma), ``resize_media`` emits
real resampled image bytes and ``frame_sample`` slices block-aligned
PCM segments, evenly sampled MJPEG frames (each a standalone decodable
JPEG) or raw MPEG audio frames. MP3 features fall back to the byte
histogram (frame headers give exact duration but PCM synthesis is out
of codec scope); every hook stays pluggable (``decode_fn=`` /
``feature_fn=`` / ``resize_fn=`` / ``frame_fn=``) for deployments that
ship PIL/ffmpeg.

``strict=True`` makes corrupt payloads (right magic, bad structure)
raise ``MediaFormatError`` instead of downgrading to ``binary`` —
quarantine-vs-continue is the caller's pipeline policy.

At 100 TB: binary payloads dominate partition size, so every operator is
one :func:`~geocode_spark.functions.udfs.arrow_map` pass — the payload
crosses the JVM/Python boundary exactly once, and the input columns
pass through as the batch's own Arrow arrays (exact values, no pandas
dtype round trip).
"""

from __future__ import annotations

from typing import Callable

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import (ArrayType, BinaryType, DoubleType, IntegerType,
                               LongType, StringType, StructField, StructType)

from ..functions.media import (MediaFormatError, avi_frames,
                               decode_media_meta, media_features,
                               mp3_frames, resize_image_payload, sniff,
                               wav_frames)
from ..functions.udfs import arrow_map

MEDIA_META_SCHEMA = StructType([
    StructField("media_type", StringType()),
    StructField("n_bytes", LongType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("duration_ms", LongType()),
])


def with_media_meta(df: DataFrame, binary_col: str = "html",
                    decode_fn: Callable[[bytes], dict] | None = None,
                    strict: bool = False) -> DataFrame:
    """Add a typed ``media`` struct decoded from an opaque binary column.

    Default decoder is the real stdlib codec layer: BMP/PNG payloads get
    pixel (width, height), WAV payloads get sample-accurate duration_ms,
    anything else is ``binary`` with n_bytes only. ``strict=True``
    raises ``MediaFormatError`` on corrupt media instead of downgrading.
    """
    if decode_fn is None:
        fn = lambda payload: decode_media_meta(payload, strict=strict)  # noqa: E731
    else:
        fn = decode_fn

    def body(rb):
        return None, [[fn(b) for b in rb.column(binary_col).to_pylist()]]

    return arrow_map(df, body, [StructField("media", MEDIA_META_SCHEMA)])


def extract_features(df: DataFrame, binary_col: str = "html", dim: int = 16,
                     feature_fn: Callable[[bytes], np.ndarray] | None = None
                     ) -> DataFrame:
    """Add a ``features: array<double>`` column from the binary payload.

    Default feature_fn is modality-aware and content-level: decoded-pixel
    luma histogram for images, decoded-PCM amplitude histogram for audio,
    byte histogram for unrecognized payloads (functions.media
    .media_features). All normalized to sum 1, all deterministic."""
    fn = feature_fn or (lambda payload: media_features(payload, dim))

    def body(rb):
        return None, [[fn(b).tolist()
                       for b in rb.column(binary_col).to_pylist()]]

    return arrow_map(df, body,
                     [StructField("features", ArrayType(DoubleType()))])


def resize_media(df: DataFrame, binary_col: str = "html",
                 width: int = 64, height: int = 64,
                 resize_fn: Callable[[bytes, int, int], bytes] | None = None,
                 strict: bool = False,
                 out_col: str = "resized") -> DataFrame:
    """Resize an image payload to (width, height): adds ``out_col``
    (binary) plus ``resized_width``/``resized_height``.

    Default is the real path: decode BMP/PNG, nearest-neighbor resample,
    re-encode as 24-bit BMP (deterministic, compression-free). Payloads
    that aren't decodable images yield NULL bytes (``strict=True``
    raises MediaFormatError instead) — downstream filters on
    ``out_col IS NOT NULL`` keep size accounting honest. A custom
    ``resize_fn`` (e.g. PIL) receives (payload, width, height) and may
    raise MediaFormatError to get the same null-vs-raise policy."""
    fn = resize_fn or resize_image_payload

    def guarded(payload: bytes) -> bytes | None:
        if payload is None:
            return None
        try:
            return fn(payload, width, height)
        except MediaFormatError:
            if strict:
                raise
            return None

    def body(rb):
        n = rb.num_rows
        return None, [[guarded(p) for p in rb.column(binary_col).to_pylist()],
                      np.full(n, width, np.int32), np.full(n, height, np.int32)]

    return arrow_map(df, body, [StructField(out_col, BinaryType()),
                                StructField("resized_width", IntegerType()),
                                StructField("resized_height", IntegerType())])


def _default_frames(payload: bytes, n: int) -> list:
    """Real frame sampling per modality: WAV audio -> <=n contiguous
    block-aligned PCM segments; MJPEG AVI video -> <=n evenly sampled
    frame chunks (each a standalone decodable JPEG); MP3 -> <=n evenly
    sampled self-delimiting MPEG frames. Payloads with no decodable
    timeline byte-slice deterministically."""
    if not payload:
        return []
    kind = sniff(payload)
    if kind in ("wav", "avi", "mp3"):
        try:
            return {"wav": wav_frames, "avi": avi_frames,
                    "mp3": mp3_frames}[kind](payload, n)
        except MediaFormatError:
            pass
    b = bytes(payload)
    step = max(len(b) // n, 1)
    return [b[i * step:(i + 1) * step] for i in range(min(n, len(b)))]


def frame_sample(df: DataFrame, binary_col: str = "html", n_frames: int = 4,
                 frame_fn: Callable[[bytes, int], list] | None = None
                 ) -> DataFrame:
    """Explode a media payload into <=n sampled frames
    (frame_idx, frame_bytes). WAV audio is sliced into real block-aligned
    PCM segments; other payloads byte-slice deterministically."""
    if n_frames < 1:
        # validate on the driver: inside the executors this becomes a
        # ZeroDivisionError in the slicers, which is outside the
        # MediaFormatError downgrade policy and would fail the whole task
        raise ValueError(f"n_frames must be >= 1, got {n_frames}")
    fn = frame_fn or _default_frames
    def body(rb):
        # frame extraction runs per payload (the pluggable hook is
        # payload-granular); the explode is one take of the kept columns
        frames = [fn(p, n_frames) for p in rb.column(binary_col).to_pylist()]
        counts = np.fromiter((len(f) for f in frames), dtype=np.int64,
                             count=len(frames))
        return np.repeat(np.arange(len(frames)), counts), [
            np.concatenate([np.arange(c, dtype=np.int32) for c in counts]),
            [fb for f in frames for fb in f]]

    return arrow_map(df, body, [StructField("frame_idx", IntegerType()),
                                StructField("frame_bytes", BinaryType())])
