"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

A training-data pipeline at 100 TB carries media as ``binary`` columns
with a typed metadata struct.  Each Python stage is a filter, a select
and one ``functions.udfs.map_rows`` call over a pure row function that
the driver-side oracles share.  Decode tiers (operators/media_codecs.py,
stdlib+numpy only):

* **real pixel decode — every image format**: PNG (zlib inflate +
  unfilter), PPM/PGM, BMP, baseline JPEG (Huffman + IDCT,
  operators/jpeg_codec.py), GIF (LZW, operators/gif_codec.py) —
  features and perceptual aHash are genuine transforms.
* **audio**: WAV 16-bit PCM fully decoded (duration, rms, peak).
* **video**: real MJPEG-in-AVI demux since r4 (operators/avi_codec.py
  RIFF container walk + the repo's own JPEG decoder per frame) —
  ``sample_frames`` is a genuine pixel tier end-to-end; no media stub
  remains.

Scale note: metadata-only transforms never touch the binary column
(column pruning keeps it out of the scan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.udfs import map_rows

MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("kind", StringType(), False),      # image | audio | video
    StructField("media_type", StringType(), True),  # MIME
    StructField("payload", BinaryType(), True),
    StructField("source", StringType(), True),
])

IMAGE_FEATURES_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("ok", StringType(), False),         # "ok" | error kind
    StructField("format", StringType(), True),
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
    StructField("n_bytes", IntegerType(), False),
    StructField("phash", StringType(), True),       # aHash (pixel formats)
])


def synthesize_media_row(i: int) -> tuple:
    """One deterministic media row — a *pure function of the id*, so the
    DuckDB oracle generator can synthesize the identical corpus
    driver-side (binary payloads are not SQL-expressible, but the
    derived feature rows are VALUES-expressible)."""
    import numpy as np

    from .media_codecs import encode_png, encode_ppm, encode_wav

    kind = ("image", "audio", "video")[i % 3]
    if kind == "image":
        rng = np.random.default_rng(i)
        w, h = 8 + i % 24, 8 + (i // 3) % 24
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        variant = (i // 3) % 4
        if variant == 0:
            payload, mt = encode_png(px), "image/png"
        elif variant == 1:
            payload, mt = encode_ppm(px), "image/x-portable-pixmap"
        elif variant == 2:
            # real baseline JPEG (lossy but deterministic)
            from .jpeg_codec import encode_jpeg

            payload, mt = encode_jpeg(px), "image/jpeg"
        else:
            # real single-frame GIF (palettized, deterministic)
            from .gif_codec import encode_gif

            payload, mt = encode_gif(px), "image/gif"
    elif kind == "audio":
        t = np.arange(800 + i % 800)
        freq = 0.01 + (i % 7) * 0.005
        samples = (np.sin(t * freq) * 12000).astype("<i2")
        payload, mt = encode_wav(samples, 8000), "audio/wav"
    else:
        # real MJPEG-in-AVI: per-frame baseline JPEGs in a RIFF
        # container (both codecs are this repo's own)
        from .avi_codec import encode_avi_mjpeg
        from .jpeg_codec import encode_jpeg

        rng = np.random.default_rng(2000 + i)
        w, h = 8 + i % 16, 8 + (i // 3) % 16
        n_frames = 2 + i % 7                       # 2..8 frames
        us = (250_000, 200_000, 125_000, 100_000)[i % 4]  # 4/5/8/10 fps
        frames_px = [rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
                     for _ in range(n_frames)]
        if i % 2:
            # half the videos open on a shared title card (the classic
            # duplicated frame in a real video corpus: intro/outro
            # cards): gray field + white top-left quadrant — its aHash
            # is dimension-invariant and JPEG-noise-proof (large
            # luminance margins), so cross-video frame dedup has real
            # positives to find
            card = np.full((h, w, 3), 128, dtype=np.uint8)
            card[: h // 2, : w // 2] = 255
            frames_px[0] = card
        jpegs = [encode_jpeg(p) for p in frames_px]
        payload, mt = (encode_avi_mjpeg(jpegs, w, h, us),
                       "video/x-msvideo")
    return (i, kind, mt, payload, f"src{i % 5}")


def synthesize_media(spark: SparkSession, n_rows: int) -> DataFrame:
    """Deterministic media corpus with *real decodable payloads*.

    Images cycle png / ppm / baseline jpeg / gif; audio is real 16-bit
    PCM WAV (seeded sine); video is real MJPEG-in-AVI (2-8 JPEG frames,
    4-10 fps).  Every payload decodes for real.
    """
    return map_rows(spark.range(n_rows),
                    lambda i: [synthesize_media_row(i)], MEDIA_SCHEMA)


def _decode_image(payload: bytes):
    """Sniff + decode: (format, width, height, pixels).

    Every recognized image format decodes real pixels.  Raises
    MediaDecodeError for undecodable bytes.
    """
    from .media_codecs import (
        MediaDecodeError,
        decode_bmp,
        decode_png,
        decode_ppm,
    )

    if payload.startswith(b"\x89PNG"):
        px = decode_png(payload)
        return "png", px.shape[1], px.shape[0], px
    if payload[:2] in (b"P5", b"P6"):
        px = decode_ppm(payload)
        return "ppm", px.shape[1], px.shape[0], px
    if payload[:2] == b"BM":
        px = decode_bmp(payload)
        return "bmp", px.shape[1], px.shape[0], px
    if payload[:3] == b"\xff\xd8\xff":
        # real pixel tier since r3 (operators/jpeg_codec.py): baseline
        # sequential decodes for real; progressive/arithmetic raise
        # MediaDecodeError and quarantine like any undecodable payload
        from .jpeg_codec import decode_jpeg

        px = decode_jpeg(payload)
        return "jpeg", px.shape[1], px.shape[0], px
    if payload[:4] == b"GIF8":
        # real pixel tier since r3 (operators/gif_codec.py LZW)
        from .gif_codec import decode_gif

        px = decode_gif(payload)
        return "gif", px.shape[1], px.shape[0], px
    raise MediaDecodeError("unrecognized image format")


def image_feature_row(mid: int, payload: bytes | None) -> tuple:
    """One image-features row — pure, shared by the Spark stage and the
    driver-side oracle generator."""
    from .media_codecs import average_hash

    payload = bytes(payload) if payload is not None else b""
    try:
        fmt, w, hgt, px = _decode_image(payload)
        ph = average_hash(px) if px is not None else None
        return (int(mid), "ok", fmt, w, hgt, len(payload), ph)
    except Exception as e:
        return (int(mid), type(e).__name__, None, None, None,
                len(payload), None)


def image_features(media: DataFrame) -> DataFrame:
    """Decode + feature-extract image rows (Arrow-batched, quarantined)."""
    return map_rows(media.filter(F.col("kind") == "image")
                    .select("media_id", "payload"),
                    lambda mid, payload: [image_feature_row(mid, payload)],
                    IMAGE_FEATURES_SCHEMA)


AUDIO_FEATURES_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("ok", StringType(), False),
    StructField("sample_rate", IntegerType(), True),
    StructField("channels", IntegerType(), True),
    StructField("n_frames", LongType(), True),
    StructField("duration_ms", LongType(), True),
    StructField("rms", DoubleType(), True),
    StructField("peak", IntegerType(), True),
])


def audio_feature_row(mid: int, payload: bytes | None) -> tuple:
    """One audio-features row — pure, shared by the Spark stage and the
    driver-side oracle generator."""
    import numpy as np

    from .media_codecs import decode_wav

    payload = bytes(payload) if payload is not None else b""
    try:
        rate, nch, samples = decode_wav(payload)
        x = samples.astype(np.float64)
        return (
            int(mid), "ok", rate, nch, len(samples),
            int(len(samples) * 1000 / rate),
            round(float(np.sqrt((x * x).mean())), 3)
            if len(samples) else 0.0,
            int(np.abs(samples).max()) if len(samples) else 0,
        )
    except Exception as e:
        return (int(mid), type(e).__name__, None, None,
                None, None, None, None)


def audio_features(media: DataFrame) -> DataFrame:
    """Real WAV decode: duration, RMS, peak per audio row (quarantined)."""
    return map_rows(media.filter(F.col("kind") == "audio")
                    .select("media_id", "payload"),
                    lambda mid, payload: [audio_feature_row(mid, payload)],
                    AUDIO_FEATURES_SCHEMA)


FRAME_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("frame_idx", IntegerType(), False),  # source frame index
    StructField("ts_ms", LongType(), False),
    StructField("ok", StringType(), False),
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
    StructField("phash", StringType(), True),
    StructField("frame", BinaryType(), True),        # PNG re-encode
])


def video_frame_rows(mid: int, payload: bytes | None, every_ms: int,
                     max_frames: int, with_pixels: bool = True) -> list[tuple]:
    """Sampled, decoded frames for one video row — pure function of the
    payload, shared verbatim by the Spark stage and the driver-side
    oracle generator (same contract as image_feature_row).

    Demux the AVI container (avi_codec), pick every
    ``round(every_ms*1000 / us_per_frame)``-th source frame up to
    ``max_frames``, decode each JPEG for real, and emit (media_id,
    source_frame_idx, ts_ms, "ok", width, height, aHash, PNG bytes).
    A malformed container quarantines as one (mid, 0, 0, error-kind)
    row.  ``with_pixels=False`` skips the PNG re-encode (the oracle
    compares the metadata tier).
    """
    from .avi_codec import decode_avi_mjpeg
    from .jpeg_codec import decode_jpeg
    from .media_codecs import average_hash, encode_png

    payload = bytes(payload) if payload is not None else b""
    try:
        us, _w, _h, jpegs = decode_avi_mjpeg(payload)
        stride = max(1, round(every_ms * 1000 / us))
        rows = []
        for k in range(0, len(jpegs), stride):
            if len(rows) >= max_frames:
                break
            px = decode_jpeg(jpegs[k])
            rows.append((
                int(mid), k, k * us // 1000, "ok",
                int(px.shape[1]), int(px.shape[0]), average_hash(px),
                encode_png(px) if with_pixels else None))
        return rows
    except Exception as e:
        return [(int(mid), 0, 0, type(e).__name__,
                 None, None, None, None)]


def sample_frames(media: DataFrame, every_ms: int = 1000,
                  max_frames: int = 8) -> DataFrame:
    """Real video frame sampling: MJPEG-in-AVI demux + JPEG decode.

    1 video row -> N frame rows: the fan-out happens inside the Arrow
    stage, keeping frame payloads in the same batch as their source.
    Every frame is genuinely decoded (RIFF walk via avi_codec, pixels
    via jpeg_codec) and re-encoded as PNG; undecodable containers
    quarantine per-row.
    """
    return map_rows(media.filter(F.col("kind") == "video")
                    .select("media_id", "payload"),
                    lambda mid, payload: video_frame_rows(
                        mid, payload, every_ms, max_frames),
                    FRAME_SCHEMA)
