"""RIFF/AVI MJPEG container codec: roundtrip, structure, hostile input."""

import struct

import numpy as np
import pytest

from cbor_ld_spark.operators.avi_codec import (
    MAX_FRAMES,
    decode_avi_mjpeg,
    encode_avi_mjpeg,
)
from cbor_ld_spark.operators.jpeg_codec import decode_jpeg, encode_jpeg
from cbor_ld_spark.operators.media_codecs import MediaDecodeError


def _jpegs(n, w=24, h=16, seed=7):
    rng = np.random.default_rng(seed)
    return [encode_jpeg(rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8))
            for _ in range(n)]


def test_avi_roundtrip_byte_exact_frames():
    jpegs = _jpegs(5)
    avi = encode_avi_mjpeg(jpegs, 24, 16, us_per_frame=200_000)
    us, w, h, out = decode_avi_mjpeg(avi)
    assert (us, w, h) == (200_000, 24, 16)
    assert out == jpegs  # container is lossless over the JPEG payloads
    for j in out:
        assert decode_jpeg(j).shape == (16, 24, 3)


def test_avi_header_sizes_and_index():
    """Spec structure: avih and strh are 56-byte chunks, idx1 has one
    16-byte entry per frame, movi chunks are even-padded."""
    jpegs = _jpegs(3, w=9, h=7)  # odd JPEG sizes exercise padding
    avi = encode_avi_mjpeg(jpegs, 9, 7, us_per_frame=125_000)
    for fourcc in (b"avih", b"strh"):
        i = avi.find(fourcc)
        assert i > 0
        assert struct.unpack("<I", avi[i + 4:i + 8])[0] == 56
    i = avi.find(b"idx1")
    assert struct.unpack("<I", avi[i + 4:i + 8])[0] == 16 * 3
    assert struct.unpack("<I", avi[4:8])[0] == len(avi) - 8
    assert len(avi) % 2 == 0


def test_avi_single_frame_and_empty():
    jpegs = _jpegs(1)
    us, _w, _h, out = decode_avi_mjpeg(
        encode_avi_mjpeg(jpegs, 24, 16, us_per_frame=100_000))
    assert us == 100_000 and out == jpegs
    with pytest.raises(ValueError):
        encode_avi_mjpeg([], 8, 8)
    with pytest.raises(ValueError):
        encode_avi_mjpeg(_jpegs(1), 8, 8, us_per_frame=0)


def test_avi_hostile_inputs_typed_errors():
    avi = encode_avi_mjpeg(_jpegs(2), 24, 16)
    hostile = [
        b"",
        b"RIFF",
        b"RIFF\x00\x00\x00\x00AVI ",            # headers but no chunks
        b"RIFF\xff\xff\xff\xffAVI " + b"x" * 16,  # size exceeds payload
        avi[:40],                                 # truncated mid-header
        avi[:len(avi) // 2],                      # truncated mid-movi
        b"RIFF" + avi[4:8] + b"WAVE" + avi[12:],  # wrong form type
    ]
    for bad in hostile:
        with pytest.raises(MediaDecodeError):
            decode_avi_mjpeg(bad)


def test_avi_frame_cap():
    """A container claiming > MAX_FRAMES records quarantines with a
    typed error before decoding work amplifies."""
    tiny = b"\xff\xd8\xff\xdb fake!"  # even-sized fake record
    body = b"".join(b"00dc" + struct.pack("<I", len(tiny)) + tiny
                    for _ in range(MAX_FRAMES + 1))
    avih = b"avih" + struct.pack("<I", 56) + struct.pack(
        "<14I", 100_000, 0, 0, 0, MAX_FRAMES + 1, 0, 1, 0, 8, 8, 0, 0, 0, 0)
    movi = b"LIST" + struct.pack("<I", 4 + len(body)) + b"movi" + body
    content = b"AVI " + avih + movi
    payload = b"RIFF" + struct.pack("<I", len(content)) + content
    with pytest.raises(MediaDecodeError, match="demux cap"):
        decode_avi_mjpeg(payload)


def test_avi_deeply_nested_lists_no_recursion_error():
    """A crafted payload of ~5000 nested LIST headers must hit the typed
    MediaDecodeError contract (missing avih), never a RecursionError —
    the chunk walk is iterative with an explicit stack."""
    import sys

    depth = sys.getrecursionlimit() * 5
    body = b"fooo"
    for _ in range(depth):
        inner = b"hdrl" + body
        pad = b"\x00" if len(inner) % 2 else b""
        body = b"LIST" + struct.pack("<I", len(inner)) + inner + pad
    content = b"AVI " + body
    payload = b"RIFF" + struct.pack("<I", len(content)) + content
    with pytest.raises(MediaDecodeError, match="timing header"):
        decode_avi_mjpeg(payload)


def test_avi_nested_movi_frames_in_order():
    """Frames split across sibling 'movi'-nested LISTs still come out in
    presentation order under the iterative walk."""
    f1, f2, f3 = b"AA", b"BB", b"CC"

    def chunk(ckid, body):
        pad = b"\x00" if len(body) % 2 else b""
        return ckid + struct.pack("<I", len(body)) + body + pad

    rec = b"".join(chunk(b"00dc", f) for f in (f1, f2))
    inner_list = chunk(b"LIST", b"rec " + chunk(b"00dc", f3))
    avih = chunk(b"avih", struct.pack(
        "<14I", 100_000, 0, 0, 0, 3, 0, 1, 2, 8, 8, 0, 0, 0, 0))
    movi = chunk(b"LIST", b"movi" + rec + inner_list)
    content = b"AVI " + avih + movi
    payload = b"RIFF" + struct.pack("<I", len(content)) + content
    us, w, h, frames = decode_avi_mjpeg(payload)
    assert (us, w, h) == (100_000, 8, 8)
    assert frames == [f1, f2, f3]


def test_avi_encode_u32_overflow_guard(monkeypatch):
    """Total body length must be validated against the RIFF u32 limit with
    a clear ValueError, not an untyped struct.error.  (Simulated: a fake
    4 GiB frame via a len-lying bytes subclass — allocating one for real
    would need 4 GiB.)"""
    class _Huge(bytes):
        def __len__(self):
            return 0x1_0000_0001

    with pytest.raises(ValueError, match="u32 size limit"):
        encode_avi_mjpeg([_Huge(b"\xff\xd8")], 8, 8)


def test_video_frame_rows_quarantine_and_strict():
    from cbor_ld_spark.operators.multimodal import video_frame_rows

    rows = video_frame_rows(5, b"NOTAVIDEO", 100, 8)
    assert len(rows) == 1 and rows[0][3] == "MediaDecodeError"


def test_video_frame_rows_stride_sampling():
    """every_ms much larger than the frame interval skips frames: at
    10 fps (100ms/frame), every_ms=300 keeps source indices 0,3,6..."""
    from cbor_ld_spark.operators.multimodal import video_frame_rows

    jpegs = _jpegs(8)
    avi = encode_avi_mjpeg(jpegs, 24, 16, us_per_frame=100_000)
    rows = video_frame_rows(1, avi, 300, 8)
    assert [r[1] for r in rows] == [0, 3, 6]
    assert [r[2] for r in rows] == [0, 300, 600]
    rows = video_frame_rows(1, avi, 100, 4)
    assert [r[1] for r in rows] == [0, 1, 2, 3]  # max_frames cap


def test_avi_nested_lists_linear_memory():
    """The index-based walk must decode a ~1 MiB deeply-nested payload
    (~40k LIST levels) in linear time/memory — the slicing version was
    quadratic (~40 GB of copies) and would hang far past this timeout."""
    import time

    depth = 40_000
    body = b"fooo"
    for _ in range(depth):
        inner = b"hdrl" + body
        pad = b"\x00" if len(inner) % 2 else b""
        body = b"LIST" + struct.pack("<I", len(inner)) + inner + pad
    content = b"AVI " + body
    payload = b"RIFF" + struct.pack("<I", len(content)) + content
    t0 = time.monotonic()
    with pytest.raises(MediaDecodeError, match="timing header"):
        decode_avi_mjpeg(payload)
    assert time.monotonic() - t0 < 5.0
