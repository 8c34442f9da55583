"""Pure-Python/numpy media codecs (no external imaging/audio libraries).

Real decoders for the formats that need nothing beyond the stdlib:

* PNG  — full pixel decode: chunk walk, zlib inflate, scanline
  unfilter (filters 0-4 incl. Paeth), 8-bit gray/RGB/RGBA/gray+alpha.
  Adam7 interlace is rejected (quarantined), not faked.
* PPM/PGM (P5/P6) — ASCII header + raw samples.
* BMP — BITMAPINFOHEADER, uncompressed 24/32 bpp, bottom-up rows.
* JPEG/GIF — header-only metadata (dimensions from SOF / screen
  descriptor); their pixel decoders are operators/jpeg_codec.py and
  operators/gif_codec.py.
* WAV — RIFF/WAVE fmt+data walk, 16-bit PCM to numpy.

Encoders for PNG (filter-0 + zlib) and PPM close the loop so stages can
emit real, re-decodable payloads (video frames re-encode as PNG), and
the test corpus can be synthesized deterministically without fixtures.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np


class MediaDecodeError(ValueError):
    """Typed decode failure (quarantine column carries the message)."""


# --- PNG ---------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# color type -> samples per pixel
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}
# Untrusted-payload guard: a hostile IHDR (or zlib bomb) must not be able to
# allocate unbounded memory or burn unbounded interpreted CPU inside one task
# — decode errors quarantine, but MemoryError would kill the executor.
_PNG_MAX_PIXELS = 1 << 26  # 64M pixels ≈ 256 MB RGBA, far above any test tier


def _png_unfilter(raw: bytes, width: int, height: int, nch: int) -> np.ndarray:
    stride = width * nch
    out = np.empty((height, stride), dtype=np.uint8)
    pos = 0
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(height):
        ftype = raw[pos]
        pos += 1
        line = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=pos)
        pos += stride
        if ftype == 0:
            cur = line.copy()
        elif ftype == 1:  # Sub — per-channel prefix sum mod 256 (vectorized)
            cur = line.reshape(width, nch).astype(np.int64)
            cur = (np.cumsum(cur, axis=0) & 0xFF).astype(np.uint8).reshape(stride)
        elif ftype == 2:  # Up
            cur = (line + prev).astype(np.uint8)
        elif ftype == 3:  # Average
            cur = line.copy()
            for x in range(stride):
                left = cur[x - nch] if x >= nch else 0
                cur[x] = (cur[x] + ((int(left) + int(prev[x])) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            cur = line.copy()
            for x in range(stride):
                a = int(cur[x - nch]) if x >= nch else 0
                b = int(prev[x])
                c = int(prev[x - nch]) if x >= nch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (cur[x] + pred) & 0xFF
        else:
            raise MediaDecodeError(f"unknown PNG filter {ftype}")
        out[y] = cur
        prev = cur
    return out.reshape(height, width, nch)


def decode_png(payload: bytes) -> np.ndarray:
    """PNG bytes -> uint8 array (h, w, channels)."""
    if not payload.startswith(_PNG_SIG):
        raise MediaDecodeError("bad PNG signature")
    pos = 8
    width = height = None
    nch = None
    idat = []
    while pos + 8 <= len(payload):
        (length,), ctype = struct.unpack(">I", payload[pos:pos + 4]), \
            payload[pos + 4:pos + 8]
        data = payload[pos + 8:pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            width, height, depth, color, _comp, _filt, interlace = \
                struct.unpack(">IIBBBBB", data)
            if depth != 8:
                raise MediaDecodeError(f"unsupported PNG bit depth {depth}")
            if color not in _PNG_CHANNELS:
                raise MediaDecodeError(f"unsupported PNG color type {color}")
            if interlace:
                raise MediaDecodeError("Adam7 interlace not supported")
            if width == 0 or height == 0 or width * height > _PNG_MAX_PIXELS:
                raise MediaDecodeError(
                    f"PNG dimensions out of bounds ({width}x{height})")
            nch = _PNG_CHANNELS[color]
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
    if width is None or not idat:
        raise MediaDecodeError("truncated PNG (no IHDR/IDAT)")
    # Bounded inflate: expected size is known from IHDR, so never let a
    # zlib bomb expand past expect+1 bytes (the +1 detects overrun).
    expect = height * (1 + width * nch)
    try:
        dec = zlib.decompressobj()
        raw = dec.decompress(b"".join(idat), expect + 1)
    except zlib.error as exc:
        raise MediaDecodeError(f"bad PNG zlib stream: {exc}") from exc
    if len(raw) > expect or dec.unconsumed_tail:
        raise MediaDecodeError("PNG pixel data overruns IHDR dimensions")
    if len(raw) < expect:
        raise MediaDecodeError("truncated PNG pixel data")
    return _png_unfilter(raw, width, height, nch)


def encode_png(pixels: np.ndarray) -> bytes:
    """uint8 array (h, w[, channels]) -> PNG bytes (filter 0 rows)."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        px = px[:, :, None]
    h, w, nch = px.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[nch]

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    raw = b"".join(b"\x00" + px[y].tobytes() for y in range(h))
    return (_PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw, 6)) + chunk(b"IEND", b""))


# --- PPM / PGM ---------------------------------------------------------------

def decode_ppm(payload: bytes) -> np.ndarray:
    """P5 (gray) / P6 (RGB) binary netpbm -> uint8 (h, w, channels)."""
    if payload[:2] not in (b"P5", b"P6"):
        raise MediaDecodeError("not a binary PPM/PGM")
    nch = 3 if payload[:2] == b"P6" else 1
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos:pos + 1].isspace():
            pos += 1
        if payload[pos:pos + 1] == b"#":  # comment to EOL
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos:pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = fields
    if maxval != 255:
        raise MediaDecodeError(f"unsupported maxval {maxval}")
    need = w * h * nch
    if len(payload) - pos < need:
        raise MediaDecodeError("truncated PPM pixel data")
    return np.frombuffer(payload, dtype=np.uint8, count=need,
                         offset=pos).reshape(h, w, nch)


def encode_ppm(pixels: np.ndarray) -> bytes:
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        px = px[:, :, None]
    h, w, nch = px.shape
    if nch == 1:
        return b"P5\n%d %d\n255\n" % (w, h) + px.tobytes()
    if nch == 2:  # gray+alpha: netpbm has no alpha — keep the gray plane
        return b"P5\n%d %d\n255\n" % (w, h) + px[:, :, 0].tobytes()
    # RGB / RGBA (alpha dropped)
    return b"P6\n%d %d\n255\n" % (w, h) + px[:, :, :3].tobytes()


# --- BMP ---------------------------------------------------------------------

def decode_bmp(payload: bytes) -> np.ndarray:
    if payload[:2] != b"BM":
        raise MediaDecodeError("not a BMP")
    data_off = struct.unpack("<I", payload[10:14])[0]
    hdr_size = struct.unpack("<I", payload[14:18])[0]
    if hdr_size < 40:
        raise MediaDecodeError("unsupported BMP header")
    w, h = struct.unpack("<ii", payload[18:26])
    planes, bpp = struct.unpack("<HH", payload[26:30])
    comp = struct.unpack("<I", payload[30:34])[0]
    if comp != 0 or bpp not in (24, 32):
        raise MediaDecodeError(f"unsupported BMP (bpp={bpp}, comp={comp})")
    flip = h > 0
    h = abs(h)
    nch = bpp // 8
    row_bytes = (w * nch + 3) & ~3
    need = data_off + row_bytes * h
    if len(payload) < need:
        raise MediaDecodeError("truncated BMP pixel data")
    rows = np.frombuffer(payload, dtype=np.uint8, count=row_bytes * h,
                         offset=data_off).reshape(h, row_bytes)
    px = rows[:, :w * nch].reshape(h, w, nch)
    if flip:
        px = px[::-1]
    # BGR(A) -> RGB(A)
    out = px.copy()
    out[:, :, 0], out[:, :, 2] = px[:, :, 2], px[:, :, 0]
    return out


# --- JPEG / GIF header metadata ----------------------------------------------

def jpeg_dimensions(payload: bytes) -> tuple[int, int]:
    """Width/height from the first SOF marker (no pixel decode)."""
    if payload[:3] != b"\xff\xd8\xff":
        raise MediaDecodeError("not a JPEG")
    pos = 2
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            pos += 1
            continue
        marker = payload[pos + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        seglen = struct.unpack(">H", payload[pos + 2:pos + 4])[0]
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            h, w = struct.unpack(">HH", payload[pos + 5:pos + 9])
            return w, h
        pos += 2 + seglen
    raise MediaDecodeError("no JPEG SOF marker found")


def gif_dimensions(payload: bytes) -> tuple[int, int]:
    if payload[:4] != b"GIF8":
        raise MediaDecodeError("not a GIF")
    w, h = struct.unpack("<HH", payload[6:10])
    return w, h


# --- WAV ---------------------------------------------------------------------

def decode_wav(payload: bytes) -> tuple[int, int, np.ndarray]:
    """RIFF/WAVE 16-bit PCM -> (sample_rate, channels, samples int16
    array of shape (n_frames, channels))."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise MediaDecodeError("not a RIFF/WAVE file")
    pos = 12
    rate = nch = None
    data = None
    while pos + 8 <= len(payload):
        cid = payload[pos:pos + 4]
        clen = struct.unpack("<I", payload[pos + 4:pos + 8])[0]
        body = payload[pos + 8:pos + 8 + clen]
        pos += 8 + clen + (clen & 1)
        if cid == b"fmt ":
            fmt_tag, nch, rate = struct.unpack("<HHI", body[:8])
            bits = struct.unpack("<H", body[14:16])[0]
            if fmt_tag != 1 or bits != 16:
                raise MediaDecodeError(
                    f"unsupported WAV (fmt={fmt_tag}, bits={bits})")
        elif cid == b"data":
            data = body
    if rate is None or data is None:
        raise MediaDecodeError("truncated WAV (no fmt/data chunk)")
    samples = np.frombuffer(data, dtype="<i2")
    n = len(samples) - len(samples) % nch
    return rate, nch, samples[:n].reshape(-1, nch)


def encode_wav(samples: np.ndarray, rate: int) -> bytes:
    s = np.asarray(samples, dtype="<i2")
    if s.ndim == 1:
        s = s[:, None]
    nch = s.shape[1]
    data = s.tobytes()
    fmt = struct.pack("<HHIIHH", 1, nch, rate, rate * nch * 2, nch * 2, 16)
    return (b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
            + b"fmt " + struct.pack("<I", 16) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)


# --- pixel ops ----------------------------------------------------------------

def resize_nearest(pixels: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbor resize (h, w, c) -> (height, width, c)."""
    h, w = pixels.shape[:2]
    ys = (np.arange(height) * h // height).clip(0, h - 1)
    xs = (np.arange(width) * w // width).clip(0, w - 1)
    return pixels[ys][:, xs]


def average_hash(pixels: np.ndarray, bits: int = 8) -> str:
    """aHash: block-mean downsample to bits x bits, threshold by mean."""
    gray = pixels.mean(axis=2) if pixels.ndim == 3 else pixels
    small = resize_nearest(gray[:, :, None].astype(np.float64),
                           bits, bits)[:, :, 0]
    flat = (small > small.mean()).flatten()
    val = 0
    for b in flat:
        val = (val << 1) | int(b)
    return f"{val:0{bits * bits // 4}x}"
