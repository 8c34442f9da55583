"""Minimal, dependency-free CBOR (RFC 8949) encoder/decoder.

Byte-compatible with the subset of CBOR that the reference emits through
``ciborium::into_writer`` (reference: src/encode/mod.rs:87-91):

* definite-length arrays / maps / strings only,
* shortest-form integer heads (minimal-length argument encoding),
* maps as *ordered association lists* — CBOR-LD pre-sorts entries itself
  (reference: src/transform.rs:483), so the writer must not reorder keys,
* floats in the smallest IEEE width that round-trips (half/single/double),
  matching ciborium's lossless float shrinking,
* tags (major type 6) for the 0x06xx CBOR-LD envelope.

The value model is plain Python: ``None | bool | int | float | str | bytes
| list | CborMap | CborTag``.  ``cbor2`` is not available in this
environment, and a hand-rolled ~200-line codec also gives us exact control
over canonical-form details that golden-byte tests depend on.
"""

from __future__ import annotations

import math
import struct
from dataclasses import dataclass
from typing import Any, Iterator, List, Tuple

__all__ = ["CborTag", "CborMap", "dumps", "loads"]


@dataclass
class CborTag:
    tag: int
    value: Any


class CborMap:
    """Ordered association list of (key, value); CBOR major type 5."""

    __slots__ = ("entries",)

    def __init__(self, entries: List[Tuple[Any, Any]] | None = None):
        self.entries = entries if entries is not None else []

    def __iter__(self) -> Iterator[Tuple[Any, Any]]:
        return iter(self.entries)

    def __len__(self) -> int:
        return len(self.entries)

    def __eq__(self, other: object) -> bool:
        return isinstance(other, CborMap) and self.entries == other.entries

    def __repr__(self) -> str:
        return f"CborMap({self.entries!r})"


# --- encoding ---------------------------------------------------------------

def _head(out: bytearray, major: int, arg: int) -> None:
    mt = major << 5
    if arg < 24:
        out.append(mt | arg)
    elif arg < 0x100:
        out.append(mt | 24)
        out.append(arg)
    elif arg < 0x10000:
        out.append(mt | 25)
        out += arg.to_bytes(2, "big")
    elif arg < 0x100000000:
        out.append(mt | 26)
        out += arg.to_bytes(4, "big")
    else:
        out.append(mt | 27)
        out += arg.to_bytes(8, "big")


def _encode_float(out: bytearray, v: float) -> None:
    # Smallest lossless width, like ciborium.
    if math.isnan(v):
        out += b"\xf9\x7e\x00"
        return
    try:
        h = struct.pack(">e", v)
        if struct.unpack(">e", h)[0] == v:
            out.append(0xF9)
            out += h
            return
    except (OverflowError, ValueError):
        pass
    try:
        f = struct.pack(">f", v)
        if struct.unpack(">f", f)[0] == v:
            out.append(0xFA)
            out += f
            return
    except (OverflowError, ValueError):
        pass
    out.append(0xFB)
    out += struct.pack(">d", v)


# The writer dispatches on the exact type (``_WRITERS``); subclasses and
# unsupported types take ``_encode``'s isinstance chain.  Containers call
# their items' writers directly: one frame per nesting level, as before.

def _write_int(out: bytearray, v: int) -> None:
    if 0 <= v < 24:
        out.append(v)
    elif 0 <= v < 0x100:  # most term ids
        out.append(24)
        out.append(v)
    elif v >= 0:
        _head(out, 0, v)
    else:
        _head(out, 1, -1 - v)


def _write_str(out: bytearray, v: str) -> None:
    b = v.encode("utf-8")
    n = len(b)
    if n < 24:
        out.append(0x60 | n)
    else:
        _head(out, 3, n)
    out += b


def _write_bytes(out: bytearray, v) -> None:
    _head(out, 2, len(v))
    out += v


def _write_list(out: bytearray, v: list) -> None:
    n = len(v)
    if n < 24:
        out.append(0x80 | n)
    else:
        _head(out, 4, n)
    get = _WRITERS.get
    for item in v:
        get(type(item), _encode)(out, item)


def _write_map(out: bytearray, v: "CborMap") -> None:
    entries = v.entries
    n = len(entries)
    if n < 24:
        out.append(0xA0 | n)
    else:
        _head(out, 5, n)
    get = _WRITERS.get
    for k, val in entries:
        get(type(k), _encode)(out, k)
        get(type(val), _encode)(out, val)


def _write_tag(out: bytearray, v: CborTag) -> None:
    _head(out, 6, v.tag)
    _WRITERS.get(type(v.value), _encode)(out, v.value)


_WRITERS = {
    type(None): lambda out, v: out.append(0xF6),
    bool: lambda out, v: out.append(0xF5 if v else 0xF4),
    int: _write_int,
    float: _encode_float,
    str: _write_str,
    bytes: _write_bytes,
    bytearray: _write_bytes,
    list: _write_list,
    CborMap: _write_map,
    CborTag: _write_tag,
}


def _encode(out: bytearray, v: Any) -> None:
    """Write a subclass of a supported type, or reject ``v``."""
    for cls in (int, float, str, bytes, bytearray, list, CborMap, CborTag):
        if isinstance(v, cls):
            return _WRITERS[cls](out, v)
    raise TypeError(f"cannot CBOR-encode {type(v)!r}")


def dumps(v: Any) -> bytes:
    out = bytearray()
    _WRITERS.get(type(v), _encode)(out, v)
    return bytes(out)


# --- decoding ---------------------------------------------------------------

class _Reader:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def take(self, n: int) -> bytes:
        if self.pos + n > len(self.buf):
            raise ValueError("truncated CBOR")
        b = self.buf[self.pos : self.pos + n]
        self.pos += n
        return b

    def byte(self) -> int:
        # direct index (no 1-byte bytes allocation per call — this is
        # the single hottest call in the decoder)
        pos = self.pos
        if pos >= len(self.buf):
            raise ValueError("truncated CBOR")
        self.pos = pos + 1
        return self.buf[pos]


def _read_arg(r: _Reader, info: int) -> int:
    if info < 24:
        return info
    if info == 24:
        return r.byte()
    if info == 25:
        return int.from_bytes(r.take(2), "big")
    if info == 26:
        return int.from_bytes(r.take(4), "big")
    if info == 27:
        return int.from_bytes(r.take(8), "big")
    raise ValueError(f"indefinite/reserved length (info={info}) unsupported")


def _decode(r: _Reader) -> Any:
    ib = r.byte()
    major, info = ib >> 5, ib & 0x1F
    if major == 0:
        return _read_arg(r, info)
    if major == 1:
        return -1 - _read_arg(r, info)
    if major == 2:
        return bytes(r.take(_read_arg(r, info)))
    if major == 3:
        return r.take(_read_arg(r, info)).decode("utf-8")
    if major == 4:
        return [_decode(r) for _ in range(_read_arg(r, info))]
    if major == 5:
        n = _read_arg(r, info)
        return CborMap([(_decode(r), _decode(r)) for _ in range(n)])
    if major == 6:
        return CborTag(_read_arg(r, info), _decode(r))
    # major == 7
    if info == 20:
        return False
    if info == 21:
        return True
    if info == 22:
        return None
    if info == 23:
        return None  # undefined -> null
    if info == 25:
        return struct.unpack(">e", r.take(2))[0]
    if info == 26:
        return struct.unpack(">f", r.take(4))[0]
    if info == 27:
        return struct.unpack(">d", r.take(8))[0]
    raise ValueError(f"unsupported simple value (info={info})")


def loads(data: bytes) -> Any:
    r = _Reader(data)
    v = _decode(r)
    if r.pos != len(data):
        raise ValueError(f"{len(data) - r.pos} trailing bytes after CBOR value")
    return v
