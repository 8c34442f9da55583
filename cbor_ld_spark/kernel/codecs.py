"""IRI codecs and type-directed value codecs.

Re-expresses the reference codec registries in Python:

* IRI codecs keyed by scheme prefix + integer id — http=1, https=2,
  urn:uuid=3, data=4, did:v1:nym=1024, did:key=1025 (reference:
  src/codecs/iri/mod.rs:119-132); encoded form is a CBOR array
  ``[codec_id, *payload]``, unknown schemes stay verbatim text
  (src/codecs/iri/mod.rs:63-72).
* Type codecs keyed by the context's ``@type`` coercion — @id, @vocab,
  security#multibase, xsd:date, xsd:dateTime (src/codecs/mod.rs:70-88).

All codecs are stateless pure functions over small strings — they run
inside Arrow-batched Python stages on executors.
"""

from __future__ import annotations

import re
import uuid as _uuid
from datetime import date as _date

from .errors import DecodeError, EncodeError
from .multiformats import (
    base58btc_encode,
    multibase_decode,
    multibase_encode,
    _b64_decode_nopad,
    _b64_encode_nopad,
)

MULTIBASE_TYPE = "https://w3id.org/security#multibase"
XSD_DATE = "http://www.w3.org/2001/XMLSchema#date"
XSD_DATE_TIME = "http://www.w3.org/2001/XMLSchema#dateTime"

_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:")
_IRI_BAD_CHARS = re.compile(r"[\x00-\x20<>\"{}|\\^`]")


from functools import lru_cache


@lru_cache(maxsize=16384)
def is_absolute_iri(value: str) -> bool:
    """Approximation of ``iref::Iri::new`` validity: scheme + no forbidden chars."""
    return bool(_SCHEME_RE.match(value)) and not _IRI_BAD_CHARS.search(value)


# --- IRI codecs -------------------------------------------------------------

class HttpUrlCodec:
    """reference: src/codecs/iri/http.rs:6-27 (assumes //authority).

    Divergence-as-fix: the reference blindly strips two chars (its own
    FIXME) which corrupts authority-less IRIs like ``http:example``;
    returning None here makes encode_iri fall back to verbatim text,
    which is lossless.  Golden bytes unaffected (all fixture URLs have
    an authority).
    """

    @staticmethod
    def encode(suffix: str):
        if not suffix.startswith("//"):
            return None
        return [suffix[2:]]

    @staticmethod
    def decode(payload: list) -> str:
        if len(payload) != 1 or not isinstance(payload[0], str):
            raise DecodeError("Codec", "url: expected single text payload")
        return "//" + payload[0]


class UrnUuidCodec:
    """reference: src/codecs/iri/urn.rs:8-32."""

    @staticmethod
    def encode(suffix: str) -> list:
        try:
            u = _uuid.UUID(suffix)
        except ValueError as e:
            raise EncodeError("Codec", f"urn:uuid: {e}") from None
        return [u.bytes]

    @staticmethod
    def decode(payload: list) -> str:
        if len(payload) != 1 or not isinstance(payload[0], bytes):
            raise DecodeError("Codec", "urn:uuid: expected single bytes payload")
        if len(payload[0]) != 16:
            raise DecodeError("Codec", "urn:uuid: invalid UUID")
        return str(_uuid.UUID(bytes=payload[0]))


_MEDIA_TYPE_CHAR = re.compile(r"[A-Za-z0-9/!#$&\-+^_.]")


def _parse_data_url(url: str):
    """reference: src/codecs/iri/data.rs:62-99 (returns None if unparseable)."""
    for i, c in enumerate(url):
        if c == ",":
            return url[:i], False, url[i + 1:]
        if c == ";":
            j = i + 8
            if len(url) >= j and url[i + 1: j] == "base64,":
                return url[:i], True, url[j:]
            return None
        if not _MEDIA_TYPE_CHAR.match(c):
            return None
    return None


class DataUrlCodec:
    """reference: src/codecs/iri/data.rs:8-53."""

    @staticmethod
    def encode(suffix: str) -> list:
        parsed = _parse_data_url(suffix)
        if parsed is not None:
            media_type, is_b64, data = parsed
            if is_b64:
                try:
                    # multibase Base64 = RFC4648 without padding
                    raw = _b64_decode_nopad(data, urlsafe=False)
                    return [media_type, raw]
                except Exception:
                    pass
        return [suffix]

    @staticmethod
    def decode(payload: list) -> str:
        if len(payload) == 1:
            if not isinstance(payload[0], str):
                raise DecodeError("Codec", "data: expected text")
            return payload[0]
        if len(payload) == 2:
            media_type, raw = payload
            if not isinstance(media_type, str) or not isinstance(raw, bytes):
                raise DecodeError("Codec", "data: expected [text, bytes]")
            return f"{media_type};base64,{_b64_encode_nopad(raw, urlsafe=False)}"
        raise DecodeError("Codec", "data: invalid array length")


class Base58DidMethodCodec:
    """reference: src/codecs/iri/did.rs:8-61."""

    @staticmethod
    def encode(suffix: str) -> list:
        try:
            if "#" in suffix:
                ident, fragment = suffix.split("#", 1)
                return [multibase_decode(ident)[1], multibase_decode(fragment)[1]]
            return [multibase_decode(suffix)[1]]
        except ValueError as e:
            raise EncodeError("Codec", f"base58-did-method: {e}") from None

    @staticmethod
    def decode(payload: list) -> str:
        if not payload or not all(isinstance(p, bytes) for p in payload):
            raise DecodeError("Codec", "base58-did-method: expected bytes")
        if len(payload) == 1:
            return "z" + base58btc_encode(payload[0])
        if len(payload) == 2:
            return ("z" + base58btc_encode(payload[0]) + "#" +
                    "z" + base58btc_encode(payload[1]))
        raise DecodeError("Codec", "base58-did-method: invalid array length")


# Linear prefix scan, like the reference (src/codecs/iri/mod.rs:39-47).
IRI_CODECS: tuple[tuple[str, int, object], ...] = (
    ("http:", 1, HttpUrlCodec),
    ("https:", 2, HttpUrlCodec),
    ("urn:uuid:", 3, UrnUuidCodec),
    ("data:", 4, DataUrlCodec),
    ("did:v1:nym:", 1024, Base58DidMethodCodec),
    ("did:key:", 1025, Base58DidMethodCodec),
)

IRI_CODECS_BY_ID = {cid: (prefix, codec) for prefix, cid, codec in IRI_CODECS}


def encode_iri(iri: str):
    """IRI -> [codec_id, *payload] or verbatim text.

    A codec returning None declines (unrepresentable shape) and the IRI
    stays verbatim text — always lossless.
    """
    for prefix, cid, codec in IRI_CODECS:
        if iri.startswith(prefix):
            payload = codec.encode(iri[len(prefix):])
            if payload is None:
                return iri
            return [cid, *payload]
    return iri


def decode_iri(value) -> str:
    if isinstance(value, str):
        iri = value
    elif isinstance(value, list):
        if not value:
            raise DecodeError("Codec", "iri: missing IRI type")
        cid = value[0]
        if isinstance(cid, bool) or not isinstance(cid, int):
            raise DecodeError("Codec", "iri: invalid codec ID")
        entry = IRI_CODECS_BY_ID.get(cid)
        if entry is None:
            raise DecodeError("Codec", f"iri: unknown codec ID {cid}")
        prefix, codec = entry
        iri = prefix + codec.decode(value[1:])
    else:
        raise DecodeError("Codec", "iri: expected text or array")
    if not is_absolute_iri(iri):
        raise DecodeError("Codec", f"iri: invalid IRI {iri!r}")
    return iri


# --- XSD date / dateTime ----------------------------------------------------

_XSD_DATE_RE = re.compile(
    r"^(-?\d{4,})-(\d{2})-(\d{2})(Z|[+-]\d{2}:\d{2})?$"
)
_XSD_DATE_TIME_RE = re.compile(
    r"^(-?\d{4,})-(\d{2})-(\d{2})T(\d{2}):(\d{2}):(\d{2})(\.\d+)?(Z|[+-]\d{2}:\d{2})?$"
)

_EPOCH_ORDINAL = _date(1970, 1, 1).toordinal()


def _ymd_to_epoch_days(y: int, mo: int, d: int) -> int:
    return _date(y, mo, d).toordinal() - _EPOCH_ORDINAL


def _parse_offset(tz: str | None) -> int | None:
    """Offset seconds, or None when no timezone given."""
    if tz is None:
        return None
    if tz == "Z":
        return 0
    sign = 1 if tz[0] == "+" else -1
    h, m = int(tz[1:3]), int(tz[4:6])
    return sign * (h * 3600 + m * 60)


def encode_xsd_date(value: str):
    """reference: src/codecs/xsd_date.rs:8-31 — offset-bearing dates only."""
    m = _XSD_DATE_RE.match(value)
    if m is None:
        raise EncodeError("Codec", f"xsd-date: invalid lexical form {value!r}")
    off = _parse_offset(m.group(4))
    if off is None:
        return value  # no offset -> uncompressed text
    try:
        days = _ymd_to_epoch_days(int(m.group(1)), int(m.group(2)), int(m.group(3)))
    except ValueError as e:
        raise EncodeError("Codec", f"xsd-date: {e}") from None
    return days * 86400 - off


def decode_xsd_date(value) -> str:
    if isinstance(value, str):
        return value
    if isinstance(value, bool) or not isinstance(value, int):
        raise DecodeError("Codec", "xsd-date: expected text or integer")
    days, rem = divmod(value, 86400)
    try:
        d = _date.fromordinal(days + _EPOCH_ORDINAL)
    except (ValueError, OverflowError):
        raise DecodeError("Codec", "xsd-date: overflow") from None
    # Rendered with UTC offset, like the reference (src/codecs/xsd_date.rs:43-52).
    return f"{d.isoformat()}Z"


def encode_xsd_date_time(value: str):
    """reference: src/codecs/xsd_date_time.rs:8-44.

    Exact instants (offset present) compress to epoch seconds (second
    precision) or [seconds, milliseconds]; everything else stays text.
    """
    m = _XSD_DATE_TIME_RE.match(value)
    if m is None:
        raise EncodeError("Codec", f"xsd-date-time: invalid lexical form {value!r}")
    off = _parse_offset(m.group(8))
    if off is None:
        return value  # ambiguous instant (±14h window) -> uncompressed
    try:
        days = _ymd_to_epoch_days(int(m.group(1)), int(m.group(2)), int(m.group(3)))
    except ValueError as e:
        raise EncodeError("Codec", f"xsd-date-time: {e}") from None
    h, mi, s = int(m.group(4)), int(m.group(5)), int(m.group(6))
    if h == 24:
        h = 0
        days += 1
    secs = days * 86400 + h * 3600 + mi * 60 + s - off
    frac = m.group(7)
    # truncate (never round) to microseconds, exactly like the
    # reference's timestamp_micros: rounding could manufacture
    # [secs, 1000] which no decoder accepts
    micros = int((frac[1:] + "000000")[:6]) if frac else 0
    if micros == 0:
        return secs
    if micros % 1000 == 0:
        return [secs, micros // 1000]
    return value


def _render_utc(secs: int, millis: int = 0) -> str:
    days, rem = divmod(secs, 86400)
    try:
        d = _date.fromordinal(days + _EPOCH_ORDINAL)
    except (ValueError, OverflowError):
        raise DecodeError("Codec", "xsd-date-time: overflow") from None
    h, rem = divmod(rem, 3600)
    mi, s = divmod(rem, 60)
    if millis:
        frac = f"{millis:03d}".rstrip("0")
        return f"{d.isoformat()}T{h:02d}:{mi:02d}:{s:02d}.{frac}Z"
    return f"{d.isoformat()}T{h:02d}:{mi:02d}:{s:02d}Z"


def decode_xsd_date_time(value) -> str:
    if isinstance(value, str):
        return value
    if isinstance(value, bool):
        raise DecodeError("Codec", "xsd-date-time: expected text/int/array")
    if isinstance(value, int):
        return _render_utc(value)
    if isinstance(value, list):
        if len(value) != 2 or any(isinstance(v, bool) or not isinstance(v, int) for v in value):
            raise DecodeError("Codec", "xsd-date-time: expected [seconds, millis]")
        if not 0 <= value[1] < 1000:
            # reference: chrono timestamp_opt rejects >=1e9 ns
            raise DecodeError("Codec", f"xsd-date-time: millis out of range {value[1]}")
        return _render_utc(value[0], value[1])
    raise DecodeError("Codec", "xsd-date-time: expected text/int/array")


# --- multibase type codec ---------------------------------------------------

def encode_multibase(value: str):
    """reference: src/codecs/multibase.rs:7-24 — [base code byte ++ raw]."""
    try:
        code, raw = multibase_decode(value)
    except ValueError as e:
        raise EncodeError("Codec", f"multibase: {e}") from None
    return bytes([ord(code)]) + raw


def decode_multibase(value) -> str:
    if not isinstance(value, bytes):
        raise DecodeError("Codec", "multibase: expected bytes")
    if not value:
        raise DecodeError("Codec", "multibase: empty bytes")
    try:
        return multibase_encode(chr(value[0]), value[1:])
    except ValueError as e:
        raise DecodeError("Codec", f"multibase: {e}") from None
