"""Pure-Python CBOR-LD kernel (no Spark imports here).

Everything in this package is deterministic, per-document, and
dependency-free so it can run inside Arrow-batched Python stages on
Spark executors without any cluster-side state.
"""

from .canonical import canonical_json, content_sha256, text_sha256
from .errors import CborLdError, ContextError, DecodeError, EncodeError
from .transform import (
    decode_document,
    encode_document,
    parse_json_document,
)

__all__ = [
    "CborLdError",
    "ContextError",
    "DecodeError",
    "EncodeError",
    "canonical_json",
    "content_sha256",
    "decode_document",
    "encode_document",
    "parse_json_document",
    "text_sha256",
]
