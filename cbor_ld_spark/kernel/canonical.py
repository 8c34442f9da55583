"""Canonical JSON + content hashing.

The reference's decode oracle is order-insensitive, whitespace-free JSON
equality (``as_unordered()``, reference: tests/common.rs:104,
src/utils.rs:3-15).  We realize the same equivalence class as a canonical
string: keys sorted, no whitespace, NFC-free ASCII escapes disabled —
then sha256 it.  ``sha256(canonical(decode(encode(doc)))) ==
sha256(canonical(doc))`` is the per-row round-trip invariant the pipeline
checks for every encodable document (BASELINE.json content-sha256 rule).
"""

from __future__ import annotations

import hashlib
import json
from typing import Any


# one encoder for every call: json.dumps builds a new one per call when
# given non-default options
canonical_json = json.JSONEncoder(sort_keys=True, separators=(",", ":"),
                                  ensure_ascii=False).encode


def content_sha256(value: Any) -> str:
    return hashlib.sha256(canonical_json(value).encode("utf-8")).hexdigest()


def text_sha256(text: str | bytes) -> str:
    if isinstance(text, str):
        text = text.encode("utf-8")
    return hashlib.sha256(text).hexdigest()
