"""Tier-1 kernel goldens: byte-exact encode + order-insensitive decode.

Mirrors the reference suite (reference: tests/suite.rs:5-105,
tests/common.rs:54-105): for each vendored sample, (a) encoding must
produce the exact golden CBOR bytes, (b) decoding the golden bytes must
produce JSON canonically equal to the original, and (c) the inline-term
document must fail to encode (tests/suite.rs:60-67).
"""

import json
import os

import pytest

from cbor_ld_spark.kernel import (
    CborLdError,
    canonical_json,
    content_sha256,
    decode_document,
    encode_document,
    parse_json_document,
)

SAMPLES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "cbor_ld_spark", "fixtures", "samples",
)

# (name, registry_id) — vcb-* pairs use the VcBarcodes registry (100),
# matching reference tests/suite.rs:70-105; the other three use default (1).
GOLDEN_REG = [("note", 1), ("prc", 1), ("truage", 1),
              ("vcb-aamva", 100), ("vcb-mrz", 100)]
GOLDEN = ["note", "prc", "truage"]


def _read(name: str) -> str:
    with open(os.path.join(SAMPLES, name), encoding="utf-8") as f:
        return f.read()


@pytest.mark.parametrize("name,reg", GOLDEN_REG)
def test_encode_byte_exact(name, reg):
    from cbor_ld_spark.kernel.diagnostic import byte_diff

    expected = bytes.fromhex(_read(f"{name}.cbor.hex").strip())
    got = encode_document(_read(f"{name}.jsonld"), registry_id=reg)
    # F6 visualizer (reference tests/common.rs:107-155) on mismatch
    assert got == expected, byte_diff(got, expected)


@pytest.mark.parametrize("name,reg", GOLDEN_REG)
def test_decode_matches_original(name, reg):
    got = decode_document(bytes.fromhex(_read(f"{name}.cbor.hex").strip()))
    expected = json.loads(_read(f"{name}.jsonld"))
    assert canonical_json(got) == canonical_json(expected)


@pytest.mark.parametrize("name,reg", GOLDEN_REG + [("cit", 1)])
def test_round_trip_sha_invariant(name, reg):
    doc = json.loads(_read(f"{name}.jsonld"))
    back = decode_document(encode_document(doc, registry_id=reg))
    assert content_sha256(back) == content_sha256(doc)


def test_uncompressible_inline_context_fails():
    with pytest.raises(CborLdError):
        encode_document(_read("uncompressible.jsonld"))


def test_unmounted_context_fails():
    # didKey references https://www.w3.org/ns/did/v1 which is not vendored;
    # offline loaders must fail it deterministically (quarantine path).
    with pytest.raises(CborLdError):
        encode_document(_read("didKey.jsonld"))


def test_key_order_insensitive():
    doc = json.loads(_read("truage.jsonld"))
    # shuffle top-level key order; encoding sorts entries, so bytes match
    shuffled = dict(reversed(list(doc.items())))
    assert encode_document(shuffled) == encode_document(doc)


def test_duplicate_key_rejected():
    with pytest.raises(CborLdError):
        parse_json_document('{"@context": "x", "@context": "y"}')


def test_not_cbor_ld_tag():
    with pytest.raises(CborLdError):
        decode_document(b"\x00")


def test_compression_ratio_sanity():
    # truage: 1118 JSON bytes -> 510 CBOR bytes (~2.2x) per the reference
    # fixtures; guard against silent bloat.
    src = _read("truage.jsonld")
    out = encode_document(src)
    assert len(out) <= len(src.encode()) // 2


@pytest.mark.parametrize("issuer", [
    [[{"id": "did:example:123"}]],
    [[{"id": "did:example:1"}, {"id": "https://a.example/x"}],
     [{"id": "did:example:2"}]],
    [[]],
])
def test_nested_list_under_typed_term_round_trips(issuer):
    """A list in a list under an ``@id``-typed term encodes as a list of
    maps; the decoder must not read it as a compressed IRI."""
    from cbor_ld_spark.kernel.cbor import loads

    doc = {"@context": "https://www.w3.org/2018/credentials/v1",
           "type": "VerifiableCredential", "issuer": issuer,
           "issuanceDate": "2020-01-01T00:00:00Z",
           "credentialSubject": {"id": "did:example:456"}}
    data = encode_document(doc)
    assert isinstance(loads(data).value.entries[-1][1][0], list)
    back = decode_document(data)
    assert back["issuer"] == issuer
    assert content_sha256(back) == content_sha256(doc)
