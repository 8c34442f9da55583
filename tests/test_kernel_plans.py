"""Node plans (kernel.transform) must not change what a document gives.

A plan is keyed on the allocation state, the active context and the
node's keys (on encode also which values are lists), and its headers on
the ``@type`` values.  Inputs that compare equal to a cached key but are
not the same value (``True == 1 == 1.0``), keys that are not strings, and
loaders that resolve one URL differently must give in a warm process what
they give in a cold one.
"""

import json
import os
import subprocess
import sys

import pytest

from cbor_ld_spark.kernel import decode_document, encode_document
from cbor_ld_spark.kernel.cbor import CborMap, CborTag, dumps, loads
from cbor_ld_spark.kernel.expand import expand_to_triples
from cbor_ld_spark.kernel.loader import StaticLoader
from cbor_ld_spark.kernel.transform import encode_with_triples

CRED = "https://www.w3.org/2018/credentials/v1"
URL = "https://ctx.example/plans"
SCOPED = "https://ctx.example/plans-scoped"
LOADERS = {
    "a": {URL: {"@context": {
              "name": "https://a.example/name",
              "T": {"@id": "https://a.example/T", "@context": SCOPED}}},
          SCOPED: {"@context": {"p": "https://a.example/p"}}},
    "b": {URL: {"@context": {
              "name": {"@id": "https://b.example/name", "@type": "@id"},
              "p": "https://b.example/p",
              "T": {"@id": "https://b.example/T", "@context": SCOPED}}},
          SCOPED: {"@context": {"q": "https://b.example/q"}}},
}


def _credential_tree(context, types="VerifiableCredential") -> CborTag:
    return loads(encode_document({
        "@context": context, "type": types,
        "credentialSubject": {"id": "did:example:456"}}))


def _swap_key(tree: CborTag, old, new) -> bytes:
    root = tree.value
    root.entries = [(new if k == old and type(k) is type(old) else k, v)
                    for k, v in root.entries]
    return dumps(tree)


def _add_type(tree: CborTag, value) -> bytes:
    # the credential's plural @type entry is its list of int ids; id 1
    # decodes to the type "@context", which has no scoped context.  The
    # subject's id gets an unknown IRI codec: that error comes after the
    # header, from the entry that sorts before "type", so a header
    # wrongly shared with 1 would hide the type value's own error
    root = tree.value
    root.entries = [(k, [*v, value] if isinstance(v, list)
                     else CborMap([(k2, [999, "x"]) for k2, _ in v.entries])
                     if isinstance(v, CborMap) else v)
                    for k, v in root.entries]
    return dumps(tree)


def _decode_case(name: str) -> bytes:
    what, _, arg = name.partition(":")
    value = {"true": True, "float": 1.0, "neg": -1, "one": 1}[arg]
    if what == "ctxkey":
        # key 1 is @context (plural); True / 1.0 / -1 are not
        return _swap_key(_credential_tree([CRED]), 1, value)
    if what == "subjkey":
        # a term id k and k.0 / True / -k in its place
        tree = _credential_tree(CRED)
        subject = next(v for _, v in tree.value.entries
                       if isinstance(v, CborMap))
        k = subject.entries[0][0]
        new = {"true": True, "float": float(k), "neg": -k, "one": k}[arg]
        subject.entries = [(new, v) for _, v in subject.entries]
        return dumps(tree)
    assert what == "typeval"
    return _add_type(_credential_tree(CRED, ["VerifiableCredential"]), value)


def _encode_doc(arg: str) -> dict:
    key = {"str": "issuer", "int": 1, "true": True, "float": 1.0,
           "none": None, "tuple": ("issuer",)}[arg]
    return {"@context": CRED, "type": "VerifiableCredential",
            key: "did:example:1",
            "credentialSubject": {"id": "did:example:456"}}


def _outcome(case: str):
    """What one case gives: output or error kind and text."""
    kind, _, arg = case.partition("/")
    try:
        if kind == "decode":
            return ["ok", decode_document(_decode_case(arg))]
        if kind == "expand":
            # the lenient walk drops keys that are not terms
            return ["ok", [t.key() for t in expand_to_triples(
                _encode_doc(arg))]]
        if kind == "encode":
            doc = _encode_doc(arg)
            cbor, sink = encode_with_triples(doc)
            return ["ok", encode_document(doc).hex(), cbor.hex(),
                    [list(c) for c in sink.columns], repr(sink.error)]
        assert kind == "loader"
        loader = StaticLoader(LOADERS[arg])
        doc = {"@context": URL, "@type": "T", "name": "https://x.example/1",
               "p": "v", "q": "w"}
        out = []
        for d in (doc, {k: v for k, v in doc.items() if k != "q"}):
            try:
                cbor, sink = encode_with_triples(d, loader=loader)
                out.append([cbor.hex(), decode_document(cbor, loader),
                            [list(c) for c in sink.columns]])
            except Exception as e:  # noqa: BLE001 — the outcome
                out.append([type(e).__name__, getattr(e, "kind", None),
                            str(e)])
        return ["ok", out]
    except Exception as e:  # noqa: BLE001 — the outcome
        return [type(e).__name__, getattr(e, "kind", None), str(e)]


DECODE = [f"decode/{w}:{a}" for w in ("ctxkey", "subjkey", "typeval")
          for a in ("one", "true", "float", "neg")]
ENCODE = [f"{k}/{a}" for k in ("encode", "expand")
          for a in ("str", "int", "true", "float", "none", "tuple")]
LOADER = ["loader/a", "loader/b"]
CASES = DECODE + ENCODE + LOADER


def _cold(cases: list[str]) -> list:
    """Each case's outcome in a fresh interpreter: no plan is warm."""
    here = os.path.dirname(os.path.abspath(__file__))
    out = []
    for case in cases:
        code = ("import json, sys; sys.path.insert(0, sys.argv[1]); "
                "import test_kernel_plans as t; "
                "print(json.dumps(t._outcome(sys.argv[2])))")
        res = subprocess.run([sys.executable, "-c", code, here, case],
                             capture_output=True, text=True, check=True,
                             cwd=os.path.dirname(here))
        out.append(json.loads(res.stdout.strip().splitlines()[-1]))
    return out


@pytest.fixture(scope="module")
def cold():
    return dict(zip(CASES, _cold(CASES)))


def _warm(case: str):
    return json.loads(json.dumps(_outcome(case)))


def test_warm_decode_matches_cold_for_lookalike_keys(cold):
    for what in ("ctxkey", "subjkey", "typeval"):
        # warm the plan for the shape with the exact key / value 1 ...
        assert _warm(f"decode/{what}:one") == cold[f"decode/{what}:one"]
        # ... then True, 1.0 and -1 in the same position
        for arg in ("true", "float", "neg", "one"):
            case = f"decode/{what}:{arg}"
            assert _warm(case) == cold[case], case
    assert cold["decode/ctxkey:one"][0] == cold["decode/subjkey:one"][0] \
        == "ok"
    assert cold["decode/typeval:one"][1] == "Codec"
    assert cold["decode/typeval:true"][1] == "InvalidValue"


def test_warm_encode_and_expand_match_cold_for_non_str_keys(cold):
    for case in ENCODE + ENCODE[::-1]:
        assert _warm(case) == cold[case], case
    assert cold["encode/str"][0] == "ok"
    assert {cold[f"encode/{a}"][1] for a in ("int", "true", "float", "none",
                                              "tuple")} == {"MissingIdFor"}
    # term order cannot sort a non-str key among str ones
    assert cold["expand/str"][0] == "ok"
    assert {cold[f"expand/{a}"][0] for a in ("int", "true", "float", "none",
                                              "tuple")} == {"TypeError"}


def test_loaders_resolving_one_url_differently(cold):
    for case in LOADER + LOADER[::-1]:
        assert _warm(case) == cold[case], case
    assert cold["loader/a"] != cold["loader/b"]


def test_state_trie_restarts_at_its_bound(monkeypatch):
    """Past ``MAX_EDGES`` the allocation-state trie starts afresh;
    outputs do not change."""
    from cbor_ld_spark.kernel import idalloc

    docs = [{"@context": CRED, "type": "VerifiableCredential",
             "issuer": f"did:example:{i}",
             "credentialSubject": {"id": "did:example:456"}}
            for i in range(3)]
    want = [encode_document(d) for d in docs]
    monkeypatch.setattr(idalloc, "MAX_EDGES", 1)
    roots = []
    for d, data in zip(docs, want):
        roots.append(idalloc.root())
        assert encode_document(d) == data
        assert decode_document(data) == d
    assert len({id(r) for r in roots}) > 1
