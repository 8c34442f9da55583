"""The kernel UDF without Spark: one Arrow batch through
``kg_process_batches``, and ``ok`` semantics that do not depend on
whether the triple columns are asked for."""

import hashlib
import json
from importlib import resources

import pyarrow as pa
import pytest

from cbor_ld_spark.functions.udfs import _process_one, kg_process_batches
from cbor_ld_spark.kernel import content_sha256, parse_json_document
from cbor_ld_spark.kernel.expand import expand_to_triples
from cbor_ld_spark.kernel.loader import StaticLoader
from perfbench.corpus import BAD_KINDS, generate

TRIPLE_COLS = ("t_subj", "t_pred", "t_obj", "t_is_iri", "t_dt", "t_lang",
               "t_graph")
# fixture samples the encoder quarantines
SAMPLE_KINDS = {"uncompressible": "InvalidContextEntry",
                "didKey": "LoadingDocumentFailed"}


def _batch_inputs():
    samples = resources.files("cbor_ld_spark") / "fixtures" / "samples"
    rows = [(p.name[:-len(".jsonld")], p.read_text(encoding="utf-8"))
            for p in sorted(samples.iterdir(), key=lambda p: p.name)
            if p.name.endswith(".jsonld")]
    bad = {}
    for r in generate(1, 400):
        if r.kind == "bad":
            bad.setdefault(r.label, r.content)
    assert set(bad) == set(BAD_KINDS)
    rows += sorted(bad.items())
    rows.append(("null", None))
    return rows


def _prefixed(label: str, prefix: str) -> str:
    return prefix + label[2:] if label.startswith("_:") else label


def test_kg_process_batches_without_spark():
    rows = _batch_inputs()
    contents = [c for _, c in rows]
    batch = pa.RecordBatch.from_arrays(
        [pa.array([hashlib.sha256(c.encode()).hexdigest() if c else None
                   for c in contents], pa.string()),
         pa.array(contents, pa.string())],
        names=["content_sha", "content"])
    (out,) = list(kg_process_batches()(iter([batch])))
    assert out.num_rows == len(rows)
    res = out.to_pylist()

    expected = {**SAMPLE_KINDS, **BAD_KINDS, "null": "InvalidContent"}
    for (name, content), r in zip(rows, res):
        assert r["content_sha"] == (hashlib.sha256(content.encode()).hexdigest()
                                    if content else None)
        if name in expected:
            assert (r["ok"], r["error_kind"]) == (False, expected[name]), name
            assert r["n_triples"] == 0
            assert all(r[c] is None for c in TRIPLE_COLS)
            continue
        assert r["ok"] and r["roundtrip_ok"], (name, r["error"])
        doc = parse_json_document(content)
        assert r["doc_sha"] == content_sha256(doc)
        prefix = f"_:{r['doc_sha'][:16]}_"
        triples = expand_to_triples(doc)
        assert r["n_triples"] == len(triples) > 0
        want = {
            "t_subj": [_prefixed(t.subj, prefix) for t in triples],
            "t_pred": [t.pred for t in triples],
            "t_obj": [_prefixed(t.obj, prefix) if t.obj_is_iri else t.obj
                      for t in triples],
            "t_is_iri": [t.obj_is_iri for t in triples],
            "t_dt": [t.obj_datatype for t in triples],
            "t_lang": [t.obj_lang for t in triples],
            "t_graph": [_prefixed(t.graph, prefix) for t in triples],
        }
        for c in TRIPLE_COLS:
            assert r[c] == want[c], (name, c)


_MAPS = StaticLoader({"https://ctx.example/maps": {"@context": {
    "name": "https://ex.org/name",
    "friends": {"@id": "https://ex.org/friends", "@container": "@id"},
    "byType": {"@id": "https://ex.org/byType", "@container": "@type"},
}}})


@pytest.mark.parametrize("prop,kind", [("friends", "InvalidIdMapValue"),
                                       ("byType", "InvalidTypeMapValue")])
def test_ok_covers_expansion_with_and_without_triples(monkeypatch, prop, kind):
    """A map container whose value maps a defined term to a string encodes
    and round-trips (the encoder reads the map as a node), but expansion
    rejects it: the kernel must say so whether or not it returns triples."""
    monkeypatch.setattr(StaticLoader, "default", staticmethod(lambda: _MAPS))
    content = json.dumps({"@context": "https://ctx.example/maps",
                          prop: {"name": "just-a-string"}})
    with_triples = _process_one(content, 1, True)
    without = _process_one(content, 1, False)
    assert with_triples == without
    doc_sha, ok, _error, error_kind, _json_len, cbor_len, roundtrip_ok = \
        with_triples[:7]
    assert (ok, error_kind) == (False, kind)
    assert cbor_len and roundtrip_ok
